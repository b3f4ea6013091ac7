#!/usr/bin/env python3
"""Self-test of the benchmark's output checks.

    python3 perfbench/selftest.py [--seconds 3]

Runs the workloads with ``--corrupt``, which corrupts each result before it
is checked: mosaic_rank swaps tile_rank 1 and 2 in every tile, its traced
kNN probes drop the last neighbour, and mosaic_build drops one contributor
from the hot tile's manifest. Passes when every operation of every run is
counted as failed, for the expected reason, and the result line still names
every metric (end-to-end untraced, per-layer traced).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
RUNS = [("mosaic_rank", 0, ["rank fingerprint"]),
        ("mosaic_rank", 1, ["rank fingerprint", "knn"]),
        ("mosaic_build", 0, ["manifests"])]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seconds", type=float, default=3)
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args()
    sys.path.insert(0, os.path.dirname(HERE))
    from perfbench.run import END_TO_END, PER_LAYER

    ok = True
    for workload, trace, reasons in RUNS:
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace),
             "--corrupt"], capture_output=True, text=True, timeout=300)
        lines = proc.stdout.strip().splitlines()
        info, result = json.loads(lines[-2])["info"], json.loads(lines[-1])
        problems = []
        if proc.returncode != 0:
            problems.append(f"exit code {proc.returncode}")
        if result["correct"] or result["failed"] != result["attempted"]:
            problems.append(f"{result['failed']} of {result['attempted']} operations failed")
        if set(result["metrics"]) != set(PER_LAYER if trace else END_TO_END):
            problems.append(f"metrics {sorted(result['metrics'])}")
        if not trace and result["metrics"]["ok_ratio"]["value"] != 0.0:
            problems.append("ok_ratio is not 0")
        if info["failed_ratio"] != 1.0:
            problems.append(f"failed_ratio is {info['failed_ratio']}")
        for reason in reasons:
            if not any(k.startswith(reason) for k in info["failure_kinds"]):
                problems.append(f"no '{reason}' failure among {info['failure_kinds']}")
        ok &= not problems
        print(f"{workload} --trace {trace}: {'ok' if not problems else '; '.join(problems)} "
              f"({result['failed']}/{result['attempted']} failed: {info['failure_kinds']})",
              flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
