#!/usr/bin/env python3
"""Run one workload over several seeds and report each end-to-end metric's
median and quartile spread (IQR over median, ``statistics.quantiles(n=4)``).

    python3 perfbench/repeat.py --workload mosaic_rank --seeds 1-10 --seconds 14 \\
        [--out .perfbench_work/steadiness_mosaic_rank.md]

Runs are sequential, one driver process each.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds_arg(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, required=True, help="e.g. 1-10 or 3,7,9")
    ap.add_argument("--seconds", type=float, default=14)
    ap.add_argument("--out")
    args = ap.parse_args()
    rows, values = [], {}
    for seed in args.seeds:
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
            capture_output=True, text=True, timeout=600)
        lines = proc.stdout.strip().splitlines()
        info, result = json.loads(lines[-2])["info"], json.loads(lines[-1])
        metrics = {k: v["value"] for k, v in result["metrics"].items()}
        for k, v in metrics.items():
            values.setdefault(k, []).append(v)
        rows.append((seed, result, info, metrics))
        print(seed, result["correct"], f"{result['failed']}/{result['attempted']} failed",
              {k: round(v, 2) for k, v in metrics.items()},
              "box_mops", info["box_mops_same_window"],
              {k: v for k, v in info.items() if k.endswith("_walls_ms")}, flush=True)
    names = list(values)
    lines = [f"# {args.workload}: {len(rows)} seeds, {args.seconds:g} s each", "",
             "| seed | correct | failed/attempted | box_mops | " + " | ".join(names) + " |",
             "|---" * (len(names) + 4) + "|"]
    for seed, result, info, metrics in rows:
        lines.append(f"| {seed} | {result['correct']} | {result['failed']}/{result['attempted']} "
                     f"| {info['box_mops_same_window']} | "
                     + " | ".join(f"{metrics[k]:.4g}" for k in names) + " |")
    lines += ["", "| metric | median | IQR / median |", "|---|---:|---:|"]
    for k in names:
        v = values[k]
        med = statistics.median(v)
        q = statistics.quantiles(v, n=4) if len(v) > 1 else [med, med, med]
        lines.append(f"| {k} | {med:.6g} | {(q[2] - q[0]) / med if med else 0.0:.4f} |")
    text = "\n".join(lines) + "\n"
    print(text)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text)
    return 0 if all(r[1]["correct"] for r in rows) else 1


if __name__ == "__main__":
    sys.exit(main())
