#!/usr/bin/env python3
"""Engine benchmark driver: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload mosaic_rank --seed 1 --seconds 14 --trace 0

Runs from the root of a checkout of this repository at local[<cores - 1>]
from a single driver process: the one core left over runs the driver,
the oracle checks and the JVM's GC and JIT threads, so they do not queue
behind the task threads. Set-up is session start, three builds of the
input table (setup_s counts their median) and checked warm-up operations;
between session start and the builds, the oracle's expected outputs are
computed from the seed (not counted in setup_s).
Every operation in the measured window is then checked against the oracles
after its timed region. The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before it
is {"info": ...}: core count, same-window box_mops and host steal share,
sample counts and the per-kind latencies. Everything the run writes goes to
.perfbench_work/ in the checkout, a traced run's spans and self-time table
included (.perfbench_work/artifacts/).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time
import traceback
from collections import Counter
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_ROUNDS = 3
DRIVER_MEM = "2g"

END_TO_END = {"setup_s": "s", "pages_per_s": "1/s", "task_peak_memory_mb": "MB",
              "ok_ratio": "ratio"}
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "pages.scan_rows": "count", "pages.scan_bytes": "B", "pages.scan_ms": "ms",
    "pages.geocode_ms": "ms", "pages.geocode_hit_ratio": "ratio",
    "pages.rows_scanned_per_row_returned": "ratio",
    "tile_grid.assign_ms": "ms", "scoring.score_ms": "ms", "scoring.pass_ratio": "ratio",
    "rank.shuffle_write_bytes": "B", "rank.shuffle_records": "count", "rank.sort_ms": "ms",
    "rank.spill_bytes": "B", "rank.fetch_wait_ms": "ms", "rank.task_skew": "ratio",
    "spatial_join.candidates": "count", "spatial_join.matches": "count",
    "spatial_join.refine_ratio": "ratio", "spatial_join.python_bytes_out": "B",
    "spatial_join.python_bytes_in": "B", "spatial_join.refine_ms": "ms",
    "geom.pip_ns_per_point_edge": "ns",
    "cutline.groups": "count", "cutline.max_group_rows": "count",
    "cutline.selected_ratio": "ratio", "cutline.stage_ms": "ms", "cutline.task_skew": "ratio",
    "cutline.hot_group_kernel_ms": "ms",
    "sinks.files_written": "count", "sinks.bytes_written": "B", "sinks.bytes_per_tile": "B",
    "sinks.write_ms": "ms",
    "knn.rounds": "count", "knn.jobs": "count", "knn.probe_rows": "count",
    "knn.rows_scanned": "count", "knn.collect_rows": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_failures": "count", "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms", "spark.gc_ms": "ms", "spark.driver_gap_ms": "ms",
    "trace.overhead_ratio": "ratio",
}


@dataclass
class Ctx:
    spark: object
    tracer: object
    seed: int
    work: str
    threads: int  # Spark task threads
    corrupt: bool


def start_session(threads: int, work: str):
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    from imagery_utils_spark.session import get_spark

    spark = get_spark(
        master=f"local[{threads}]", app_name="perfbench", shuffle_partitions=4 * threads,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            # no hsperfdata file outside the checkout
            "spark.driver.extraJavaOptions": "-XX:-UsePerfData "
                                             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until its JVM (and the Python workers it forked)
    have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its parent's pipe closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def percentile(values, q: float) -> float:
    """Nearest-rank percentile, q in 0..100."""
    if not values:
        return 0.0
    s = sorted(values)
    return s[max(0, math.ceil(len(s) * q / 100.0) - 1)]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def run_op(wl, tracer, i: int, traced: bool) -> dict:
    """Operation i, timed, then checked outside its timed region."""
    kind = wl.kind_of(i)
    tracer.enabled = traced
    rec = {"kind": kind, "traced": traced, "returned": 0, "stats": {},
           "output": (0, 0, 0, 0), "error": None}
    t0, span = time.perf_counter(), None
    try:
        with tracer.span(f"op.{kind}") as span:
            _kind, out = wl.run(i)
    except Exception as e:  # counted as a failed operation
        out, rec["error"] = None, f"{type(e).__name__}: {e}"[:300]
    rec["wall"] = time.perf_counter() - t0
    rec["span"] = span
    tracer.enabled = False
    if out is not None:
        try:
            rec.update(wl.describe(kind, out))
            rec["error"] = wl.check(kind, out)
        except Exception as e:
            rec["error"] = f"check {type(e).__name__}: {e}"[:300]
    return rec


def measure(wl, tracer, seconds: float, trace: bool) -> list[dict]:
    """Closed loop, one client: operation i starts when i-1 has been checked.
    With tracing, odd operations are traced and even ones are not; the
    workload's probe operations follow, traced."""
    ops, i = [], 0
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline:
        ops.append(run_op(wl, tracer, i, trace and i % 2 == 1))
        i += 1
    if trace:
        ops += [run_op(wl, tracer, j, True) for j in wl.probe_ops()]
    return ops


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test: corrupt every result before it is checked")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "imagery_utils_spark")):
        print(f"perfbench: no imagery_utils_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import trace as T
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    threads = max(1, cores - 1)
    work = os.path.join(ROOT, ".perfbench_work", args.workload)

    t0 = time.perf_counter()
    spark = start_session(threads, work)
    start_s = time.perf_counter() - t0
    tracer = T.Tracer(spark, enabled=False)
    wl = WORKLOADS[args.workload](Ctx(spark, tracer, args.seed, work, threads, args.corrupt))

    t0 = time.perf_counter()
    failures = []
    try:
        wl.prepare()
    except Exception as e:  # every check then fails, and says why
        traceback.print_exc(file=sys.stderr)
        failures.append(f"oracle {type(e).__name__}: {e}"[:300])
    oracle_s = time.perf_counter() - t0
    builds = []
    for _ in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        try:
            wl.build_input()
        except Exception as e:
            traceback.print_exc(file=sys.stderr)
            failures.append(f"input {type(e).__name__}: {e}"[:300])
        builds.append(time.perf_counter() - t0)
    setup_failures = len(failures)  # a failed set-up step counts as one failed attempt
    t0 = time.perf_counter()
    failures += wl.warm_up()
    warmup_s = time.perf_counter() - t0

    steal0, total0 = cpu_ticks()
    window_start = time.time()
    ops = measure(wl, tracer, args.seconds, bool(args.trace))
    steal1, total1 = cpu_ticks()
    rss = jvm_peak_rss_mb(spark)
    task_memory = max((st["task_max_exec_memory"] for st in T.stages_since(spark, window_start)),
                      default=0.0) / 2 ** 20

    failures += [o["error"] for o in ops if o["error"]]
    attempted = setup_failures + len(wl.warmup_ops()) + len(ops)
    walls = {k: [o["wall"] * 1000.0 for o in ops if o["kind"] == k] for k in {o["kind"] for o in ops}}
    measured = [o["wall"] for o in ops if not o["traced"] and o["kind"] == wl.primary]
    end_to_end = {
        "setup_s": start_s + statistics.median(builds) + warmup_s,
        "pages_per_s": wl.n_pages / statistics.median(measured) if measured else 0.0,
        "task_peak_memory_mb": task_memory,
        "ok_ratio": (attempted - len(failures)) / attempted,
    }

    layers = {"session.start_s": start_s, "session.warmup_s": warmup_s}
    if args.trace:
        traced_layers(wl, tracer, ops, layers)
    stop_session(spark)

    from scaling_bench import cpu_calibration

    info = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "spark_threads": threads,
        "box_mops_same_window": cpu_calibration(threads, n=3_000_000),
        "host_steal_share": round((steal1 - steal0) / max(1, total1 - total0), 4),
        "jvm_peak_rss_mb": round(rss, 1),
        "input": "built", "input_pages": wl.n_pages, "trace": args.trace,
        "oracle_s": round(oracle_s, 4),
        "input_build_s": [round(w, 4) for w in builds], "warmup_s": round(warmup_s, 4),
        "ops": {k: len(v) for k, v in walls.items()},
        "failed_ratio": len(failures) / attempted,
        "failure_kinds": dict(Counter(f.split(":")[0] for f in failures)),
        "failures": failures[:3],
    }
    for kind, values in walls.items():
        info[f"{kind}_p50_ms"] = percentile(values, 50)
        info[f"{kind}_p90_ms"] = percentile(values, 90)
        info[f"{kind}_walls_ms"] = [round(v, 1) for v in values]
    print(json.dumps({"info": info}), flush=True)

    names = PER_LAYER if args.trace else END_TO_END
    values = layers if args.trace else end_to_end
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": len(failures),
        "metrics": {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in names.items()},
    }), flush=True)
    return 0


def traced_layers(wl, tracer, ops, layers: dict) -> None:
    """Adds the per-layer metrics of the traced operations, and the prefix
    and kernel profiles, to ``layers``; writes the spans and the self-time
    table as artifacts."""
    from perfbench import trace as T

    traced = [o for o in ops if o["traced"] and o["span"] is not None]
    prim_t = [o["wall"] for o in ops if o["traced"] and o["kind"] == wl.primary]
    prim_u = [o["wall"] for o in ops if not o["traced"] and o["kind"] == wl.primary]
    overhead = (statistics.median(prim_t) / statistics.median(prim_u)
                if prim_t and prim_u else 0.0)
    view = tracer.spark_view()
    layers.update(wl.layer_metrics(traced, view, tracer.spans))
    layers.update(wl.prefix_profile())
    layers.update(wl.kernel_profile())
    layers["trace.overhead_ratio"] = overhead
    spans = tracer.spans + T.spark_spans(tracer.spans, view)
    out_dir = os.path.join(ROOT, ".perfbench_work", "artifacts")
    os.makedirs(out_dir, exist_ok=True)
    T.write_artifacts(os.path.join(out_dir, wl.name), wl.name, spans, T.self_times(spans),
                      overhead, {k: layers.get(k, 0.0) for k in PER_LAYER})


if __name__ == "__main__":
    sys.exit(main())
