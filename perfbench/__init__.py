"""Engine benchmark: two seeded workloads over the package's public API,
with output checks against the repo's oracles and a traced per-layer run.
Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` (see perfbench/README.md)."""
