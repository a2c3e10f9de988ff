"""Layered benchmark for pipes_spark: two seeded workloads, end-to-end
metrics from untraced runs and per-layer metrics from traced runs.

Run from the repository root: ``python3 perfbench/run.py --workload NAME
--seed N --seconds S --trace 0|1``. See ``perfbench/README.md``."""
