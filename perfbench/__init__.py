"""sayn-spark benchmark: seeded workloads, output checks, end-to-end and
per-layer metrics.  Entry point: ``python3 perfbench/run.py``."""
