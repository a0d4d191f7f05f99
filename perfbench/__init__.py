"""Benchmark of the banking stream engine: seeded workloads, oracle
checks, and traced per-layer metrics.  Entry point: ``perfbench/run.py``."""
