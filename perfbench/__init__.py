"""Benchmark of the engine: seeded inputs, oracle-checked workloads and
per-layer counters.  Run ``python3 perfbench/run.py --help``."""
