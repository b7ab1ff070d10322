"""Benchmark for rastercube_spark; run it with ``python3 perfbench/run.py``."""
