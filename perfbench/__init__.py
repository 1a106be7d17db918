"""Benchmark of the CDC engine; run it with ``python3 perfbench/run.py``."""
