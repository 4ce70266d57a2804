"""Benchmark for automatedreclin_spark; run it as ``python3 perfbench/run.py``."""
