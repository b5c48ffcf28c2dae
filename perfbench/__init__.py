"""Benchmark of the engine; the entry point is ``perfbench/run.py``."""
