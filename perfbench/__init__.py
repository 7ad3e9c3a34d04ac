"""Benchmark of the cube builder; entry point ``perfbench/run.py``."""
