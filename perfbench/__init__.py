"""Benchmark of the virapipe_spark engine; entry point ``perfbench/run.py``."""
