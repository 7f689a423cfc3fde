"""Benchmark for the shredder_spark engine; entry point: ``perfbench/run.py``."""
