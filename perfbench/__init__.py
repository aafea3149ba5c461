"""Benchmark of the dint_spark engine; entry point perfbench/run.py."""
