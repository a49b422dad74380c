"""Benchmark of the bern_spark ER pipeline; entry point: perfbench/run.py."""
