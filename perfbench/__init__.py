"""Benchmark for ela_lib_spark; see README.md."""
