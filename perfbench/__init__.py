"""Benchmark of memfuse_spark (see README.md)."""
