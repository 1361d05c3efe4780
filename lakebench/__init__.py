"""Benchmark for the spark-graft engine; see README.md in this directory."""
