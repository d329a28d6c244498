"""Benchmark for rayforce_spark: see README.md."""
