"""Benchmark of record for corhist_spark (see README.md)."""
