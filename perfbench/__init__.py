"""Benchmark of the multi-table CDC engine: see README.md."""
