"""Benchmark of the product warehouse engine; see README.md."""
