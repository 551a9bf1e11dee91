"""Benchmark of the streaming analytics engine: see README.md."""
