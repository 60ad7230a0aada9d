"""Benchmark of the extraction and stats jobs; see README.md."""
