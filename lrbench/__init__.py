"""Benchmark of the logrange_spark serving, ingest and batch paths; see README.md."""
