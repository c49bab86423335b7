"""Benchmark of the ETL engine: see README.md in this directory."""
