"""Benchmark of the simple_tsdb_spark engine; see README.md."""
