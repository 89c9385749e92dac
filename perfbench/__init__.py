"""Benchmark of the spark-beta request path; see README.md."""
