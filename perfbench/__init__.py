"""Benchmark for cassandra_util_spark; see perfbench/README.md."""
