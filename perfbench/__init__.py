"""Benchmark of the quarkus_etl_spark engine; see README.md in this directory."""
