"""Standing benchmark of iceberg_catalog_bench_spark: see run.py."""
