"""Benchmark of the etl_tiki_webscraping_spark package: seeded workloads,
output checks, and a traced run that reports per-layer metrics.  Entry
point: ``python3 perfbench/run.py --help``."""
