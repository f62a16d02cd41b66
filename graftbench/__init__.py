"""Benchmark for the pcap_to_parquet_spark engine; run ``python3 graftbench/run.py --help``."""
