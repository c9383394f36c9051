"""Benchmark for report_worker_spark; run ``python3 perfbench/run.py --help``."""
