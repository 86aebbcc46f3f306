"""Benchmark of finanalyzer_spark; entry point ``perfbench/run.py``."""
