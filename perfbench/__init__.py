"""Benchmark of spark_ensemble_spark; entry point ``perfbench/run.py``."""
