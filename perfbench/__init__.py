"""Benchmark of the anomaly-detection engine; run ``perfbench/run.py``."""
