"""Benchmark for the spark-tiles engine (see run.py)."""
