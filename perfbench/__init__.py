"""Benchmark for the vector + graph engine; entry point is ``run.py``."""
