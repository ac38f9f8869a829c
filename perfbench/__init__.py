"""Benchmark harness for the engine: see run.py."""
