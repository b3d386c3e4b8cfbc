"""Benchmark of the flight-session engine; entry point ``perfbench/run.py``."""
