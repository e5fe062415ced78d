"""Benchmark of the CRM pipeline; entry point ``perfbench/run.py``."""
