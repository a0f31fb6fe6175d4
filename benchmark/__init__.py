"""Standalone benchmark for chimp_spark; entry point: ``benchmark/run.py``."""
