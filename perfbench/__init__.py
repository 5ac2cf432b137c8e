"""Benchmark for the mapreducepy_spark engine (see README.md)."""
