"""Benchmark harness for the epicsarchiver_spark engine (see README.md)."""
