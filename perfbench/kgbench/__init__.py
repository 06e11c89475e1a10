"""Benchmark harness for the cartography_spark engine (see ../README.md)."""
