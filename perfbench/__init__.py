"""Benchmark harness for the retrieval engine (see README.md)."""
