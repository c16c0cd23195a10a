"""Benchmark of the engine's read, ingest and batch paths (see README.md)."""
