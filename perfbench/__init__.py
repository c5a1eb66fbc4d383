"""Benchmark for the BM25 engine and the analytics registry (see README.md)."""
