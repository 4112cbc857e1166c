"""Benchmark of the KG build and the library operators (see README.md)."""
