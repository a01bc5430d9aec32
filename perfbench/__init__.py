"""Benchmark of the CDC -> warehouse -> analytics engine (see README.md)."""
