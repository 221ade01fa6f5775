"""Benchmark of the CDC engine and the registry queries; see run.py."""
