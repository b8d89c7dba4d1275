"""Benchmark of the extraction pipeline and analytics queries; see README.md."""
