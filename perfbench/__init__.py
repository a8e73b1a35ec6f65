"""Workload benchmark for skills_vectors_spark (see README.md)."""
