"""Lakehouse benchmark: seeded workloads, output checks and per-layer traces."""
