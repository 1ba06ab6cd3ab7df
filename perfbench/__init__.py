"""Benchmark of the KG engine: seeded workloads, end-to-end and per-layer metrics."""
