"""Benchmark for the engine: seeded workloads, end-to-end and per-layer metrics."""
