"""Repository benchmark: seeded workloads, output checks, per-layer tracing."""
