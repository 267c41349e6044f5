"""Repository benchmark: seeded workloads, reference checks, tracing."""
