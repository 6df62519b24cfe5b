"""Repository benchmark: seeded workloads driven through the engine's public
API, with end-to-end and per-layer metrics (see perfbench/README.md)."""
