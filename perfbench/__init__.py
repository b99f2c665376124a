"""Repository benchmark: seeded workloads, output checks and outside-in
per-layer collectors. Entry point: ``perfbench/run.py``."""
