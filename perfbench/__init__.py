"""Engine benchmark: seeded workloads, end-to-end metrics and a per-layer
traced run. Entry point: ``python3 perfbench/run.py``."""
