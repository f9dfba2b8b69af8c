"""Repository benchmark: seeded, checked workloads over the engine's
public layers. Entry point: ``python3 perfbench/run.py``."""
