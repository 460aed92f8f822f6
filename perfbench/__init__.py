"""The engine's benchmark: four workloads, end-to-end and per-layer
metrics, measured from outside the engine.  Entry point: ``run.py``."""
