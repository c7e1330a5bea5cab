"""Engine benchmark: seeded workloads, oracle-checked, measured end to end
and per layer from outside the engine.  Entry point: ``perfbench/run.py``."""
