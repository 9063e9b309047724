"""nekton_spark benchmark package; the entry point is ``perfbench/run.py``."""
