"""Engine benchmark for pdfsearch_spark (entry point: perfbench/run.py)."""
