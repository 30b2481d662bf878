"""End-to-end benchmark of the optimizing_spark engine (see run.py)."""
