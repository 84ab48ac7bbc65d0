"""Service benchmark (see run.py)."""
