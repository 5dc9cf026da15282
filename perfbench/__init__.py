"""spark-tin benchmark (see run.py)."""
