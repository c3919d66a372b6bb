"""fabrix_spark benchmark: see run.py."""
