"""frolyk_spark benchmark: three closed-loop workloads, see ``run.py``."""
