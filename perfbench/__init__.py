"""The repository benchmark: workloads, tracing and checks (``run.py``)."""
