"""Standalone benchmark for etl_job_spark (see perfbench/run.py)."""
