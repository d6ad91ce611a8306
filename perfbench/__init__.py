"""Benchmark of record for the LLM x MapReduce pipelines (see run.py)."""
