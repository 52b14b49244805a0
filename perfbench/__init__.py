"""Benchmark of the usls_doc_spark pipelines; entry point: run.py."""
