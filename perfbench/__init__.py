"""Benchmark for the big_data_processing_spark engine (see run.py)."""
