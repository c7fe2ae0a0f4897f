"""Benchmark of the kafka_stream_job_spark engine (see run.py)."""
