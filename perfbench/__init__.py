"""Benchmark of the streaming_etl_pipeline_spark engine; see run.py."""
