"""Structured Streaming analogs of the batch operators (windowed counts,
within-watermark dedup, session windows, foreachBatch CDC and cube-merge
sinks)."""

from datawarehousefinal_spark.streaming.pipeline import (  # noqa: F401
    read_parquet_stream,
    run_to_memory,
    streaming_dedup,
    windowed_event_counts,
)
