"""Structured Streaming layer (reference §2.10 semantics, real streaming)."""

from commercepulse_data_pipeline_spark.streaming.ingest import (
    read_event_stream,
)

__all__ = [
    "read_event_stream",
]
