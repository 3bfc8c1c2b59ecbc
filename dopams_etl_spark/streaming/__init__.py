"""Structured Streaming incremental-ingest wrappers (SURVEY §2.9 / §7.3
step 7 — the streaming surface the reference's batch chunking implies)."""

from dopams_etl_spark.streaming.incremental import (
    read_stream_parquet,
    stateful_sessionize,
    stream_dedup,
    stream_append_once,
    stream_stream_interval_join,
    stream_upsert_parquet,
    windowed_event_counts,
)

__all__ = [
    "read_stream_parquet",
    "stateful_sessionize",
    "stream_dedup",
    "stream_append_once",
    "stream_stream_interval_join",
    "stream_upsert_parquet",
    "windowed_event_counts",
]
