"""Structured Streaming: incremental ingest + windowed aggregation."""

from admira_etl_project_prueba_spark.streaming.ingest import (  # noqa: F401
    stream_envelopes,
    windowed_event_counts,
)
