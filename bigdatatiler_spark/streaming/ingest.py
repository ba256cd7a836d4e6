"""Structured Streaming variant of the ingest/query path (SURVEY.md §2.10).

The reference is request/response, but its usage pattern — append-only
event log, query recent windows per user — is exactly the streaming-sink
shape. This module provides:

- ``stream_events``: file-source stream over an events-shaped directory
  (schema-pinned; at scale this is the landing-zone pattern — parquet
  files dropped by an upstream writer, exactly-once via file tracking);
- shared window transformations that run identically on batch and
  streaming frames (the batch run is oracle-checked in operators/windows,
  the streaming run is integration-tested with availableNow triggers).

Watermark discipline: every stateful op bounds its state with
``withWatermark`` — unbounded state is the streaming analog of a
driver-side collect and will OOM a real cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENTS_STREAM_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def stream_events(
    spark: SparkSession, path: str, watermark: str = "1 hour"
) -> DataFrame:
    """File-source stream with event-time watermark."""
    return (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .parquet(path)
        .withWatermark("ts", watermark)
    )


def tumbling_counts(events: DataFrame, size: str = "1 hour") -> DataFrame:
    """Tumbling-window counts per event type — works on batch AND stream
    (same logical plan; streaming adds watermark-driven state eviction).

    NULL event times belong to no window: F.window already drops them,
    and the explicit filter makes that contract visible (fuzz round 6 —
    the DuckDB oracles must carry the same WHERE ts IS NOT NULL, since
    date_trunc(NULL) would otherwise keep a NULL-window group)."""
    return (
        events.where(F.col("ts").isNotNull())
        .groupBy(F.window("ts", size).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2).alias(
                "total_value"
            ),
        )
        .select(
            F.unix_millis(F.col("w.start")).alias("window_start_ms"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_counts(events: DataFrame, size: str = "1 hour", slide: str = "15 minutes") -> DataFrame:
    """Sliding-window variant (each event lands in size/slide windows).
    NULL event times excluded — see tumbling_counts."""
    return (
        events.where(F.col("ts").isNotNull())
        .groupBy(F.window("ts", size, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_millis(F.col("w.start")).alias("window_start_ms"),
            F.unix_millis(F.col("w.end")).alias("window_end_ms"),
            "event_type",
            "n_events",
        )
    )


def session_windows(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user: activity bursts separated by > gap.
    NULL event times excluded — see tumbling_counts."""
    return (
        events.where(F.col("ts").isNotNull())
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_millis(F.col("w.start")).alias("session_start_ms"),
            F.unix_millis(F.col("w.end")).alias("session_end_ms"),
            "n_events",
        )
    )
