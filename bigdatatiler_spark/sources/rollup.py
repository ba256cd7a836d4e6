"""Hourly rollup state.

The reference is an append-only log store (LogChange.cs:99-342 — documents
are inserted, never aggregated in place). At 100 TB an events table is
unqueryable raw for dashboard-class questions; the warehouse-native answer
is a *materialized rollup* (TimescaleDB's continuous aggregates, Druid
rollup segments): a small pre-aggregated table keyed by (time bucket,
dimension).

- **Rollup state is re-mergeable.** ``hourly_rollup`` emits only integer
  partial aggregates (count; exact DECIMAL cents, not float sums), so
  ``re-aggregate(old ∪ delta)`` is associative and exact — no "average
  of averages" class of bug. The registered ``events_hourly_rollup``
  query is that state, oracle-checked against raw events.

The row-level MERGE kernel is ``operators.sqlsurface.merge_upsert`` (the
``orders_merge_upsert`` query).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def hourly_rollup(events: DataFrame) -> DataFrame:
    """(hour bucket, event_type) rollup with re-mergeable integer measures.

    ``bucket_ms`` is the epoch-ms hour start (never a raw timestamp —
    registry determinism rules); ``value_cents`` sums exact DECIMAL(18,2)
    cents as BIGINT. One shuffle, with map-side partial aggregation.
    """
    return events.select(
        (F.unix_millis(F.date_trunc("hour", F.col("ts")))).alias("bucket_ms"),
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    ).groupBy("bucket_ms", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").alias("value_cents"),
    )


def _register_queries() -> None:
    from ..registry import register
    from ..tables import table

    @register(
        "events_hourly_rollup",
        oracle="""
        SELECT
          epoch_ms(date_trunc('milliseconds', date_trunc('hour', ts))) AS bucket_ms,
          event_type,
          count(*) AS n_events,
          CAST(sum(CAST(TRY_CAST(CASE WHEN (isfinite(value) AND abs(value) < 1e16) THEN value END AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
            AS value_cents
        FROM events
        GROUP BY 1, 2
        """,
    )
    def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The materialized-rollup state as a query: (hour, event_type)
        buckets with all-integer re-mergeable measures; the oracle
        recomputes it from raw events independently."""
        return hourly_rollup(table(spark, sf_dir, "events"))


_register_queries()
