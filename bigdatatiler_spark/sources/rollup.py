"""Hourly rollup state and partition-scoped MERGE/upsert.

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
- **MERGE is partition-scoped.** Upserts join the update set against only
  the target partitions it can touch; untouched partitions are never
  read or rewritten.

Spark has no built-in MERGE INTO for plain parquet (that's a table-format
feature — Delta/Iceberg); ``merge_upsert`` is the same copy-on-write
algorithm those formats run, expressed on partition directories.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .io import DEFAULT_COMPRESSION


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


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: tuple[str, ...],
    partition_col: str | None = None,
) -> None:
    """MERGE INTO target USING updates — update matched keys, insert new.

    This is the STORAGE side of MERGE (partition-scoped copy-on-write
    rewrite, whole-row replacement); the row-level kernel with
    per-column update sets and an action audit is
    ``operators.sqlsurface.merge_upsert`` / the orders_merge_upsert
    query. Copy-on-write: rows whose key appears in ``updates`` are replaced
    (left-anti join keeps the rest), then the union is written back. With
    ``partition_col`` the whole operation is scoped to the partitions the
    update set touches — the partition-pruned read plus dynamic overwrite
    keep a 10-row upsert into a 100 TB table proportional to the touched
    partitions, not the table.
    """
    if not keys:
        raise ValueError("merge_upsert requires at least one key column")
    target = spark.read.parquet(target_path)
    if partition_col is not None:
        parts = sorted(
            str(r[0]) for r in updates.select(partition_col).distinct().collect()
        )
        target = target.filter(F.col(partition_col).isin(parts))
    kept = target.join(F.broadcast(updates.select(*keys).distinct()), list(keys), "left_anti")
    merged = kept.unionByName(updates.select(*target.columns))
    prior = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        w = merged.write.mode("overwrite").option("compression", DEFAULT_COMPRESSION)
        if partition_col is not None:
            w = w.partitionBy(partition_col)
        w.parquet(target_path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prior)


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
