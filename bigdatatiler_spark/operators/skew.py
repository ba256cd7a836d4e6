"""Skew mitigation: salting for hot keys, two-phase aggregation.

The reference's data model hash-partitions everything by UserId
(BigDataLogControl.cs:24) — one hyperactive user = one hot Cosmos
partition, and the identical concern lands on the shuffle key in Spark
(SURVEY.md §7 "hard parts" (d)). Two standard counters, both pure
DataFrame algebra:

- **Two-phase salted aggregation**: partial-aggregate on (key, salt) —
  the hot key's rows spread over N_SALT reducers — then re-aggregate on
  key. Works for any algebraic aggregate (sum/count/min/max; avg as
  sum+count). AQE's skew handling covers *joins*; aggregation skew still
  needs this.
- **Salted join**: replicate the small side N_SALT× (explode), salt the
  big side's key deterministically, join on (key, salt). Spark's AQE
  skew-join split usually makes this unnecessary — reach for it when a
  single key exceeds what one task can hold even after AQE splits.

The salt must be *deterministic per row* (crc32 of a distinguishing
column, never rand()) or retries/speculative tasks produce different
routes at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..registry import register
from ..tables import table

N_SALT = 8


def salt_col(distinguisher: str | Column, n: int = N_SALT) -> Column:
    """Deterministic salt in [0, n) from a per-row distinguishing column
    (an id, a timestamp — anything spread within the hot key)."""
    c = F.col(distinguisher) if isinstance(distinguisher, str) else distinguisher
    return F.pmod(F.crc32(c.cast("string")), F.lit(n)).cast("int")


def salted_sum_count(
    df: DataFrame,
    key: str,
    distinguisher: str,
    agg_cols: dict[str, Column],
    n: int = N_SALT,
) -> DataFrame:
    """Two-phase skew-safe aggregation of algebraic aggregates.

    ``agg_cols`` maps output name → phase-1 aggregate expression; phase 2
    re-combines with the matching algebraic merge (sum of sums, sum of
    counts, min of mins, max of maxes — inferred from the expression's
    name prefix in the caller's column alias: sum_*/cnt_*/min_*/max_*).
    """
    phase1 = df.withColumn("_salt", salt_col(distinguisher, n)).groupBy(
        key, "_salt"
    )
    p1 = phase1.agg(*[expr.alias(name) for name, expr in agg_cols.items()])
    merges = []
    for name in agg_cols:
        if name.startswith(("sum_", "cnt_", "n_")):
            merges.append(F.sum(name).alias(name))
        elif name.startswith("min_"):
            merges.append(F.min(name).alias(name))
        elif name.startswith("max_"):
            merges.append(F.max(name).alias(name))
        else:
            raise ValueError(
                f"agg column {name!r} needs a sum_/cnt_/n_/min_/max_ prefix "
                "so the phase-2 merge is well-defined"
            )
    return p1.groupBy(key).agg(*merges)


@register(
    "skew_salted_user_activity",
    oracle="""
    SELECT
      user_id,
      count(*) AS n_events,
      CAST(round(sum(TRY_CAST(CASE WHEN (isfinite(value) AND abs(value) < 1e16) THEN value END AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value,
      min(epoch_ms(date_trunc('milliseconds', ts))) AS min_ts_ms,
      max(epoch_ms(date_trunc('milliseconds', ts))) AS max_ts_ms
    FROM events
    GROUP BY user_id
    """,
)
def skew_salted_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity rollup via two-phase salted aggregation —
    result-identical to the plain GROUP BY (the oracle *is* the plain
    GROUP BY), but a user holding 10% of a 100 TB events table spreads
    over N_SALT reducers in phase 1 instead of stalling one. Decimal sums
    make the two-phase recombination exact (float sums would reorder)."""
    ev = table(spark, sf_dir, "events")
    return salted_sum_count(
        ev,
        key="user_id",
        distinguisher="event_id",
        agg_cols={
            "n_events": F.count("*"),
            "sum_value": F.sum(F.col("value").cast("decimal(18,2)")),
            "min_ts_ms": F.min(F.unix_millis(F.col("ts").cast("timestamp"))),
            "max_ts_ms": F.max(F.unix_millis(F.col("ts").cast("timestamp"))),
        },
    ).select(
        "user_id",
        "n_events",
        F.round(F.col("sum_value"), 2).cast("double").alias("sum_value"),
        "min_ts_ms",
        "max_ts_ms",
    )
