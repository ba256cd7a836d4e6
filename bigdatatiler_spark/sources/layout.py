"""Physical data layout: the Z-order (Morton) clustering key.

The reference's only layout policy is the 1.5 MB per-document cap
(LogChange.cs:23-24) — a single-node store doesn't need more. A 100 TB
parquet table queried by two independent predicates (user and time, the
reference's two query axes) also needs a sort key that keeps parquet's
per-file min/max stats narrow on BOTH columns. ``zorder_key`` is that
key; the registered ``events_zorder_key`` query computes it per event and
is oracle-checked like any other operator.
"""

from __future__ import annotations


# --- Z-order (Morton) clustering ------------------------------------------
# Range-clustering on ONE column gives perfect skipping on that column and
# none on any other. Z-ordering interleaves the bits of two filter columns
# into a single sort key, so a range-clustered write on the key yields
# files/row-groups whose min/max stats are narrow on BOTH dimensions —
# the lakehouse-standard layout for tables queried by two independent
# predicates (here: user and time, the reference's two query axes).
#
# Raw values interleave badly when one dimension's varying bits sit higher
# than the other's (e.g. epoch-hours ~2^14 vs a handful of user ids — the
# Morton key then degenerates to a plain time sort). So, as in production
# Z-order implementations, each dimension is first min/max-normalized onto
# the SAME bit width; the interleave runs on the normalized coordinates.
# All of it is integer arithmetic — identical in Spark and DuckDB, so the
# key is oracle-checkable like any other operator.

ZORDER_BITS = 8  # per-dimension resolution after normalization (256 tiles)


def zorder_key(col_a: str, col_b: str, bits: int = ZORDER_BITS):
    """Morton key over already-normalized coordinates: bit i of ``col_a``
    → key bit 2i, bit i of ``col_b`` → key bit 2i+1. A sequential integer
    fold — codegen'd, deterministic, no UDF."""
    from pyspark.sql import functions as F

    return F.expr(
        f"""aggregate(sequence(0, {bits - 1}), 0L, (acc, i) ->
              acc + shiftleft(CAST(({col_a} >> i) & 1 AS BIGINT), CAST(2*i AS INT))
                  + shiftleft(CAST(({col_b} >> i) & 1 AS BIGINT), CAST(2*i+1 AS INT)))"""
    )


def _scale_expr(col: str, lo: str, hi: str, bits: int) -> str:
    """(col-lo) rescaled onto [0, 2^bits-1] by integer division — order-
    preserving, engine-exact. Runs in DECIMAL(38,0): with extreme key
    ranges (fuzz round 4: user_id = -2^62) both (col-lo) and the ·top
    product overflow BIGINT — Spark would wrap silently, DuckDB errors.
    The numerator is non-negative (col ≥ lo), so the truncating `div`
    matches the oracle's HUGEINT `//` exactly."""
    top = (1 << bits) - 1
    return (
        f"CAST(((CAST({col} AS DECIMAL(38,0)) - {lo}) * {top})"
        f" div greatest(CAST({hi} AS DECIMAL(38,0)) - {lo}, 1) AS BIGINT)"
    )


def _zorder_oracle() -> str:
    b = ZORDER_BITS
    top = (1 << b) - 1
    return f"""
    WITH raw AS (
      SELECT event_id,
             user_id AS u,
             epoch_ms(date_trunc('milliseconds', ts)) // 3600000 AS hr
      FROM events
    ),
    bounds AS (
      SELECT event_id, u, hr,
             min(u) OVER () AS u_lo, max(u) OVER () AS u_hi,
             min(hr) OVER () AS h_lo, max(hr) OVER () AS h_hi
      FROM raw
    ),
    dims AS (
      -- HUGEINT: extreme ids (fuzz 4: -2^62) overflow the BIGINT product
      SELECT event_id,
             CAST(((CAST(u AS HUGEINT) - u_lo) * {top})
                  // greatest(CAST(u_hi AS HUGEINT) - u_lo, 1) AS BIGINT) AS u8,
             CAST(((CAST(hr AS HUGEINT) - h_lo) * {top})
                  // greatest(CAST(h_hi AS HUGEINT) - h_lo, 1) AS BIGINT) AS t8
      FROM bounds
    )
    SELECT event_id, u8, t8,
           CAST(list_sum([((u8 >> i) & 1) << (2*i)
                     FOR i IN generate_series(0, {b - 1})])
         + list_sum([((t8 >> i) & 1) << (2*i+1)
                     FOR i IN generate_series(0, {b - 1})]) AS BIGINT) AS zkey
    FROM dims
    """


def _register_zorder_query() -> None:
    from pyspark.sql import DataFrame as _DF, SparkSession, functions as F

    from ..registry import register
    from ..tables import table

    @register("events_zorder_key", oracle=_zorder_oracle())
    def events_zorder_key(spark: SparkSession, sf_dir: str) -> _DF:
        """The Z-order layout key as a first-class operator: per event,
        its min/max-normalized (user, epoch-hour) tile coordinates and
        Morton key — the sort key a Z-ordered write clusters on. The bounds
        are a 1-row broadcast aggregate (the oracle's window-over-()
        formulation is the independent cross-check); everything else is a
        map-only projection."""
        b = ZORDER_BITS
        ev = table(spark, sf_dir, "events").select(
            "event_id",
            F.col("user_id").alias("u"),
            F.expr("unix_millis(ts) div 3600000").alias("hr"),
        )
        bounds = F.broadcast(
            ev.agg(
                F.min("u").alias("u_lo"),
                F.max("u").alias("u_hi"),
                F.min("hr").alias("h_lo"),
                F.max("hr").alias("h_hi"),
            )
        )
        dims = ev.crossJoin(bounds).select(
            "event_id",
            F.expr(_scale_expr("u", "u_lo", "u_hi", b)).alias("u8"),
            F.expr(_scale_expr("hr", "h_lo", "h_hi", b)).alias("t8"),
        )
        return dims.withColumn("zkey", zorder_key("u8", "t8", b))


_register_zorder_query()
