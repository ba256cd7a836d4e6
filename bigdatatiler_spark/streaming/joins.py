"""Stream-stream interval joins.

Stream-stream interval join: the streaming form of the engine's
range/as-of joins (operators/asof.py). Both sides carry watermarks and
the join condition bounds event-time distance, so Spark can size the
join state buffer and evict rows once the other side's watermark passes
— without the time bound the state is unbounded (the streaming analog of
an unbucketed cross join; never ship that).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def purchase_attribution_join(
    purchases: DataFrame,
    clicks: DataFrame,
    attribution_window: str = "1 hour",
    purchase_watermark: str = "1 hour",
    click_watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Clicks joined to purchases by the same user within the attribution
    window (click.ts ≤ purchase.ts < click.ts + window).

    Works on streaming *and* batch frames (same logical plan; streaming
    adds watermark-bounded join state). The click side keeps a longer
    watermark than the purchase side because a click must wait up to
    `attribution_window` for its purchase to arrive.

    ``how='left_outer'`` keeps UNattributed purchases (null click
    columns) — the organic-conversion stream. Outer results cannot emit
    eagerly: a purchase is only provably unmatched once the click-side
    watermark passes the end of its attribution window, so null rows
    trail the watermark and purchases younger than the final watermark
    are withheld at stream end (Spark's documented outer-join
    semantics; the restart-to-drain pattern applies on real pipelines).
    """
    p = purchases.select(
        F.col("event_id").alias("purchase_event_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("p_ts"),
    )
    c = clicks.select(
        F.col("event_id").alias("click_event_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("c_ts"),
    )
    # watermark=None skips watermarking (legal for INNER stream-stream
    # joins — matches emit eagerly; state is simply never evicted). The
    # bounded-fixture parity query uses this: the watermark initializes
    # to epoch 0, so any pre-1970 event would be dropped as late on
    # first sight (the streaming-session-parity class). Production
    # deployments pass real watermarks for state cleanup.
    if purchases.isStreaming and purchase_watermark is not None:
        p = p.withWatermark("p_ts", purchase_watermark)
        c = c.withWatermark("c_ts", click_watermark)
    return p.join(
        c,
        (F.col("p_user_id") == F.col("c_user_id"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("p_ts") < F.col("c_ts") + F.expr(f"INTERVAL {attribution_window}")),
        how,
    ).select(
        "purchase_event_id",
        "click_event_id",
        F.col("p_user_id").alias("user_id"),
        "p_ts",
        "c_ts",
    )
