"""Structured Streaming integration tests: file source → availableNow
micro-batches → memory sink, compared against the batch run of the same
transformation."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdatatiler_spark.streaming.ingest import stream_events, tumbling_counts
from bigdatatiler_spark.tables import table

SF = "/root/testdata/sf0.001"


def test_streaming_tumbling_matches_batch(spark, tmp_path):
    """The same tumbling_counts transformation over a file stream must
    reproduce the batch result once the stream drains."""
    src = str(tmp_path / "landing")
    ev = table(spark, SF, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    # two slices → at least two files in the landing zone
    ev.where(F.col("event_id") % 2 == 0).write.mode("append").parquet(src)
    ev.where(F.col("event_id") % 2 == 1).write.mode("append").parquet(src)

    stream = stream_events(spark, src, watermark="1 hour")
    q = (
        tumbling_counts(stream)
        .writeStream.format("memory")
        .queryName("tumbling_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start_ms"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM tumbling_test").collect()
    }
    want = {
        (r["window_start_ms"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in tumbling_counts(ev).collect()
    }
    assert got == want


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream attribution join (watermark-bounded state) must
    reproduce the batch interval join once both streams drain."""
    from bigdatatiler_spark.streaming.joins import purchase_attribution_join

    ev = table(spark, SF, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    p_src, c_src = str(tmp_path / "purchases"), str(tmp_path / "clicks")
    p_batch = ev.where(F.col("event_type") == "purchase")
    c_batch = ev.where(F.col("event_type") == "click")
    p_batch.write.mode("append").parquet(p_src)
    c_batch.write.mode("append").parquet(c_src)

    joined = purchase_attribution_join(
        spark.readStream.schema(p_batch.schema).parquet(p_src),
        spark.readStream.schema(c_batch.schema).parquet(c_src),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["purchase_event_id"], r["click_event_id"])
        for r in spark.sql("SELECT * FROM ss_join_test").collect()
    }
    want = {
        (r["purchase_event_id"], r["click_event_id"])
        for r in purchase_attribution_join(p_batch, c_batch).collect()
    }
    assert got == want
    assert len(want) > 0  # non-vacuous


def test_stream_stream_left_outer_emits_unattributed(spark, tmp_path):
    """LEFT OUTER stream-stream join: purchases with no click in their
    attribution window must still emit (null click columns) once the
    click watermark provably passes their window. A young purchase near
    the stream's end stays withheld — that is the documented semantics,
    so the fixture keeps unmatched purchases far behind the final
    watermark (a late sentinel click pushes it forward)."""
    import datetime as dt

    from bigdatatiler_spark.streaming.joins import purchase_attribution_join

    base = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ev(eid, t_min, uid, etype):
        return (eid, base + dt.timedelta(minutes=t_min), uid, etype, 1.0, "{}")

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    purchases = spark.createDataFrame(
        [ev(1, 30, 1, "purchase"),   # attributed: click@25 within 1h window
         ev(2, 40, 2, "purchase"),   # unattributed (user 2 never clicks)
         ev(3, 50, 3, "purchase")],  # unattributed (click too early for window)
        schema,
    )
    clicks = spark.createDataFrame(
        [ev(10, 25, 1, "click"),
         ev(11, -120, 3, "click")],      # outside the 1h window for purchase 3
        schema,
    )
    p_src, c_src = str(tmp_path / "p"), str(tmp_path / "c")
    # watermarks only advance BETWEEN micro-batches (batch N's watermark
    # derives from batch N-1's max event time), and the GLOBAL watermark
    # is the MIN across both inputs — so BOTH streams need later-batch
    # sentinels far in the future, one file per batch via
    # maxFilesPerTrigger=1
    import time as _time

    purchases.coalesce(1).write.mode("append").parquet(p_src)
    clicks.coalesce(1).write.mode("append").parquet(c_src)
    for i, sentinel_min in enumerate((60 * 50, 60 * 51, 60 * 52)):
        _time.sleep(1.1)  # distinct mod-times → deterministic file order
        spark.createDataFrame(
            [ev(99 + i, sentinel_min, 999, "click")], schema
        ).coalesce(1).write.mode("append").parquet(c_src)
        spark.createDataFrame(
            [ev(199 + i, sentinel_min, 998, "purchase")], schema
        ).coalesce(1).write.mode("append").parquet(p_src)

    joined = purchase_attribution_join(
        spark.readStream.schema(purchases.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(p_src),
        spark.readStream.schema(clicks.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(c_src),
        how="left_outer",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_outer_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        r["purchase_event_id"]: r["click_event_id"]
        for r in spark.sql("SELECT * FROM ss_outer_test").collect()
    }
    assert rows.get(1) == 10           # attributed pair
    assert 2 in rows and rows[2] is None
    assert 3 in rows and rows[3] is None


def test_streaming_stateful_parity_matches_batch(spark):
    """The applyInPandasWithState lifetime fold equals the batch GROUP BY
    over the identical projection — engine-level parity of the custom
    stateful operator, arrival-order-free because the final row per user
    is selected by max n_events (state is cumulative)."""
    from pyspark.sql import functions as F

    from bigdatatiler_spark.streaming.parity import (
        events_streaming_stateful_parity,
        stream_events,
    )
    from bigdatatiler_spark.tables import table

    sf = "/root/testdata/sf0.001"
    got = {
        r["user_id"]: (r["n_events"], r["cents"], r["first_us"], r["last_us"])
        for r in events_streaming_stateful_parity(spark, sf).collect()
    }
    ev = table(spark, sf, "events").where(F.col("user_id").isNotNull())
    want = {
        r["user_id"]: (r["n_events"], r["cents"], r["first_us"], r["last_us"])
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                (F.col("value").cast("decimal(18,2)") * 100).cast("long")
            ).alias("cents"),
            F.min(F.unix_micros("ts")).alias("first_us"),
            F.max(F.unix_micros("ts")).alias("last_us"),
        )
        .collect()
    }
    assert got == want
