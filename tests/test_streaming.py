"""Structured Streaming integration tests: file source → availableNow
micro-batches → memory sink, compared against the batch run of the same
transformation; plus stateful cross-batch chunk reassembly."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdatatiler_spark.streaming.ingest import (
    EVENTS_STREAM_SCHEMA,
    dedup_within_watermark,
    stream_events,
    tumbling_counts,
)
from bigdatatiler_spark.streaming.reassemble import reassemble_stream
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


def test_streaming_dedup(spark, tmp_path):
    src = str(tmp_path / "dupes")
    ev = table(spark, SF, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    ).limit(50)
    ev.write.mode("append").parquet(src)
    ev.write.mode("append").parquet(src)  # duplicate delivery

    stream = stream_events(spark, src, watermark="1 hour")
    q = (
        dedup_within_watermark(stream)
        .select("event_id")
        .writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT event_id, count(*) c FROM dedup_test GROUP BY 1 HAVING count(*) > 1").collect()
    total = spark.sql("SELECT count(*) c FROM dedup_test").first()["c"]
    assert total == 50
    assert rows == []


def test_stateful_reassembly_across_batches(spark, tmp_path):
    """Chunks of one record arriving in different micro-batches must merge
    exactly once, in split order (applyInPandasWithState)."""
    src = str(tmp_path / "chunks")
    batch1 = spark.createDataFrame(
        [(1, 0, "AAA", 3), (1, 1, "BBB", 3), (2, 0, "solo", 1)],
        ["record_id", "split_index", "chunk", "total_splits"],
    )
    batch2 = spark.createDataFrame(
        [(1, 2, "CCC", 3)],
        ["record_id", "split_index", "chunk", "total_splits"],
    )
    batch1.coalesce(1).write.mode("append").parquet(src)
    batch2.coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(batch1.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = (
        reassemble_stream(stream)
        .writeStream.format("memory")
        .queryName("reasm_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["record_id"]: (r["payload"], r["n_chunks"])
        for r in spark.sql("SELECT * FROM reasm_test").collect()
    }
    assert got == {1: ("AAABBBCCC", 3), 2: ("solo", 1)}


def test_stateful_reassembly_dedups_redelivered_chunks(spark, tmp_path):
    """At-least-once sources can redeliver a chunk in a later micro-batch.
    The merge must neither emit early (raw length ≥ total) nor duplicate a
    segment — completion requires distinct ordinals covering [0, total)."""
    src = str(tmp_path / "chunks")
    batch1 = spark.createDataFrame(
        [(1, 0, "AAA", 3), (1, 1, "BBB", 3)],
        ["record_id", "split_index", "chunk", "total_splits"],
    )
    # chunk 1 redelivered alongside the final chunk
    batch2 = spark.createDataFrame(
        [(1, 1, "BBB", 3), (1, 2, "CCC", 3)],
        ["record_id", "split_index", "chunk", "total_splits"],
    )
    batch1.coalesce(1).write.mode("append").parquet(src)
    batch2.coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(batch1.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = (
        reassemble_stream(stream)
        .writeStream.format("memory")
        .queryName("reasm_redeliver")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM reasm_redeliver").collect()
    assert len(rows) == 1
    assert (rows[0]["payload"], rows[0]["n_chunks"]) == ("AAABBBCCC", 3)


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


def test_reassembly_survives_restart_exactly_once(spark, tmp_path):
    """Chaos/recovery contract: a stateful reassembly stream stopped
    mid-chain and RESTARTED from its checkpoint must (a) restore the
    partial chain from the state store, (b) not reprocess batch 1, and
    (c) emit each completed record exactly once through the idempotent
    batch_id-keyed sink — even with a chunk redelivered across the
    restart (at-least-once source semantics)."""
    from bigdatatiler_spark.streaming.joins import write_foreach_batch

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    cols = ["record_id", "split_index", "chunk", "total_splits"]
    batch1 = spark.createDataFrame(
        [(1, 0, "AAA", 3), (1, 1, "BBB", 3), (2, 0, "solo", 1)], cols
    )
    batch1.coalesce(1).write.mode("append").parquet(src)

    def _handle(batch_df, batch_id: int) -> None:
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "overwrite"
        ).parquet(f"{out}/batch_id={batch_id}")

    def _run_once() -> None:
        stream = spark.readStream.schema(batch1.schema).parquet(src)
        q = write_foreach_batch(
            reassemble_stream(stream), _handle, ckpt, output_mode="update"
        )
        q.awaitTermination(120)

    _run_once()  # run 1 consumes batch 1, then "dies" (stop after drain)
    got1 = spark.read.parquet(f"{out}/*")
    assert {r["record_id"] for r in got1.collect()} == {2}, "record 1 must wait"

    # chunk 1 redelivered together with the final chunk, then restart
    spark.createDataFrame([(1, 1, "BBB", 3), (1, 2, "CCC", 3)], cols).coalesce(
        1
    ).write.mode("append").parquet(src)
    _run_once()  # run 2 recovers offsets + state from ckpt

    rows = spark.read.parquet(f"{out}/*").collect()
    got = {r["record_id"]: (r["payload"], r["n_chunks"]) for r in rows}
    assert got == {1: ("AAABBBCCC", 3), 2: ("solo", 1)}
    assert len(rows) == 2, f"duplicate emissions: {rows}"


def test_foreach_batch_idempotent_sink(spark, tmp_path):
    """foreachBatch handler keyed by batch_id: output parquet holds
    exactly the input rows, tagged with their micro-batch."""
    from bigdatatiler_spark.streaming.joins import write_foreach_batch

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    ev = table(spark, SF, "events").select("event_id", "ts", "user_id").limit(40)
    ev.write.mode("append").parquet(src)

    def _handle(batch_df, batch_id: int) -> None:
        # idempotent: a replayed batch_id overwrites its own partition
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .parquet(f"{out}/batch_id={batch_id}")
        )

    stream = spark.readStream.schema(ev.schema).parquet(src)
    q = write_foreach_batch(stream, _handle, ckpt)
    q.awaitTermination(120)
    back = spark.read.parquet(f"{out}/*")
    assert back.count() == 40
    assert {r["event_id"] for r in back.select("event_id").collect()} == {
        r["event_id"] for r in ev.select("event_id").collect()
    }


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
