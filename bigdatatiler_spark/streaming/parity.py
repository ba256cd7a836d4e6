"""Batch-checkable parity query for the streaming pipeline.

The streaming family (ingest/joins) was pytest-only
through round 4 — the driver's correctness harness never executed a
Structured Streaming plan. This module closes that gap: the registered
query runs the REAL streaming engine (micro-batch execution,
``readStream`` file source, event-time window aggregation with a
watermark, memory sink) with ``Trigger.AvailableNow`` so it terminates
on the fixture, then returns the sink contents as a plain DataFrame the
driver can hash against a DuckDB oracle.

Determinism: output mode is ``complete`` — every window is emitted from
state at the final trigger regardless of watermark progression, so the
result equals the batch GROUP BY no matter how the source files split
into micro-batches. The watermark still runs (its state-cleanup path is
what tests/test_streaming.py covers with late rows); here it certifies
the full streaming plan compiles and executes under the driver's session.

Scale: this is THE streaming rollup shape — per (type, hour) partial
aggregation in state, O(|types| x |hours|) state rows, shuffle only on
the window key. At 100 TB the same plan runs continuously with an
append-mode sink + downstream compaction.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..operators._util import stage
from ..registry import register
from ..session import tune_session

_SINK = "streaming_parity_hourly"


def _source_bytes(sf_dir: str) -> int:
    import os

    total = 0
    for name in ("events.parquet", "documents.parquet"):
        p = os.path.join(sf_dir, name)
        if os.path.isdir(p):
            total += sum(
                os.path.getsize(os.path.join(p, f)) for f in os.listdir(p)
            )
        elif os.path.exists(p):
            total += os.path.getsize(p)
    return total


def _state_scaled_shuffle(spark: SparkSession, sf_dir: str):
    """Context manager: run a streaming query with the state-store
    partition count sized to the SOURCE VOLUME, not the core count.

    A stateful streaming operator creates — and commits, every
    micro-batch — one state store per shuffle partition (a stream-stream
    join keeps FOUR per partition), so partitions far in excess of the
    state volume turn each batch into pure state-store file churn:
    measured at sf0.1, the stream-stream join parity query runs 8.0 s at
    the session default 32 partitions vs 4.0 s at 4, identical results.
    The rule max(4, source_bytes // 64 MB) is scale-adaptive — the
    fixture lands on the floor; a 100 TB source yields thousands of
    state partitions — and the session default is restored afterwards
    (every query path re-tunes via tune_session anyway)."""
    from contextlib import contextmanager

    @contextmanager
    def _cm():
        key = "spark.sql.shuffle.partitions"
        old = spark.conf.get(key)
        n = max(4, _source_bytes(sf_dir) // (64 * 1024 * 1024))
        spark.conf.set(key, str(n))
        try:
            yield
        finally:
            spark.conf.set(key, old)

    return _cm()


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the events fixture with the same dtype
    adaptivity as ``tables.table`` (the fixture's ts encoding has changed
    across rounds — see tables.py header): the batch reader supplies the
    observed schema, then the ts branch normalizes to a timestamp."""
    import os

    from ..tables import _readable_path

    tune_session(spark)
    # same layout repair as the batch loaders (fuzz 14 class 49: the
    # vectorized reader, which FileStreamSource also uses, cannot decode
    # BYTE_STREAM_SPLIT — transcode-once instead of a mid-stream crash)
    path = _readable_path(os.path.join(sf_dir, "events.parquet"))
    # schema evolution inside the directory (fuzz 16 class 52, deepened
    # r11): without the union schema the observed schema is whichever
    # footer sorts first — a member that dropped an optional column (or a
    # nested field, or that narrowed a type) would silently strip/narrow
    # it in EVERY micro-batch. Same conditional repair as tables.table;
    # FileStreamSource then fills absent cells with NULL and upcasts
    # narrow members per the requested union schema.
    from ..tables import read_parquet

    schema = read_parquet(spark, path).schema
    if os.path.isdir(path):
        # directory-shaped events table (multi-file): stream the directory
        # itself, ONE FILE PER MICRO-BATCH — this is the multi-batch parity
        # shape (fuzz round 13): every parity query must produce the batch
        # answer regardless of how AvailableNow splits the source, so state
        # merges across 2+ real micro-batch transitions are exercised, not
        # just the single-batch degenerate case the one-file fixture gives.
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(path)
        )
    else:
        # FileStreamSource requires a DIRECTORY basePath; the fixture is a
        # single file, so stream the containing dir filtered to that file
        # (by the RESOLVED basename — a transcoded repair copy lives in
        # the temp dir under a different name).
        src = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", os.path.basename(path))
            .parquet(os.path.dirname(path))
        )
    dt = schema["ts"].dataType
    if isinstance(dt, LongType):  # legacy int64-nanos encoding
        src = src.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        src = src.withColumn("ts", F.col("ts").cast("timestamp"))
    # same unusable-metric canonicalization as tables.table (non-finite
    # OR |value| ≥ 1e16 — the DECIMAL(18,2) representability rule)
    return src.withColumn(
        "value",
        F.when(
            ~F.isnan("value")
            & ~F.col("value").isin(float("inf"), float("-inf"))
            & (F.abs(F.col("value")) < F.lit(1e16)),
            F.col("value"),
        ),
    )


@register(
    "events_streaming_hourly_parity",
    oracle="""
    SELECT event_type,
           epoch_ms(date_trunc('milliseconds', date_trunc('hour', ts))) AS window_start_ms,
           count(*) AS n_events,
           CAST(sum(CAST(TRY_CAST(CASE WHEN (isfinite(value) AND abs(value) < 1e16) THEN value END AS DECIMAL(18,2)) * 100 AS BIGINT))
             AS BIGINT) AS cents
    FROM events
    -- NULL event times belong to no window (fuzz 6): the streaming
    -- window operator drops them; date_trunc(NULL) would keep a group
    WHERE ts IS NOT NULL
    GROUP BY 1, 2
    """,
)
def events_streaming_hourly_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling rollup executed BY THE STREAMING ENGINE, returned
    as a batch DataFrame (memory sink, AvailableNow trigger). A hash match
    against the batch oracle proves stream/batch parity of the windowed
    aggregation — the exactly-once rollup guarantee users rely on when the
    same query serves both backfill (batch) and live (stream) paths."""
    events = stream_events(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(
            F.window("ts", "1 hour").alias("w"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(
                (F.col("value").cast("decimal(18,2)") * 100).cast("long")
            ).alias("cents"),
        )
        .select(
            "event_type",
            F.unix_millis(F.col("w.start")).alias("window_start_ms"),
            "n_events",
            "cents",
        )
    )
    with _state_scaled_shuffle(spark, sf_dir):
        q = (
            agg.writeStream.format("memory")
            .queryName(_SINK)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
    return spark.table(_SINK)


_SINK2 = "streaming_parity_sliding"


@register(
    "events_streaming_sliding_parity",
    oracle="""
    WITH g AS (SELECT unnest(generate_series(0, 3)) AS k)
    SELECT
      epoch_ms(date_trunc('milliseconds', time_bucket(INTERVAL '15 minutes', ts)
               - k * INTERVAL '15 minutes')) AS window_start_ms,
      event_type,
      count(*) AS n_events
    FROM events CROSS JOIN g
    WHERE ts IS NOT NULL
    GROUP BY 1, 2
    """,
)
def events_streaming_sliding_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour/15-minute windows executed BY THE STREAMING ENGINE
    (same memory-sink/AvailableNow harness as the hourly parity query):
    each event expands into size/slide = 4 overlapping windows map-side,
    then one keyed stateful aggregation. The oracle derives the same 4
    epoch-aligned windows per event via a generate_series cross join —
    a hash match certifies the streaming expansion + state path equals
    the batch formulation."""
    events = stream_events(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"),
            "event_type",
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_millis(F.col("w.start")).alias("window_start_ms"),
            "event_type",
            "n_events",
        )
    )
    with _state_scaled_shuffle(spark, sf_dir):
        q = (
            agg.writeStream.format("memory")
            .queryName(_SINK2)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
    return spark.table(_SINK2)


_SINK3 = "streaming_parity_session"


from ..operators.windows import _SESSION_ORACLE


@register("events_streaming_session_parity", oracle=_SESSION_ORACLE)
def events_streaming_session_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) executed BY THE STREAMING ENGINE —
    the third streaming shape after tumbling and sliding, and the one
    with MERGING state: unlike fixed windows, streaming session windows
    must merge adjacent state entries when a new event bridges two
    previously-separate sessions across micro-batches. A hash match
    against the batch gaps-and-islands oracle (identical SQL to
    events_session_windows — the boundary is strictly ``gap > timeout``,
    an event at exactly last+gap merges; hostile-differential-pinned)
    certifies the merge path end-to-end.

    No watermark here, deliberately: unlike tumbling/sliding windows,
    streaming session aggregation filters its INPUT against the current
    watermark before merging — and the watermark initializes to epoch 0,
    so any pre-1970 event is "late" at first sight and silently dropped
    (found by the hostile-content differential: 14 pre-epoch sessions
    vanished). Complete mode keeps all state, so the watermark is legal
    to omit on a bounded fixture. A production append-mode deployment
    adds ``withWatermark`` back for state eviction — live feeds have no
    pre-epoch timestamps, so the hazard is fixture-class only.

    Scale: state is one entry per OPEN session per user; with the
    production watermark, sessions 30 min behind event time are closed
    and evicted, so steady-state memory is bounded by concurrently-
    active users, not history. Output mode is complete on the fixture so
    every session is emitted at the final AvailableNow trigger
    regardless of micro-batch split."""
    events = stream_events(spark, sf_dir)
    agg = (
        events
        .groupBy(
            F.session_window("ts", "30 minutes").alias("w"),
            "user_id",
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_millis(F.col("w.start")).alias("session_start_ms"),
            F.unix_millis(F.col("w.end")).alias("session_end_ms"),
            "n_events",
        )
    )
    with _state_scaled_shuffle(spark, sf_dir):
        q = (
            agg.writeStream.format("memory")
            .queryName(_SINK3)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
    return spark.table(_SINK3)


_SINK4 = "streaming_parity_join"


@register(
    "events_streaming_join_parity",
    oracle="""
    SELECT p.event_id AS purchase_event_id,
           c.event_id AS click_event_id,
           p.user_id,
           epoch_ms(date_trunc('milliseconds', p.ts)) AS p_ms,
           epoch_ms(date_trunc('milliseconds', c.ts)) AS c_ms
    FROM events p
    JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts <= p.ts AND p.ts < c.ts + INTERVAL '1 hour'
    """,
)
def events_streaming_join_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join executed by the micro-batch engine —
    the fourth streaming shape (after tumbling/sliding/session
    aggregation): purchases attributed to same-user clicks within a
    1-hour window, both sides read as streams, matches emitted in APPEND
    mode (inner interval joins emit eagerly on match, so the bounded
    AvailableNow run produces the complete result without waiting on
    watermark progression). A hash match against the plain batch SQL
    join certifies the streaming state-buffer path end-to-end. No
    watermark on the fixture (see purchase_attribution_join); production
    adds both watermarks so join state evicts.

    Scale: state is bounded by the attribution window per side (with
    watermarks) — the streaming analog of operators/asof.py's range
    join, sharing its join-condition shape."""
    from .joins import purchase_attribution_join

    events = stream_events(spark, sf_dir)
    purchases = events.where(F.col("event_type") == "purchase")
    clicks = events.where(F.col("event_type") == "click")
    joined = purchase_attribution_join(
        purchases, clicks, attribution_window="1 hour", purchase_watermark=None
    ).select(
        "purchase_event_id",
        "click_event_id",
        "user_id",
        F.unix_millis(F.col("p_ts")).alias("p_ms"),
        F.unix_millis(F.col("c_ts")).alias("c_ms"),
    )
    with _state_scaled_shuffle(spark, sf_dir):
        q = (
            joined.writeStream.format("memory")
            .queryName(_SINK4)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
    return spark.table(_SINK4)


_SINK5 = "streaming_parity_dedup"


@register(
    "events_streaming_dedup_parity",
    oracle="""
    SELECT DISTINCT
      event_id,
      epoch_ms(date_trunc('milliseconds', ts)) AS ts_ms,
      user_id,
      event_type,
      CAST(TRY_CAST(CASE WHEN (isfinite(value) AND abs(value) < 1e16)
                    THEN value END AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
    FROM events
    """,
)
def events_streaming_dedup_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATEFUL STREAMING DEDUPLICATION — the fifth streaming shape: the
    exactly-once ingest guarantee an at-least-once delivery pipeline
    builds on. ``dropDuplicates`` over the full projected row runs as a
    stateful operator in the micro-batch engine (state = one entry per
    distinct row, first arrival wins) and emits in APPEND mode, so the
    bounded AvailableNow run yields exactly the DISTINCT set — which is
    the oracle, verbatim. Deduping on the full row (not just event_id)
    makes the parity unconditional: replays in the at-least-once model
    are byte-identical, and a first-arrival-wins key dedup would be
    arrival-order-dependent for conflicting payloads.

    Production shape: ``dropDuplicatesWithinWatermark([key])``
    (streaming/ingest.py) bounds the state to the replay horizon; the
    unwatermarked form here keeps all state on the bounded fixture for
    the same initial-watermark reason as the session parity."""
    ev = stream_events(spark, sf_dir).select(
        "event_id",
        F.unix_millis("ts").alias("ts_ms"),
        "user_id",
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    dd = ev.dropDuplicates()
    with _state_scaled_shuffle(spark, sf_dir):
        q = (
            dd.writeStream.format("memory")
            .queryName(_SINK5)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
    return spark.table(_SINK5)


_SINK6 = "streaming_parity_stateful"

_LIFETIME_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("cents", LongType()),
        StructField("first_us", LongType()),
        StructField("last_us", LongType()),
    ]
)

_LIFETIME_STATE = StructType(
    [
        StructField("n", LongType()),
        StructField("cents_n", LongType()),
        StructField("cents_sum", LongType()),
        StructField("min_us", LongType()),
        StructField("max_us", LongType()),
    ]
)


def _lifetime_fold(key, pdfs, state) -> Any:
    """Fold a micro-batch of one user's events into cumulative state and
    emit the updated lifetime row. Pure-Python integer arithmetic on
    pre-projected BIGINT columns (µs epoch, cents) — exact, no float
    accumulation; NULL metric/time rows count toward n_events but not
    toward the sum/min/max, matching SQL aggregate NULL semantics."""
    import pandas as pd

    n, cents_n, cents_sum, min_us, max_us = 0, 0, 0, None, None
    if state.exists:
        n, cents_n, cents_sum, min_us, max_us = state.get
    for pdf in pdfs:
        n += len(pdf)
        for c in pdf["cents"]:
            if c is not None and not pd.isna(c):
                cents_n += 1
                cents_sum += int(c)  # Decimal -> int, exact
        for u in pdf["us"]:
            if u is not None and not pd.isna(u):
                u = int(u)
                min_us = u if min_us is None or u < min_us else min_us
                max_us = u if max_us is None or u > max_us else max_us
    state.update((n, cents_n, cents_sum, min_us, max_us))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "cents": [cents_sum if cents_n > 0 else None],
            "first_us": [min_us],
            "last_us": [max_us],
        }
    )


@register(
    "events_streaming_stateful_parity",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           CAST(sum(CAST(TRY_CAST(CASE WHEN (isfinite(value) AND abs(value) < 1e16)
                         THEN value END AS DECIMAL(18,2)) * 100 AS BIGINT))
             AS BIGINT) AS cents,
           min(epoch_us(ts)) AS first_us,
           max(epoch_us(ts)) AS last_us
    FROM events
    WHERE user_id IS NOT NULL
    GROUP BY user_id
    """,
)
def events_streaming_stateful_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM STATEFUL OPERATOR parity — the sixth streaming shape, and
    the one the built-in operators can't express: an arbitrary per-key
    state machine via ``applyInPandasWithState`` (here a lifetime
    per-user aggregate: event count, exact cents sum, first/last seen
    µs). The built-in shapes (window agg, dedup, join) cover declarable
    state; this certifies the ESCAPE HATCH users reach for when state
    transitions are imperative (sessionization with business rules,
    fraud counters, chain reassembly).

    Determinism under micro-batch splits: state is cumulative and every
    invocation of a key consumes ≥1 new row, so n_events strictly
    increases across that key's emissions — selecting each user's
    max-n_events row from the update-mode sink yields the final state
    regardless of how AvailableNow batches the source. The oracle is the
    plain batch GROUP BY. NULL user_id is excluded on both sides (the
    fuzz-2 rule: keyed-state semantics for a NULL key differ from SQL
    grouping across engines' join/state paths).

    Scale: state is 5 integers per user — O(|users|) memory, the keyed
    partial-aggregate shape; shuffle only on user_id. µs epochs are
    UNSATURATED unix_micros/epoch_us both engines (fuzz-5 class 16)."""
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.window import Window

    ev = (
        stream_events(spark, sf_dir)
        .where(F.col("user_id").isNotNull())
        .select(
            "user_id",
            # decimal(20,0), not long: Arrow ships nullable int64 to
            # pandas as float64 (NaN for NULL), which is lossy above
            # 2^53 - hostile us epochs (~2.5e17) and near-1e18 cents
            # would silently round. decimal -> Python Decimal objects,
            # exact at any magnitude.
            F.unix_micros("ts").cast("decimal(20,0)").alias("us"),
            (F.col("value").cast("decimal(18,2)") * 100)
            .cast("decimal(20,0)")
            .alias("cents"),
        )
    )
    folded = ev.groupBy("user_id").applyInPandasWithState(
        _lifetime_fold,
        outputStructType=_LIFETIME_SCHEMA,
        stateStructType=_LIFETIME_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    with _state_scaled_shuffle(spark, sf_dir):
        q = (
            folded.writeStream.format("memory")
            .queryName(_SINK6)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
    sink = spark.table(_SINK6)
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        sink.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


_NEARDEDUP_RESULT_SCHEMA = "doc_id_1 bigint, doc_id_2 bigint, jaccard_e6 bigint"


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the documents fixture — same layout
    (class 49 transcode) and schema-evolution (class 52/53 union) repairs
    as ``tables.table``; directory fixtures stream one member file per
    micro-batch (the multi-batch parity shape)."""
    import os

    from ..tables import _readable_path, read_parquet

    tune_session(spark)
    path = _readable_path(os.path.join(sf_dir, "documents.parquet"))
    schema = read_parquet(spark, path).schema
    if os.path.isdir(path):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(path)
        )
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", os.path.basename(path))
        .parquet(os.path.dirname(path))
    )


def _state_parts(parent: str, exclude_bid: int | None = None) -> list:
    """Readable pieces of one near-dedup state table: loose parquet part
    files (legacy append mode) plus ``bid_<n>`` batch subdirs, excluding
    the current batch's own subdir so a REDELIVERED batch reconstructs
    exactly the pre-batch view of the index (r11 ADVICE: idempotence)."""
    import os

    if not os.path.isdir(parent):
        return []
    out = []
    for name in sorted(os.listdir(parent)):
        full = os.path.join(parent, name)
        if os.path.isdir(full) and name.startswith("bid_"):
            if exclude_bid is not None and name == f"bid_{exclude_bid}":
                continue
            out.append(full)
        elif name.endswith(".parquet"):
            out.append(full)
    return out


def neardedup_apply_batch(
    spark: SparkSession,
    state_dir: str,
    batch: DataFrame,
    batch_id: int | None = None,
) -> None:
    """Fold ONE micro-batch of documents into the near-dedup state under
    ``state_dir`` (the bucket-occupancy index: ``ids/`` seen doc_ids,
    ``sh/`` their shingle sets, ``bands/`` their MinHash band keys) and
    append the newly discovered near-dup pairs to ``results/``.

    Exactly-once pair emission under ANY batching of the corpus: a pair
    is emitted in the batch where its LATER-ARRIVING member lands —
    within-batch pairs via the banded self-join (doc_id_1 < doc_id_2),
    cross pairs via new-bands ⋈ index-bands. Both docs old → already
    emitted. Redelivery-idempotent two ways: arriving doc_ids already in
    ``ids/`` are dropped up front (first arrival wins), and — when the
    caller passes the foreachBatch ``batch_id`` — every state write lands
    in a ``bid_<n>`` subdir with OVERWRITE semantics while reads exclude
    the current batch's own subdir, so even a batch that failed BETWEEN
    its four state writes replays to the identical post-batch state
    (r11 ADVICE: the append-mode path alone re-emitted pairs when a
    retry arrived after ``results/`` but before ``ids/`` was written).

    Scale: per batch the work is O(batch-bands ⋈ index-bands) — an
    equi-join on the uniform (band_id, band_key) hash key, exactly
    ``dedup_incremental_minhash``'s ingest shape; corpus size enters only
    through bucket occupancy, never a corpus×corpus term. The parquet
    state dirs are the single-box stand-in for the index TABLE a real
    pipeline appends to."""
    import os

    from ..operators.dedup import minhash_bands, shingle_frame, verified_pairs

    ids_p = os.path.join(state_dir, "ids")
    sh_p = os.path.join(state_dir, "sh")
    bands_p = os.path.join(state_dir, "bands")
    res_p = os.path.join(state_dir, "results")

    ids_parts = _state_parts(ids_p, batch_id)
    bands_parts = _state_parts(bands_p, batch_id)
    sh_parts = _state_parts(sh_p, batch_id)

    new = batch.select("doc_id", "text")
    have_index = bool(ids_parts)
    if have_index:
        new = new.join(spark.read.parquet(*ids_parts), "doc_id", "left_anti")
    # staged: each frame feeds 2-3 branches below; the batch is
    # bounded (one source file), so eager materialization is cheap and
    # keeps the per-batch plan flat instead of re-shingling per branch
    sh_new = stage(shingle_frame(new))
    bands_new = stage(minhash_bands(sh_new))

    # band_pairs' rule without its distinct: the union below is
    # distinct'ed once, so a distinct here would add an aggregate
    a, b = bands_new.alias("a"), bands_new.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_1"),
            F.col("b.doc_id").alias("doc_id_2"),
        )
    )
    if have_index and bands_parts:
        n, o = bands_new.alias("n"), spark.read.parquet(*bands_parts).alias("o")
        cross = (
            n.join(
                o,
                (F.col("n.band_id") == F.col("o.band_id"))
                & (F.col("n.band_key") == F.col("o.band_key")),
            )
            .select(
                F.least("n.doc_id", "o.doc_id").alias("doc_id_1"),
                F.greatest("n.doc_id", "o.doc_id").alias("doc_id_2"),
            )
        )
        cand = cand.unionByName(cross)
    cand = cand.distinct()

    all_sh = sh_new
    if have_index and sh_parts:
        all_sh = all_sh.unionByName(spark.read.parquet(*sh_parts))
    out = verified_pairs(cand, all_sh)
    if batch_id is None:
        # legacy append path (direct callers without a batch id): whole-
        # batch redelivery is still idempotent via the ids/ anti-join
        out.write.mode("append").parquet(res_p)
        sh_new.write.mode("append").parquet(sh_p)
        bands_new.write.mode("append").parquet(bands_p)
        new.select("doc_id").write.mode("append").parquet(ids_p)
    else:
        sub = f"bid_{batch_id}"
        out.write.mode("overwrite").parquet(os.path.join(res_p, sub))
        sh_new.write.mode("overwrite").parquet(os.path.join(sh_p, sub))
        bands_new.write.mode("overwrite").parquet(os.path.join(bands_p, sub))
        new.select("doc_id").write.mode("overwrite").parquet(
            os.path.join(ids_p, sub)
        )


def _read_neardedup_results(spark: SparkSession, state_dir: str) -> DataFrame:
    import os

    res_p = os.path.join(state_dir, "results")
    parts = _state_parts(res_p)
    try:
        if not parts:
            raise ValueError("no results yet")
        df = spark.read.parquet(*parts)
        if not df.columns:
            raise ValueError("empty results dir")
        return df
    except Exception:
        return spark.createDataFrame([], _NEARDEDUP_RESULT_SCHEMA)


from ..operators.dedup import _minhash_oracle


@register(
    "docs_streaming_neardedup_parity",
    # the batch MinHash oracle VERBATIM: the streaming fold must land on
    # the identical pair set (exactly-once emission argument above)
    oracle=_minhash_oracle(),
)
def docs_streaming_neardedup_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING NEAR-DEDUPLICATION parity — the seventh streaming shape
    (r10 verdict #5): banded MinHash near-dedup as a micro-batch
    pipeline. ``foreachBatch`` folds each arriving batch of documents
    into a persistent bucket-occupancy index (``neardedup_apply_batch``:
    anti-join seen ids → shingle → band → join index → verify exact
    Jaccard → append) — the ingest-time counterpart of
    ``dedup_incremental_minhash`` with REAL streaming-engine batching
    instead of a modulus split. The final pair set equals the batch
    ``dedup_minhash_lsh`` output no matter how AvailableNow splits the
    source (a pair is emitted exactly when its later member arrives), so
    the oracle is the batch MinHash oracle verbatim; multi-batch +
    redelivery coverage lives in tests/test_streaming_neardedup.py.

    Boundary: a CONFLICTING re-ingest (same doc_id, different text)
    arriving in a LATER batch resolves first-arrival-wins — the id is
    already indexed, so the new payload is dropped; the batch oracle,
    which sees both rows, would pair against both payloads. The
    equivalence therefore holds for corpora whose re-deliveries are
    byte-identical (the at-least-once model this operator targets);
    cross-batch conflict arbitration is pinned directly (Spark-only) in
    tests/test_streaming_neardedup.py::test_conflicting_id_first_arrival_wins."""
    import tempfile

    state_dir = tempfile.mkdtemp(prefix="bdt_neardedup_")
    src = stream_documents(spark, sf_dir)
    with _state_scaled_shuffle(spark, sf_dir):
        q = (
            src.writeStream.foreachBatch(
                lambda bdf, bid: neardedup_apply_batch(
                    spark, state_dir, bdf, batch_id=bid
                )
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
    # materialize the (pair-list-sized) result off the state dir, then
    # remove it: every invocation used to leak a corpus-scale directory
    # of shingle sets/bands/results in /tmp (r11 ADVICE). The stage must
    # stay eager ("shared") — the returned frame must not reference the
    # deleted parquet paths.
    import shutil

    out = stage(_read_neardedup_results(spark, state_dir))
    shutil.rmtree(state_dir, ignore_errors=True)
    return out


_SINK8 = "streaming_parity_quality"


from ..operators.text import _QUALITY_ORACLE


@register("docs_streaming_quality_parity", oracle=_QUALITY_ORACLE)
def docs_streaming_quality_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING QUALITY GATE parity — the at-ingest document scoring
    pass (the eighth streaming shape): ``quality_frame`` runs map-side
    over each micro-batch of documents (stateless — no watermark, no
    state store), append-mode into the memory sink, so the union of
    batches IS the batch answer and the oracle is
    ``doc_quality_score``'s verbatim. This is the shape a training
    pipeline actually deploys first: score and tier documents AS THEY
    ARRIVE, so downstream dedup/sampling read a pre-filtered stream
    instead of re-scanning the corpus. Scale: zero shuffle, zero state —
    pure scan→project throughput on every executor."""
    from ..operators.text import quality_frame

    docs = stream_documents(spark, sf_dir)
    scored = quality_frame(docs)
    with _state_scaled_shuffle(spark, sf_dir):
        q = (
            scored.writeStream.format("memory")
            .queryName(_SINK8)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
    return spark.table(_SINK8)
