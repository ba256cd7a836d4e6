"""Approximate (sketch) aggregates: the one-pass, mergeable profile ops a
100 TB deployment uses where exact distinct/percentile would need a
per-group sort or a distinct shuffle.

Sketches are engine-specific (not DuckDB-comparable), so they are tested
here for accuracy-vs-exact and for MERGEABILITY — the property that makes
them scale: partial sketches from independent partitions must combine to
the same estimate as one global pass.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_approx_count_distinct_accuracy(spark):
    n = 10_000
    df = spark.range(n).select((F.col("id") % 3000).alias("k"))
    exact = df.select(F.count_distinct("k")).first()[0]
    approx = df.select(F.approx_count_distinct("k", rsd=0.02)).first()[0]
    assert exact == 3000
    assert abs(approx - exact) / exact < 0.05


def test_approx_percentile_tracks_exact(spark):
    df = spark.range(100_000).select(F.col("id").cast("double").alias("v"))
    approx, exact = df.select(
        F.percentile_approx("v", 0.5, 10_000).alias("a"),
        F.percentile(F.col("v"), F.lit(0.5)).alias("e"),
    ).first()
    assert abs(approx - exact) / exact < 0.01


def test_kmv_estimate_within_bound(spark):
    """The portable KMV estimator's relative error stays inside the
    theoretical ~1/sqrt(K-2) bound (with slack) on a known cardinality."""
    from bigdatatiler_spark.operators.sketches import KMV_K, _HASH_SPACE, _hv32
    from pyspark.sql import Window

    n_distinct = 5000
    df = spark.range(50_000).select((F.col("id") % n_distinct).alias("k"))
    w = Window.orderBy("hv")
    kth = (
        df.select(_hv32(F.col("k")).alias("hv"))
        .distinct()
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == KMV_K)
        .first()["hv"]
    )
    est = (KMV_K - 1) * _HASH_SPACE / kth
    assert abs(est - n_distinct) / n_distinct < 3.0 / (KMV_K - 2) ** 0.5


def test_approx_top_k_exact_when_domain_fits(spark):
    """approx_top_k degrades to exact counts when tracked capacity covers
    the domain — the property sketch_topk_native's oracle relies on."""
    df = spark.range(9_000).select((F.col("id") % 7).cast("string").alias("k"))
    rows = (
        df.agg(F.explode(F.expr("approx_top_k(k, 7)")).alias("e"))
        .select("e.item", "e.count")
        .collect()
    )
    got = {r["item"]: r["count"] for r in rows}
    exact = {
        r["k"]: r["n"]
        for r in df.groupBy("k").agg(F.count("*").alias("n")).collect()
    }
    assert got == exact


def test_topk_domain_fits_capacity(spark):
    """sketch_topk_native's oracle (a plain GROUP BY) is valid only while
    k ≥ |domain(event_type)| — pin that the data generator's domain stays
    far under the query's k=100 so a future generation can't silently
    turn the comparison into a lossy cut-off."""
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    n_types = ev.select(F.count_distinct("event_type")).first()[0]
    assert n_types <= 50, f"event_type domain ({n_types}) nearing approx_top_k k=100"


def test_kmv_small_group_is_exact(spark, tmp_path):
    """A group with fewer than K distinct keys must report its exact
    cardinality on BOTH engines, not the ~K bias of the unfilled-sketch
    formula — exercised through the registered query + its oracle on a
    synthetic 5-distinct events table."""
    from bigdatatiler_spark.operators.sketches import sketch_kmv_distinct
    from bigdatatiler_spark.registry import QUERIES
    from tools.check_oracle import oracle_connection

    # ts in int64 nanos: the canonical table() loader derives ts/ts_ns on
    # every events read (and its schema canary requires the full column
    # contract), so the synthetic table carries all events columns
    df = spark.createDataFrame(
        [
            (i, "tiny", f"u{i % 5}", 1_700_000_000_000_000_000 + i, 1.0, "{}")
            for i in range(20)
        ],
        "event_id long, event_type string, user_id string, ts long,"
        " value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))

    out = sketch_kmv_distinct(spark, str(tmp_path)).first()
    assert out["exact_distinct"] == 5 and out["kmv_estimate"] == 5.0

    con = oracle_connection(str(tmp_path))
    row = con.execute(QUERIES["sketch_kmv_distinct"].oracle).fetchone()
    assert row[1] == 5 and row[2] == 5.0, row


def test_frequent_tokens_is_superset_free(spark):
    """Exact heavy hitters: every returned token clears the support
    threshold and nothing below it leaks in."""
    from bigdatatiler_spark.operators.sketches import FREQ_SUPPORT, sketch_frequent_tokens

    rows = sketch_frequent_tokens(spark, "/root/testdata/sf0.001").collect()
    assert rows, "expected at least one heavy hitter"
    for r in rows:
        assert r["support"] > FREQ_SUPPORT - 1e-9


def test_hll_sketches_merge(spark):
    """Partial HLL sketches built per-partition union to the global
    estimate — the mergeability contract that lets distinct-count run as
    a map-side combine at any scale."""
    df = spark.range(20_000).select(
        (F.col("id") % 2).alias("part"), (F.col("id") % 5000).alias("k")
    )
    partials = df.groupBy("part").agg(F.hll_sketch_agg("k").alias("sk"))
    merged = partials.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    ).first()["est"]
    global_est = df.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("k")).alias("est")
    ).first()["est"]
    assert abs(merged - 5000) / 5000 < 0.05
    assert merged == global_est


def test_countmin_estimate_is_one_sided(spark):
    """CMS point estimates can only overestimate: est ≥ exact for every
    reported token (the sketch's defining guarantee)."""
    from bigdatatiler_spark.operators.sketches import sketch_countmin_tokens

    rows = sketch_countmin_tokens(spark, "/root/testdata/sf0.001").collect()
    assert rows, "CMS query returned no rows"
    assert all(r["cms_estimate"] >= r["exact_occurrences"] for r in rows)


def test_countmin_cells_merge_across_shards(spark):
    """Sketch mergeability: CMS cells built on two disjoint halves of a
    stream, added cell-wise, equal the cells of the whole stream — the
    property that lets shards/windows fold without rescanning."""
    from pyspark.sql import functions as F

    def cells(df):
        cnt = df.groupBy("token").agg(F.count("*").alias("c"))
        rows = F.explode(F.sequence(F.lit(0), F.lit(3))).alias("r")
        salted = F.conv(
            F.substring(
                F.md5(F.concat(F.col("r").cast("string"), F.lit("|"), F.col("token"))),
                1, 8,
            ), 16, 10,
        ).cast("bigint")
        out = (
            cnt.select("token", "c", rows)
            .select("r", (salted % 256).alias("col"), "c")
            .groupBy("r", "col").agg(F.sum("c").alias("v"))
        )
        return {(r["r"], r["col"]): r["v"] for r in out.collect()}

    words = [f"w{i % 17}" for i in range(400)]
    whole = spark.createDataFrame([(w,) for w in words], ["token"])
    h1 = spark.createDataFrame([(w,) for w in words[:150]], ["token"])
    h2 = spark.createDataFrame([(w,) for w in words[150:]], ["token"])
    c1, c2, cw = cells(h1), cells(h2), cells(whole)
    merged = {}
    for d in (c1, c2):
        for k, v in d.items():
            merged[k] = merged.get(k, 0) + v
    assert merged == cw


def test_kmv_join_estimate_branches_and_accuracy(spark, tmp_path):
    """The estimator on constructed key sets: the small-set branch must
    be EXACT (sketch holds the whole set), and the sketch branch must
    land within the KMV error envelope on a 60%-overlap pair."""
    import os

    from bigdatatiler_spark.registry import load_all

    def write(path, a_keys, b_keys):
        spark.createDataFrame(
            [(k, f"c{k}", 0) for k in a_keys],
            "c_custkey long, c_name string, c_nationkey long",
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(path, "customer.parquet")
        )
        import datetime as dt

        d = dt.datetime(2025, 1, 1)
        spark.createDataFrame(
            [(i, k, "O", 1.0, d, "1-URGENT") for i, k in enumerate(b_keys)],
            "o_orderkey long, o_custkey long, o_orderstatus string, "
            "o_totalprice double, o_orderdate timestamp, "
            "o_orderpriority string",
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(path, "orders.parquet")
        )

    fn = load_all()["sketch_kmv_join_estimate"].fn

    small = str(tmp_path / "small")
    write(small, range(10), range(5, 15))  # union 15, intersection 5 < K
    r = fn(spark, small).collect()[0]
    assert (r.est_union_e2, r.est_intersection_e2) == (1500, 500)
    assert (r.exact_union, r.exact_intersection) == (15, 5)

    big = str(tmp_path / "big")
    write(big, range(1000), range(400, 1400))  # union 1400, inter 600
    r = fn(spark, big).collect()[0]
    assert (r.exact_union, r.exact_intersection) == (1400, 600)
    # k=64 → se ≈ 1/sqrt(62) ≈ 12.7%; allow 4 se on union, wider on the
    # intersection (ratio estimator compounds both errors)
    assert abs(r.est_union_e2 / 100 - 1400) <= 0.51 * 1400
    assert abs(r.est_intersection_e2 / 100 - 600) <= 0.7 * 600


def test_equidepth_histogram_depth_and_order(spark):
    """Equi-depth contract on the real fixture: bucket sizes differ by
    at most 1, buckets tile the value range in order, and total rows
    equal the customer count."""
    from bigdatatiler_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    rows = sorted(
        (
            (r.bucket, r.n_customers, r.lo_cents, r.hi_cents)
            for r in load_all()["customer_revenue_equidepth"].fn(spark, sf).collect()
        )
    )
    sizes = [r[1] for r in rows]
    assert max(sizes) - min(sizes) <= 1
    for (b1, _, _, hi1), (b2, _, lo2, _) in zip(rows, rows[1:]):
        assert b2 == b1 + 1
        assert lo2 >= hi1  # value ranges are ordered (ties may touch)
    from bigdatatiler_spark.tables import table

    n_cust = (
        table(spark, sf, "orders").select("o_custkey").distinct().count()
    )
    assert sum(sizes) == n_cust


def test_selectivity_estimate_within_histogram_error(spark):
    """On the real fixture each estimate must land within the
    equi-depth error envelope: a range predicate's true count differs
    from the interpolated estimate by at most ~2 boundary buckets plus
    interpolation slack (generous bound: 3 bucket depths + 10%)."""
    from bigdatatiler_spark.operators.sketches import HIST_BUCKETS
    from bigdatatiler_spark.registry import load_all
    from bigdatatiler_spark.tables import table

    sf = "/root/testdata/sf0.01"
    rows = load_all()["orders_selectivity_report"].fn(spark, sf).collect()
    n_cust = table(spark, sf, "orders").select("o_custkey").distinct().count()
    depth = n_cust / HIST_BUCKETS
    assert len(rows) == 3
    for r in rows:
        bound = 3 * depth + 0.1 * max(r.actual_rows, 1)
        assert abs(r.est_rows - r.actual_rows) <= bound, (
            r.pred_id, r.est_rows, r.actual_rows, bound,
        )


def test_bitmap_distinct_matches_count_distinct(spark, sf_dir):
    """The bitmap-word rollup is EXACT: equals count(DISTINCT user_id)
    per event type, including negative ids decomposed via double-mod."""
    from pyspark.sql import functions as F

    from bigdatatiler_spark.operators.sketches import events_bitmap_distinct
    from bigdatatiler_spark.tables import table

    got = {
        r["event_type"]: r["n_users_bitmap"]
        for r in events_bitmap_distinct(spark, sf_dir).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert got == exact


def test_bitmap_distinct_negative_ids(spark):
    from pyspark.sql import functions as F

    # -1 and -64 land in distinct words with in-range bits; count is exact
    df = spark.createDataFrame(
        [("t", -1), ("t", -64), ("t", -1), ("t", 63), ("t", 0)],
        ["event_type", "user_id"],
    )
    w = 32
    bit = ((F.col("user_id") % w) + w) % w
    words = (
        df.select(
            "event_type",
            bit.alias("bit"),
            F.expr(f"(user_id - (((user_id % {w}) + {w}) % {w})) div {w}").alias("word"),
        )
        .groupBy("event_type", "word")
        .agg(
            F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))")).alias(
                "mask"
            )
        )
    )
    n = words.agg(F.sum(F.bit_count("mask")).alias("n")).first()["n"]
    assert n == 4


def test_sliding_bitmap_matches_dedup_recount(spark, sf_dir):
    """The merged per-day bitmap path is EXACT: for every observed day,
    active_7d equals a first-principles distinct count over the trailing
    7-day window of raw events."""
    from pyspark.sql import functions as F

    from bigdatatiler_spark.operators._util import ms
    from bigdatatiler_spark.operators.sketches import (
        events_sliding_bitmap_distinct,
    )
    from bigdatatiler_spark.tables import table

    got = {
        r["day"]: r["active_7d"]
        for r in events_sliding_bitmap_distinct(spark, sf_dir).collect()
    }
    du = (
        table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select(
            F.floor(ms("ts") / F.lit(86400000)).cast("long").alias("day"),
            "user_id",
        )
        .distinct()
        .collect()
    )
    days = sorted({r["day"] for r in du})
    assert set(got) == set(days)
    for d in days:
        users = {r["user_id"] for r in du if d - 6 <= r["day"] <= d}
        assert got[d] == len(users), d


def test_sliding_bitmap_window_edges(spark):
    """Day exactly 6 back is IN the trailing window; day 7 back is OUT;
    unobserved days emit no row even when their window is non-empty."""
    import datetime as dt

    from bigdatatiler_spark.operators.sketches import (
        events_sliding_bitmap_distinct,
    )

    rows = [
        (1, dt.datetime(2024, 1, 1), 10, "c", 1.0, "{}"),  # day a
        (2, dt.datetime(2024, 1, 7), 11, "c", 1.0, "{}"),  # day a+6: in window
        (3, dt.datetime(2024, 1, 9), 10, "c", 1.0, "{}"),  # day a+8: a is out
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        df.write.parquet(os.path.join(tmp, "events.parquet"))
        got = {
            r["day"]: r["active_7d"]
            for r in events_sliding_bitmap_distinct(spark, tmp).collect()
        }
    day0 = rows[0][1].toordinal() - dt.date(1970, 1, 1).toordinal()
    assert got == {day0: 1, day0 + 6: 2, day0 + 8: 2}
