"""The shared near-dup and session kernels on hand-built frames:
``dedup.band_pairs`` (LSH candidate rule), ``dedup.verified_pairs`` (e6
Jaccard verify) and ``windows._sessions`` (30-minute sessionizer)."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdatatiler_spark.operators.dedup import band_pairs, verified_pairs
from bigdatatiler_spark.operators.windows import _sessions


def test_band_pairs_one_row_per_pair(spark):
    bands = spark.createDataFrame(
        [
            (1, 0, "k0"), (2, 0, "k0"),  # docs 1 and 2 share two bands
            (1, 1, "k1"), (2, 1, "k1"),
            (3, 2, "x"), (2, 2, "x"),  # the larger id listed first
            (4, 3, "alone"),
            (5, 4, "y"), (6, 5, "y"),  # same key, different band: no pair
        ],
        ["doc_id", "band_id", "band_key"],
    )
    got = band_pairs(bands)
    assert got.columns == ["doc_id_1", "doc_id_2"]
    assert sorted(tuple(r) for r in got.collect()) == [(1, 2), (2, 3)]


def test_verified_pairs_threshold_is_inclusive_on_e6_grid(spark):
    # docs 1/2: |∩| = 120001, |∪| = 200002, just under 0.6 on the e6 grid;
    # docs 3/4: 3 of 5, exactly 0.6. Doc d's shingles are str(lo..hi).
    assert 120001 * 10**6 // 200002 == 599999
    sh = spark.createDataFrame(
        [(1, 0, 160000), (2, 40000, 200001), (3, 0, 3), (4, 1, 4)],
        ["doc_id", "lo", "hi"],
    ).select(
        "doc_id",
        F.transform(F.sequence("lo", "hi"), lambda i: i.cast("string")).alias("sh"),
    )
    cand = spark.createDataFrame([(1, 2), (3, 4)], ["doc_id_1", "doc_id_2"])
    got = verified_pairs(cand, sh)
    assert got.columns == ["doc_id_1", "doc_id_2", "jaccard_e6"]
    assert [tuple(r) for r in got.collect()] == [(3, 4, 600000)]


def test_sessions_gap_of_exactly_30_minutes_stays(spark):
    gap = 30 * 60 * 1_000_000
    t0 = 1_700_000_000_000_000
    ev = spark.createDataFrame(
        [
            (1, t0, 10, "view"),
            (1, t0 + gap, 11, "click"),  # exactly 30 min: same session
            (1, t0 + 2 * gap + 1, 12, "buy"),  # 30 min + 1 µs: new session
            (2, t0, 20, "view"),
        ],
        ["user_id", "us", "event_id", "event_type"],
    ).select("user_id", F.timestamp_micros("us").alias("ts"), "event_id", "event_type")
    got = _sessions(ev, F.lit(7).alias("x"))
    assert got.columns == [
        "user_id", "ts_us", "event_id", "event_type", "x", "new_sess", "sess_id",
    ]
    rows = sorted(
        (r["user_id"], r["event_id"], r["new_sess"], r["sess_id"], r["x"])
        for r in got.collect()
    )
    assert rows == [
        (1, 10, 1, 1, 7),
        (1, 11, 0, 1, 7),
        (1, 12, 1, 2, 7),
        (2, 20, 1, 1, 7),
    ]
