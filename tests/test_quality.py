"""Constraint-audit semantics on deliberately dirty data (the fixture
tables are clean, so every violation class is pinned synthetically)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from bigdatatiler_spark.operators.quality import (
    audit,
    duplicate_key_count,
    fk_orphan_count,
)


@pytest.fixture(scope="module")
def dirty(spark):
    child = spark.createDataFrame(
        [
            Row(k=1, fk=10, price=5.0, status="O"),
            Row(k=1, fk=10, price=-2.0, status="O"),   # dup key + bad price
            Row(k=2, fk=None, price=3.0, status="X"),  # null fk + bad status
            Row(k=3, fk=99, price=0.0, status="F"),    # orphan fk + zero price
        ]
    )
    parent = spark.createDataFrame([Row(pk=10), Row(pk=11)])
    return child, parent


def test_duplicate_and_orphan_counts(spark, dirty):
    child, parent = dirty
    assert duplicate_key_count(child, ("k",)).first()["dup_k"] == 1
    # null fk doesn't match any parent → anti-join keeps it: 1 orphan (99)
    # plus the NULL row = 2 (a null FK is both a null violation and,
    # SQL-semantically, parentless)
    assert fk_orphan_count(child, parent, "fk", "pk").first()["orphan_fk"] == 2


def test_audit_combines_into_single_row(spark, dirty):
    child, parent = dirty
    combined = audit(
        [
            child.agg(F.count(F.lit(1)).alias("n_rows")),
            duplicate_key_count(child, ("k",)),
            fk_orphan_count(child, parent, "fk", "pk"),
        ]
    )
    row = combined.first()
    assert combined.count() == 1
    assert (row["n_rows"], row["dup_k"], row["orphan_fk"]) == (4, 1, 2)


def test_clean_table_audits_zero(spark):
    clean = spark.createDataFrame([Row(k=i, v=i * 2) for i in range(5)])
    assert duplicate_key_count(clean, ("k",)).first()["dup_k"] == 0


def test_checksums_localize_single_row_divergence(spark):
    """Anti-entropy semantics: identical frames agree everywhere; one
    changed row flags exactly its own bucket."""
    from pyspark.sql import functions as F

    from bigdatatiler_spark.operators.quality import N_CK_BUCKETS, bucket_checksums
    from bigdatatiler_spark.tables import table

    def diverging(a, b):
        sa = {r.bucket: (r.n_rows, r.sig_sum) for r in a.collect()}
        sb = {r.bucket: (r.n_rows, r.sig_sum) for r in b.collect()}
        return sorted(k for k in sa.keys() | sb.keys() if sa.get(k) != sb.get(k))

    ev = table(spark, "/root/testdata/sf0.001", "events")
    rep = F.concat_ws("|", "event_id", "user_id", "event_type")
    a = bucket_checksums(ev, F.col("event_id"), rep)
    assert diverging(a, a) == []

    mutated = ev.withColumn(
        "user_id",
        F.when(F.col("event_id") == 123, F.col("user_id") + 1).otherwise(
            F.col("user_id")
        ),
    )
    b = bucket_checksums(mutated, F.col("event_id"), rep)
    assert diverging(a, b) == [123 % N_CK_BUCKETS]


def test_fk_edge_profile_synthetic(spark):
    """All four RI stats on a synthetic edge with orphans, duplicate
    child keys, and unreferenced parents at once."""
    from bigdatatiler_spark.operators.quality import fk_edge_profile

    child = spark.createDataFrame(
        [(1,), (1,), (2,), (7,), (7,), (7,)], "fk long"
    )
    parent = spark.createDataFrame([(1,), (2,), (3,), (4,)], "pk long")
    row = fk_edge_profile(child, parent, "fk", "pk", "t").collect()[0]
    assert row.edge == "t"
    assert row.n_child == 6
    assert row.n_child_keys == 3       # {1, 2, 7}
    assert row.n_orphans == 3          # the three fk=7 rows
    assert row.n_unref_parents == 2    # {3, 4}


def test_fk_edge_profile_empty_child(spark):
    from bigdatatiler_spark.operators.quality import fk_edge_profile

    child = spark.createDataFrame([], "fk long")
    parent = spark.createDataFrame([(1,), (2,)], "pk long")
    row = fk_edge_profile(child, parent, "fk", "pk", "t").collect()[0]
    assert (row.n_child, row.n_child_keys, row.n_orphans, row.n_unref_parents) == (
        0, 0, 0, 2,
    )


def test_fk_edge_profile_null_child_keys_and_dup_parents(spark):
    """NULL child keys are orphans, never unreferenced parents; the
    unreferenced-parent stat counts distinct KEYS even when the parent
    side is not key-unique; NULL parent keys are ignored entirely."""
    from bigdatatiler_spark.operators.quality import fk_edge_profile

    child = spark.createDataFrame([(None,), (None,), (1,)], "fk long")
    parent = spark.createDataFrame(
        [(1,), (3,), (3,), (None,)], "pk long"
    )
    row = fk_edge_profile(child, parent, "fk", "pk", "t").collect()[0]
    assert row.n_child == 3
    assert row.n_child_keys == 1        # NULLs excluded, like count(DISTINCT)
    assert row.n_orphans == 2           # both NULL-key rows
    assert row.n_unref_parents == 1     # key 3 once; NULL pk ignored


def test_weighted_median_definition(spark, sf_dir):
    """2*cumw >= totw picks the lower-weighted-middle price, ties to the
    smallest cents (total order), per group — checked by replaying the
    definition in plain Python on the same universe."""
    from pyspark.sql import functions as F

    from bigdatatiler_spark.operators.windows import lineitem_weighted_median_price
    from bigdatatiler_spark.tables import table

    got = {
        r["l_returnflag"]: (r["total_weight"], r["wmedian_cents"])
        for r in lineitem_weighted_median_price(spark, sf_dir).collect()
    }
    rows = (
        table(spark, sf_dir, "lineitem")
        .where((F.col("l_quantity") > 0) & ~F.isnan("l_quantity")
               & ~F.isnan("l_extendedprice")
               & (F.abs("l_extendedprice") < F.lit(1e16)))
        .select(
            "l_returnflag",
            (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("bigint").alias("cents"),
            F.col("l_quantity").cast("bigint").alias("wq"),
            "l_orderkey", "l_linenumber",
        )
        .collect()
    )
    from collections import defaultdict

    groups = defaultdict(list)
    for r in rows:
        groups[r["l_returnflag"]].append(
            (r["cents"], r["l_orderkey"], r["l_linenumber"], r["wq"])
        )
    for flag, items in groups.items():
        items.sort()
        tot = sum(w for *_k, w in items)
        cum = 0
        med = None
        for cents, _o, _l, w in items:
            cum += w
            if 2 * cum >= tot:
                med = cents
                break
        assert got[flag] == (tot, med), flag


def test_gopher_rules_flags(spark):
    """Each rule trips on a purpose-built document; a clean paragraph
    passes the conjunctive gate."""
    import os
    import tempfile

    from bigdatatiler_spark.operators.text import doc_gopher_quality_rules

    docs = [
        # 0: clean prose — passes everything
        (0, "en", "web", "the quick brown fox jumps over the lazy dog and "
                         "keeps running through the quiet field today", 0),
        # 1: too few words
        (1, "en", "web", "tiny doc", 0),
        # 2: symbol spam (hash marks)
        (2, "en", "web", "### ## # heading # spam ## markers # everywhere "
                         "# more # and # more # hashes # again", 0),
        # 3: bullet wall
        (3, "en", "web", "- one thing\n- two thing\n- three thing\n"
                         "- four thing\n- five thing", 0),
        # 4: non-alpha tokens
        (4, "en", "web", "12345 67890 11111 22222 33333 44444 55555 66666", 0),
    ]
    df = spark.createDataFrame(
        docs, ["doc_id", "lang", "source", "text", "n_chars"]
    )
    with tempfile.TemporaryDirectory() as tmp:
        df.write.parquet(os.path.join(tmp, "documents.parquet"))
        out = {
            r["doc_id"]: r.asDict()
            for r in doc_gopher_quality_rules(spark, tmp).collect()
        }
    assert out[0]["gate_pass"] == 1
    assert out[1]["pass_words"] == 0 and out[1]["gate_pass"] == 0
    assert out[2]["pass_symbol"] == 0 and out[2]["gate_pass"] == 0
    assert out[3]["pass_lines"] == 0 and out[3]["gate_pass"] == 0
    assert out[4]["pass_alpha"] == 0 and out[4]["gate_pass"] == 0


def test_hourly_trend_ols_exact_slope(spark, sf_dir):
    """Slope/mean replay: the emitted floor-scaled integers equal a
    pure-Python OLS over the same (rank, hourly count) series, and a
    type with a perfectly linear ramp yields its exact slope."""
    from bigdatatiler_spark.operators.quality import events_hourly_trend_ols
    from bigdatatiler_spark.tables import table
    from pyspark.sql import functions as F

    got = {
        r["event_type"]: r
        for r in events_hourly_trend_ols(spark, sf_dir).collect()
    }
    assert got
    hourly = (
        table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).alias("y"))
        .collect()
    )
    series: dict = {}
    for r in hourly:
        series.setdefault(r["event_type"], []).append((r["h"], r["y"]))
    for et, pts in series.items():
        pts.sort(key=lambda p: p[0])
        k = len(pts)
        if k < 2:
            assert et not in got
            continue
        xs = list(range(1, k + 1))
        ys = [y for _, y in pts]
        sx, sy = sum(xs), sum(ys)
        sxx = sum(x * x for x in xs)
        sxy = sum(x * y for x, y in zip(xs, ys))
        num = 1_000_000 * (k * sxy - sx * sy)
        den = k * sxx - sx * sx
        trunc = lambda a, b: -((-a) // b) if a < 0 else a // b  # noqa: E731
        assert got[et]["slope_e6"] == trunc(num, den), et
        assert got[et]["mean_e6"] == trunc(1_000_000 * sy, k), et
        assert got[et]["n_hours"] == k


def test_hourly_trend_ols_linear_ramp(spark):
    """A synthetic type whose hourly counts are exactly 10, 20, 30, 40
    has slope_e6 == 10_000_000 — the closed-form check that the rank
    formulation measures events-per-active-hour."""
    import datetime

    from bigdatatiler_spark.operators.quality import events_hourly_trend_ols

    rows = []
    eid = 0
    for hour, n in enumerate([10, 20, 30, 40]):
        for _ in range(n):
            rows.append(
                (
                    eid,
                    datetime.datetime(2024, 1, 1, hour, 30),
                    1,
                    "ramp",
                    1.0,
                    "{}",
                )
            )
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        df.coalesce(1).write.parquet(os.path.join(td, "events.parquet"))
        out = {
            r["event_type"]: r
            for r in events_hourly_trend_ols(spark, td).collect()
        }
    assert out["ramp"]["slope_e6"] == 10_000_000
    assert out["ramp"]["mean_e6"] == 25_000_000
    assert out["ramp"]["n_hours"] == 4
