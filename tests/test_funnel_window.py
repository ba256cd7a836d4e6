"""Timed-funnel boundary semantics: a step landing EXACTLY at the 24h
limit converts (<=, not <); one millisecond later does not. Differential
vs the registered oracle on the same synthetic files."""

from __future__ import annotations

import datetime as dt
import os

from bigdatatiler_spark.registry import load_all
from tools.check_oracle import oracle_connection, table_hash

T0 = dt.datetime(2025, 6, 1)
DAY_MS = 86_400_000


def _write_fixture(spark, path):
    rows = []
    eid = 0

    def ev(user, offset_ms, ty):
        nonlocal eid
        eid += 1
        rows.append(
            (eid, T0 + dt.timedelta(milliseconds=offset_ms), user, ty, 1.0, "{}")
        )

    # user 1: view EXACTLY at the 24h boundary → converts step 2
    ev(1, 0, "signup"); ev(1, DAY_MS, "view")
    # user 2: view one ms past the boundary → does NOT convert
    ev(2, 0, "signup"); ev(2, DAY_MS + 1, "view")
    # user 3: full chain, each step inside its window, but the purchase
    # is 3 days after signup (windows anchor per-step, not at signup)
    ev(3, 0, "signup")
    ev(3, DAY_MS - 1, "view")
    ev(3, 2 * DAY_MS - 2, "click")
    ev(3, 3 * DAY_MS - 3, "purchase")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "events.parquet")
    )


def test_funnel_window_boundary(spark, tmp_path):
    path = str(tmp_path)
    _write_fixture(spark, path)
    spec = load_all()["events_funnel_windowed"]
    sdf = spec.fn(spark, path)
    srows = [tuple(r) for r in sdf.collect()]
    (n_signup, n_view, n_click, n_purchase, rate) = srows[0]
    assert (n_signup, n_view, n_click, n_purchase) == (3, 2, 1, 1)
    assert rate == 3333  # 1/3 on the e4 grid, floored
    con = oracle_connection(path)
    res = con.execute(spec.oracle)
    ocols = [d[0] for d in res.description]
    assert sorted(sdf.columns) == sorted(ocols)
    assert table_hash(list(sdf.columns), srows) == table_hash(
        ocols, res.fetchall()
    )


def test_funnel_epoch_zero_signup_counts(spark, tmp_path):
    """An event at exactly epoch 0 is a valid timestamp: the fold's
    not-reached sentinel must not collide with it (regression for the
    0-sentinel; now -1). Both funnels share the fold, so one check
    covers both."""
    import datetime as dt
    import os

    from bigdatatiler_spark.registry import load_all

    rows = [
        (1, dt.datetime(1970, 1, 1, 0, 0, 0), 7, "signup", 1.0, "{}"),
        (2, dt.datetime(1970, 1, 1, 0, 30, 0), 7, "view", 1.0, "{}"),
    ]
    path = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "events.parquet")
    )
    for name in ("events_funnel_conversion", "events_funnel_windowed"):
        r = load_all()[name].fn(spark, path).collect()[0]
        assert (r.n_signup, r.n_view) == (1, 1), name


def test_day_bucketing_pre_1970_matches_oracle(spark, tmp_path):
    """Pre-1970 timestamps: Spark floors epoch-day while DuckDB's //
    truncates toward zero — the oracles now use floor() too; this pins
    the day-window family on a fixture straddling the epoch."""
    import datetime as dt
    import os

    from bigdatatiler_spark.registry import load_all

    rows = [
        (1, dt.datetime(1969, 12, 31, 23, 0, 0), 1, "view", 1.0, "{}"),
        (2, dt.datetime(1970, 1, 1, 1, 0, 0), 1, "view", 1.0, "{}"),
        (3, dt.datetime(1970, 1, 1, 2, 0, 0), 2, "view", 1.0, "{}"),
    ]
    path = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "events.parquet")
    )
    con = oracle_connection(path)
    for name in ("events_rolling_7d_active_users", "events_dau_mau_stickiness"):
        spec = load_all()[name]
        sdf = spec.fn(spark, path)
        srows = [tuple(r) for r in sdf.collect()]
        # day -1 must appear (floor, not truncate-to-0)
        assert min(r[0] for r in srows) == -1, name
        res = con.execute(spec.oracle)
        ocols = [d[0] for d in res.description]
        assert table_hash(list(sdf.columns), srows) == table_hash(
            ocols, res.fetchall()
        ), name


def test_decayed_engagement_weight_semantics(spark, tmp_path):
    """Half-life semantics on constructed ages: weight e6 of an event
    exactly one half-life old is 500000; the newest event weighs
    1000000; two-half-life events weigh 250000 — and the per-user sum
    is the integer sum of floored weights."""
    import datetime as dt
    import os

    from bigdatatiler_spark.registry import load_all

    t0 = dt.datetime(2025, 1, 15)
    rows = [
        (1, t0, 1, "view", 1.0, "{}"),                          # ref, w=1e6
        (2, t0 - dt.timedelta(days=7), 1, "view", 1.0, "{}"),   # w=5e5
        (3, t0 - dt.timedelta(days=14), 2, "view", 1.0, "{}"),  # w=25e4
    ]
    path = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "events.parquet")
    )
    got = {
        r.user_id: r.decayed_score_e6
        for r in load_all()["events_decayed_engagement"].fn(spark, path).collect()
    }
    assert got == {1: 1500000, 2: 250000}
