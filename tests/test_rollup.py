"""The gap-filled rollup queries on sparse hours."""

from __future__ import annotations

from pyspark.sql import Row


def test_gapfill_and_locf_on_sparse_hours(spark, tmp_path):
    """The sf fixtures are hour-dense; prove the gap semantics on a
    synthetic events table with real holes (hours 0,1,4 of one day)."""
    import datetime as dt

    from bigdatatiler_spark.registry import load_all

    base = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
    rows = [
        Row(event_id=1, ts=base, user_id=1, event_type="click", value=1.0, props="{}"),
        Row(event_id=2, ts=base + dt.timedelta(hours=1), user_id=1,
            event_type="click", value=2.5, props="{}"),
        Row(event_id=3, ts=base + dt.timedelta(hours=4), user_id=2,
            event_type="buy", value=10.0, props="{}"),
    ]
    sf_dir = str(tmp_path)
    spark.createDataFrame(rows).write.parquet(f"{sf_dir}/events.parquet")

    specs = load_all()
    gap = {r["bucket_ms"]: (r["n_events"], r["is_gap"])
           for r in specs["events_hourly_gapfill"].fn(spark, sf_dir).collect()}
    locf = {r["bucket_ms"]: r["value_cents_locf"]
            for r in specs["events_gapfill_locf"].fn(spark, sf_dir).collect()}

    h0 = int(base.timestamp() * 1000)
    hr = 3_600_000
    assert len(gap) == 5  # hours 0..4 inclusive
    assert gap[h0] == (1, 0) and gap[h0 + hr] == (1, 0)
    assert gap[h0 + 2 * hr] == (0, 1) and gap[h0 + 3 * hr] == (0, 1)
    assert gap[h0 + 4 * hr] == (1, 0)
    # locf: gap hours 2,3 carry hour 1's 250 cents; hour 4 is fresh
    assert locf[h0] == 100 and locf[h0 + hr] == 250
    assert locf[h0 + 2 * hr] == 250 and locf[h0 + 3 * hr] == 250
    assert locf[h0 + 4 * hr] == 1000
