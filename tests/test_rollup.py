"""Partition-scoped MERGE upsert and the gap-filled rollup queries.

``merge_upsert`` rewrites only the partitions it touches (untouched
directories keep their files byte-for-byte).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row

from bigdatatiler_spark.sources.rollup import merge_upsert


def _part_files(path: str) -> dict[str, set[tuple[str, float]]]:
    out: dict[str, set[tuple[str, float]]] = {}
    for d in os.listdir(path):
        full = os.path.join(path, d)
        if not (os.path.isdir(full) and "=" in d):
            continue
        out[d] = {
            (f, os.path.getmtime(os.path.join(full, f)))
            for f in os.listdir(full)
            if f.endswith(".parquet")
        }
    return out


def test_merge_upsert_updates_and_inserts(spark, tmp_path):
    path = str(tmp_path / "target")
    base = spark.createDataFrame(
        [Row(k=i, v=f"old{i}", p=("a" if i % 2 == 0 else "b")) for i in range(10)]
    )
    base.write.partitionBy("p").parquet(path)
    before = _part_files(path)

    updates = spark.createDataFrame(
        [Row(k=3, v="new3", p="b"), Row(k=99, v="new99", p="b")]
    )
    merge_upsert(spark, path, updates, keys=("k",), partition_col="p")

    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got[3] == "new3" and got[99] == "new99" and got[4] == "old4"
    assert len(got) == 11

    after = _part_files(path)
    assert before["p=a"] == after["p=a"], "untouched partition was rewritten"
    assert before["p=b"] != after["p=b"]


def test_merge_upsert_requires_keys(spark, tmp_path):
    with pytest.raises(ValueError):
        merge_upsert(spark, str(tmp_path), spark.range(1), keys=())


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
