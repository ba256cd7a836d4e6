"""LogStore + filtered_scan unit tests (reference semantics, SURVEY.md §2.12
intended-behavior fixes included)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from bigdatatiler_spark.logstore import LogStore, filtered_scan


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def events_df(spark):
    rows = [
        # event_id, ts, user_id, event_type
        (1, _ts("2024-01-01 10:00:00"), "u1", "click"),
        (2, _ts("2024-01-01 11:00:00"), "u1", "click"),
        (3, _ts("2024-01-01 12:00:00"), "u1", "view"),
        (4, _ts("2024-01-01 12:00:00"), "u2", "click"),  # boundary ts
        (5, _ts("2024-01-01 13:00:00"), "u2", "click"),
    ]
    return spark.createDataFrame(rows, ["event_id", "ts", "user_id", "event_type"])


def test_half_open_interval(spark, events_df):
    """O11: >= start AND < end (BigDataLogControl.cs:259-263) — a row at
    exactly `end` must be excluded, at exactly `start` included."""
    out = filtered_scan(
        events_df,
        between=(_ts("2024-01-01 10:00:00"), _ts("2024-01-01 12:00:00")),
        limit=None,
    ).collect()
    assert sorted(r["event_id"] for r in out) == [1, 2]


def test_conditional_predicates(spark, events_df):
    """O9/O10/O12: each predicate appended only when present; the caller's
    user_id is honored (reference bug at BigDataLogControl.cs:285 fixed)."""
    assert filtered_scan(events_df, limit=None).count() == 5
    assert filtered_scan(events_df, user_id="u2", limit=None).count() == 2
    assert (
        filtered_scan(events_df, user_id="u1", event_type="click", limit=None).count()
        == 2
    )


def test_topk_desc_and_offset(spark, events_df):
    """O14/O15: newest-first with unique tiebreak; offset via row_number."""
    top = filtered_scan(events_df, user_id="u1", limit=2).collect()
    assert [r["event_id"] for r in top] == [3, 2]
    off = filtered_scan(events_df, user_id="u1", limit=2, offset=1).collect()
    assert [r["event_id"] for r in off] == [2, 1]


def test_logstore_write_read(spark, events_df, tmp_path):
    store = LogStore(spark, str(tmp_path / "logs"))
    store.create(events_df)
    # partition pruning path: user dir exists
    assert (tmp_path / "logs" / "user_id=u1").exists()
    assert store.point_read("u1", 2, id_col="event_id").count() == 1
    # a user-scoped read prunes directories on the partition column
    scoped = store.scan(user_id="u1")._jdf.queryExecution().toString()
    assert "PartitionFilters" in scoped
    # append (O3/O4) adds rows without clobbering
    store.append(events_df.where(F.col("event_id") == 5))
    assert store.df().count() == 6


def _files_per_user(root) -> dict[str, int]:
    return {
        d.name: len(list(d.glob("*.parquet"))) for d in root.glob("user_id=*")
    }


def _jobs_in_group(spark, group: str, fn) -> list[int]:
    """Run ``fn`` (plan build and action) under job group ``group``;
    returns the ids of the Spark jobs it started, in order."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


def test_logstore_one_file_per_user_per_write(spark, tmp_path):
    """create/append cluster rows by user before the partitioned write, so
    each write adds ONE file per user directory it touches, even when a
    user's rows arrive spread over many input partitions. The write stage
    runs spark.sql.shuffle.partitions tasks: AQE must not coalesce the
    user exchange into one task that writes every directory in turn."""
    rows = [(i, _ts("2024-01-01 10:00:00"), f"u{i % 3}", "click") for i in range(60)]
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "event_type"])
    store = LogStore(spark, str(tmp_path / "layout"))
    jobs = _jobs_in_group(spark, "logstore-create-write", lambda: store.create(df.repartition(6)))
    tracker = spark.sparkContext.statusTracker()
    write_stage = max(s for j in jobs for s in tracker.getJobInfo(j).stageIds)
    assert tracker.getStageInfo(write_stage).numTasks == int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    assert _files_per_user(tmp_path / "layout") == {
        "user_id=u0": 1, "user_id=u1": 1, "user_id=u2": 1,
    }
    store.append(df.where(F.col("user_id") != "u2").repartition(6))
    assert _files_per_user(tmp_path / "layout") == {
        "user_id=u0": 2, "user_id=u1": 2, "user_id=u2": 1,
    }
    assert store.df().count() == 100


def test_tile_bytecap_is_lazy(spark, tmp_path):
    """tile_bytecap over a parquet scan builds a plan only: no Spark job
    starts until an action runs it."""
    from bigdatatiler_spark.logstore.tile import tile_bytecap

    path = str(tmp_path / "src")
    spark.createDataFrame(
        [(i, "x" * (i * 500)) for i in range(20)], "id bigint, payload string"
    ).write.parquet(path)
    src = spark.read.parquet(path)
    sc = spark.sparkContext
    sc.setJobGroup("tile-bytecap-lazy", "tile_bytecap call")
    try:
        tiled = tile_bytecap(src, "payload", "id", max_zip_bytes=200)
        assert sc.statusTracker().getJobIdsForGroup("tile-bytecap-lazy") == []
        assert tiled.count() >= 20
        assert sc.statusTracker().getJobIdsForGroup("tile-bytecap-lazy")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_cursor_drain_is_disjoint_ordered_exhaustive(spark, events_df, tmp_path):
    """O6: the keyset cursor must drain the store in (ts DESC, id DESC)
    order with disjoint pages covering every row — the reference's
    FeedIterator loop contract, minus its MaxItemCount=1 pathology."""
    store = LogStore(spark, str(tmp_path / "cursor"))
    store.create(events_df)
    pages = list(store.cursor(page_size=2, id_col="event_id"))
    assert [len(p) for p in pages] == [2, 2, 1]
    ids = [r["event_id"] for p in pages for r in p]
    assert ids == [5, 4, 3, 2, 1]  # ts desc, id desc (4 ties 3 on ts)
    # partition-scoped drain honors the caller's user (SURVEY §2.12 fix)
    u1 = [r["event_id"] for p in store.cursor(user_id="u1", page_size=2, id_col="event_id") for r in p]
    assert u1 == [3, 2, 1]


def test_logstore_gather(spark, tmp_path):
    """O13 + O16: self-or-children fetch ordered by split_index."""
    rows = [
        ("u1", "p1", 0, 3, None),
        ("u1", "p1_split1", 1, 3, "p1"),
        ("u1", "p1_split2", 2, 3, "p1"),
        ("u1", "q9", 0, 1, None),
    ]
    df = spark.createDataFrame(
        rows, ["user_id", "id", "split_index", "total_splits", "parent_log_id"]
    )
    store = LogStore(spark, str(tmp_path / "chains"))
    store.create(df)
    got = store.gather("u1", "p1").collect()
    assert [r["id"] for r in got] == ["p1", "p1_split1", "p1_split2"]


def test_logstore_combined_reassembly(spark, tmp_path):
    """E3 end-to-end: gather + ordered merge in one plan, including the
    unsplit short-circuit (O18) as a 1-chunk group."""
    rows = [
        ("u1", "p1", 0, 3, None, "AAA"),
        ("u1", "p1_split1", 1, 3, "p1", "BBB"),
        ("u1", "p1_split2", 2, 3, "p1", "CCC"),
        ("u1", "q9", 0, 1, None, "solo"),
    ]
    df = spark.createDataFrame(
        rows,
        ["user_id", "id", "split_index", "total_splits", "parent_log_id", "chunk"],
    )
    store = LogStore(spark, str(tmp_path / "combined"))
    store.create(df)
    split = {r["record_id"]: r for r in store.combined("u1", "p1").collect()}
    assert split == {"p1": split["p1"]}
    assert split["p1"]["payload"] == "AAABBBCCC"
    assert split["p1"]["n_chunks"] == 3
    solo = store.combined("u1", "q9").first()
    assert (solo["payload"], solo["n_chunks"]) == ("solo", 1)


def test_logstore_reads_reuse_listing(spark, events_df, tmp_path):
    """Reads between two writes share one listed, schema-inferred relation:
    a read is one Spark job, not an inference job plus the read. A write
    through the store drops the relation, so the next read sees its rows;
    an append keeps the inferred schema, so that read is one job too."""
    store = LogStore(spark, str(tmp_path / "listing"))
    store.create(events_df)
    assert store.point_read("u1", 2, id_col="event_id").count() == 1
    jobs = _jobs_in_group(
        spark, "logstore-read-reuse",
        lambda: store.point_read("u1", 2, id_col="event_id").collect(),
    )
    assert len(jobs) == 1
    store.append(spark.createDataFrame(
        [(6, _ts("2024-01-01 14:00:00"), "u1", "view")], events_df.schema
    ))
    rows = []
    jobs = _jobs_in_group(
        spark, "logstore-read-after-append",
        lambda: rows.extend(store.point_read("u1", 6, id_col="event_id").collect()),
    )
    assert [r["event_type"] for r in rows] == ["view"]
    assert len(jobs) == 1
    assert store.df().count() == 6
    pages = []
    jobs = _jobs_in_group(
        spark, "logstore-cursor-reuse",
        lambda: pages.extend(store.cursor(page_size=2, id_col="event_id", max_pages=3)),
    )
    assert [len(p) for p in pages] == [2, 2, 2]
    assert len(jobs) == 3


def _plan_node_names(plan) -> list[str]:
    children = plan.children()
    names = [plan.nodeName()]
    for i in range(children.size()):
        names += _plan_node_names(children.apply(i))
    return names


def test_logstore_combined_has_no_sort(spark, tmp_path):
    """combined hands gather's rows to reassemble unsorted: reassemble
    orders chunks inside its aggregate, so a global sort is dead work."""
    rows = [
        ("u1", "p1", 0, 2, None, "AA"),
        ("u1", "p1_split1", 1, 2, "p1", "BB"),
    ]
    df = spark.createDataFrame(
        rows,
        ["user_id", "id", "split_index", "total_splits", "parent_log_id", "chunk"],
    )
    store = LogStore(spark, str(tmp_path / "nosort"))
    store.create(df)
    out = store.combined("u1", "p1")
    assert "Sort" not in _plan_node_names(out._jdf.queryExecution().optimizedPlan())
    assert [(r["record_id"], r["payload"]) for r in out.collect()] == [("p1", "AABB")]
