"""Fuzz round 13 (a): MULTI-micro-batch streaming parity.

Every streaming parity query documents "the result equals the batch
answer no matter how AvailableNow splits the source" — but the driver
fixture is ONE parquet file, so every certified run to date executed as
a single micro-batch and the multi-batch state transitions (window-state
merge, dedup first-arrival, stream-stream join buffers, cumulative
applyInPandasWithState folds, update-mode re-emission) were never
actually exercised end to end.

This test makes the claim real: it splits the sf0.001 events fixture
into 4 part files under a DIRECTORY-shaped events.parquet (which
``stream_events`` streams with maxFilesPerTrigger=1 — one file per
micro-batch), runs all six streaming parity queries through the real
micro-batch engine over 4 genuine batch transitions, and hash-compares
against the batch DuckDB oracle over the SAME split files.

Three hostile split orders:
- ``rr`` (round-robin): every batch spans the full time range, so each
  key's state is revisited in every batch (maximum state churn);
- ``rev`` (reverse-time quarters): batch 1 holds the LATEST events and
  each later batch is entirely "late" relative to everything already in
  state — the worst case for any hidden watermark/late-drop assumption;
- ``hostile_rr`` (fuzz 15: content × batching COMPOSITION): the
  round-robin split applied to the HOSTILE-mutated fixture, so NULL
  keys, NaN metrics, pre-epoch/far-future timestamps, and duplicate
  rows cross micro-batch boundaries — each axis was green alone; this
  pins the product.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
import pytest

from bigdatatiler_spark.registry import load_all
from bigdatatiler_spark.tables import TABLES
from tools.check_oracle import oracle_connection, pandas_hash, table_hash

SRC = "/root/testdata/sf0.001"
N_SPLITS = 4

STREAMING_PARITIES = (
    "events_streaming_hourly_parity",
    "events_streaming_sliding_parity",
    "events_streaming_session_parity",
    "events_streaming_join_parity",
    "events_streaming_dedup_parity",
    "events_streaming_stateful_parity",
)


def _build_split(dest: str, order: str) -> None:
    """Copy the fixture with events split into N_SPLITS part files under
    a directory-shaped events.parquet."""
    src = SRC
    if order.startswith("hostile_"):
        from tools.hostile_fixtures import build as build_hostile

        src = os.path.join(dest, "_hostile_src")
        build_hostile(SRC, src)
        order = order[len("hostile_") :]
    os.makedirs(dest, exist_ok=True)
    for t in TABLES:
        p = os.path.join(src, f"{t}.parquet")
        if t != "events":
            if os.path.exists(p):
                shutil.copyfile(p, os.path.join(dest, f"{t}.parquet"))
            continue
        tbl = pq.read_table(p)
        evdir = os.path.join(dest, "events.parquet")
        os.makedirs(evdir, exist_ok=True)
        n = tbl.num_rows
        if order == "rr":
            parts = [
                tbl.take(list(range(k, n, N_SPLITS)))
                for k in range(N_SPLITS)
            ]
        else:  # reverse-time quarters: file 0 = latest events
            import pyarrow.compute as pc

            idx = pc.sort_indices(
                tbl, sort_keys=[("ts", "descending")],
                null_placement="at_start",
            )
            ordered = tbl.take(idx)
            step = (n + N_SPLITS - 1) // N_SPLITS
            parts = [
                ordered.slice(k * step, step) for k in range(N_SPLITS)
            ]
        for k, part in enumerate(parts):
            pq.write_table(part, os.path.join(evdir, f"part-{k:02d}.parquet"))


@pytest.fixture(scope="module", params=["rr", "rev", "hostile_rr"])
def split_dir(request, tmp_path_factory):
    dest = str(tmp_path_factory.mktemp(f"mbatch_{request.param}"))
    _build_split(dest, request.param)
    return dest


@pytest.fixture(scope="module")
def oracle_con(split_dir):
    con = oracle_connection(split_dir)
    return con


@pytest.mark.parametrize("name", STREAMING_PARITIES)
def test_multibatch_parity(name, spark, split_dir, oracle_con):
    import pandas as pd

    spec = load_all()[name]
    sdf = spec.fn(spark, split_dir)
    srows = [tuple(r) for r in sdf.collect()]
    scols = list(sdf.columns)
    res = oracle_con.execute(spec.oracle)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    opdf = oracle_con.execute(spec.oracle).df()

    assert sorted(scols) == sorted(ocols)
    sn, sh = table_hash(scols, srows)
    on, oh = table_hash(ocols, orows)
    assert sn == on, f"{name}: rowcount {sn} != {on} across micro-batches"
    assert sh == oh, f"{name}: value hash diverges across micro-batches"
    assert pandas_hash(pd.DataFrame(srows, columns=scols)) == pandas_hash(opdf), (
        f"{name}: pandas-materialization hash diverges across micro-batches"
    )
