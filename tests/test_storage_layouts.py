"""Fuzz round 14: parquet PHYSICAL-LAYOUT differential pins.

The driver regenerates the fixtures between rounds and has already
changed the time encoding twice (tables.py header). This axis recodes
the SAME data through the remaining writer knobs a regeneration could
plausibly flip — ``tools/hostile_fixtures.py --recode=<variant>`` — and
runs Spark and DuckDB over the same recoded files, so a divergence is a
reader-level decode difference:

- ``nodict_bss``      — dictionary off + BYTE_STREAM_SPLIT floats.
  **Class 49 (real, found this round):** Spark's vectorized parquet
  reader throws ``Unsupported encoding: BYTE_STREAM_SPLIT`` mid-query
  (batch AND FileStreamSource) while DuckDB decodes the file fine. The
  repair in ``tables._readable_path`` sniffs the footer and transcodes
  the file ONCE through Arrow (lossless — BSS is a byte shuffle) into a
  session-temp copy, keeping the vectorized scan + pushdown; the
  streaming source routes through the same repair.
- ``tiny_rowgroups_v2`` — 97-row row groups + DataPage V2 + zstd.
- ``gzip_reordered_extra`` — reversed column order + an EXTRA column
  (schema evolution: select-by-name, ignore unknowns) + gzip.
- ``ts_ms``           — millisecond-coerced timestamps.

Full 213-query sweeps over all four variants were green at the pinning
commit; this test keeps a representative subset (float scan, time
bucketing, text tokens, streaming) red-on-regression.
"""

from __future__ import annotations

import os

import pytest

from bigdatatiler_spark.registry import load_all
from tools.check_oracle import oracle_connection, table_hash
from tools.hostile_fixtures import RECODE_VARIANTS, build_recoded

#: float-heavy scan, hour bucketing, tokenizer, and the streaming engine
PINNED_QUERIES = (
    "tpch_q6_forecast_revenue",
    "events_hourly_rollup",
    "doc_token_stats",
    "events_streaming_hourly_parity",
)


@pytest.fixture(scope="module", params=RECODE_VARIANTS)
def recoded_dir(request, tmp_path_factory):
    dest = str(tmp_path_factory.mktemp(f"recode_{request.param}"))
    build_recoded("/root/testdata/sf0.001", dest, request.param)
    return dest


@pytest.fixture(scope="module")
def oracle_con(recoded_dir):
    con = oracle_connection(recoded_dir)
    return con


@pytest.mark.parametrize("name", PINNED_QUERIES)
def test_layout_differential(name, spark, recoded_dir, oracle_con):
    spec = load_all()[name]
    sdf = spec.fn(spark, recoded_dir)
    srows = [tuple(r) for r in sdf.collect()]
    res = oracle_con.execute(spec.oracle)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert sorted(sdf.columns) == sorted(ocols)
    sn, sh = table_hash(list(sdf.columns), srows)
    on, oh = table_hash(ocols, orows)
    assert sn == on, f"{name}: rowcount {sn} != {on} on recoded layout"
    assert sh == oh, f"{name}: value hash diverges on recoded layout"


def test_bss_shadow_refreshes_after_in_place_regeneration(spark, tmp_path):
    """ADVICE r9 (medium): the shadow dir for BSS-repaired directory
    tables was keyed on the directory PATH alone with create-if-absent
    symlinks, so an in-place fixture regeneration kept serving the OLD
    transcoded data. The fix keys the shadow on the resolved member set
    (abspath, mtime_ns, size, target) and re-points symlinks
    unconditionally — this test is the reproduced scenario."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigdatatiler_spark.tables import _readable_path

    d = tmp_path / "t.parquet"
    d.mkdir()

    def write(vals):
        tbl = pa.table({"v": pa.array(vals, pa.float64())})
        pq.write_table(
            tbl,
            str(d / "part-0.parquet"),
            use_dictionary=False,
            column_encoding={"v": "BYTE_STREAM_SPLIT"},
            compression="snappy",
        )

    write([1.5, 2.5])
    p1 = _readable_path(str(d))
    assert p1 != str(d)  # BSS member → repaired path
    assert sorted(r.v for r in spark.read.parquet(p1).collect()) == [1.5, 2.5]

    time.sleep(0.01)  # ensure mtime_ns moves even on coarse filesystems
    write([9.9, 8.8])
    p2 = _readable_path(str(d))
    got = sorted(r.v for r in spark.read.parquet(p2).collect())
    assert got == [8.8, 9.9], (
        f"stale shadow after in-place regeneration: {got}"
    )
    # idempotent re-resolution (symlink replacement must not raise)
    assert _readable_path(str(d)) == p2


# ── fuzz 16: hostile CONTENT × hostile LAYOUT composition ───────────────
# Round 14 probed layouts on honest content, round 5+ probed content on
# honest layout; class 53 composes them — the hostile fixture (NULL
# keys, zero-norm embeddings, degenerate rows, \x0B content) re-encoded
# with dictionary off + BYTE_STREAM_SPLIT floats, so the BSS transcode
# repair and every content guard must hold SIMULTANEOUSLY.

#: float-scan through the BSS repair, zero-norm guard on BSS-encoded
#: embeddings, time bucketing on degenerate epochs, winsorize ranks on
#: NULL/NaN cents, and the new \x0B blocklist row through the transcode
COMPOSED_PINNED = (
    "tpch_q6_forecast_revenue",
    "knn_bruteforce_cosine",
    "events_hourly_rollup",
    "events_value_winsorized",
    "doc_blocklist_filter",
)


@pytest.fixture(scope="module")
def hostile_bss_dir(tmp_path_factory):
    from tools.hostile_fixtures import build

    mid = str(tmp_path_factory.mktemp("hostile_src"))
    dest = str(tmp_path_factory.mktemp("hostile_bss"))
    build("/root/testdata/sf0.001", mid)
    build_recoded(mid, dest, "nodict_bss")
    return dest


@pytest.fixture(scope="module")
def hostile_bss_oracle(hostile_bss_dir):
    con = oracle_connection(hostile_bss_dir)
    return con


@pytest.mark.parametrize("name", COMPOSED_PINNED)
def test_hostile_content_on_bss_layout(name, spark, hostile_bss_dir, hostile_bss_oracle):
    spec = load_all()[name]
    sdf = spec.fn(spark, hostile_bss_dir)
    srows = [tuple(r) for r in sdf.collect()]
    res = hostile_bss_oracle.execute(spec.oracle)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert sorted(sdf.columns) == sorted(ocols)
    sn, sh = table_hash(list(sdf.columns), srows)
    on, oh = table_hash(ocols, orows)
    assert sn == on, f"{name}: rowcount {sn} != {on} on hostile+BSS"
    assert sh == oh, f"{name}: value hash diverges on hostile+BSS"


def test_bss_transcode_survives_tmp_sweep(spark, tmp_path):
    """ADVICE r9 dangling-path class: if the /tmp transcode copy is
    swept mid-session while _LAYOUT_CACHE still points at it, the next
    _readable_path call must re-transcode instead of handing Spark a
    missing file."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigdatatiler_spark.tables import _readable_path

    d = tmp_path / "t.parquet"
    d.mkdir()
    tbl = pa.table({"v": pa.array([1.5, 2.5], pa.float64())})
    pq.write_table(
        tbl,
        str(d / "part-0.parquet"),
        use_dictionary=False,
        column_encoding={"v": "BYTE_STREAM_SPLIT"},
        compression="snappy",
    )
    p1 = _readable_path(str(d))
    assert p1 != str(d)
    # sweep the transcode target (resolve through the shadow symlink)
    real = os.path.realpath(os.path.join(p1, "part-0.parquet"))
    shutil.rmtree(os.path.dirname(real))
    p2 = _readable_path(str(d))
    got = sorted(r.v for r in spark.read.parquet(p2).collect())
    assert got == [1.5, 2.5], "dangling transcode not repaired"
