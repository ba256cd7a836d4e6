"""Fuzz 16, class 52: schema evolution ACROSS MEMBER FILES of one
directory-table (column added in one batch, dropped in another). The
contract: the visible table is the column-name UNION with NULLs for
absent cells, independent of file listing order — Spark through
tables._union_read_schema's conditional explicit union schema (r11:
generalized from mergeSchema to also cover nested and type evolution;
see test_schema_evolution_deep), DuckDB through
union_by_name — so the differential stays hash-exact. The adversarial
part: the REDUCED-schema file sorts FIRST, which under Spark's default
single-footer schema inference would silently drop the ``source``
column for every row (or fail the fixture canary)."""

from __future__ import annotations

import pytest

from bigdatatiler_spark.registry import load_all
from bigdatatiler_spark.tables import table
from tools.check_oracle import oracle_connection, table_hash
from tools.hostile_fixtures import build_evolved

#: queries that read the evolved table through every surface the class
#: threatens: the dropped column as a group key, the tokenizer path,
#: the map-only blocklist scan, and the dedup arbiter
PINNED = (
    "doc_token_stats",
    "doc_lang_id",
    "doc_blocklist_filter",
    "dedup_exact",
    "pack_training_sequences",
    # events evolution (dropped `props` member): JSON extraction over
    # NULL props, plus a time/agg query that never touches props
    "events_props_json",
    "events_tumbling_hourly",
    "event_id_generation",
    # STREAMING over the evolved directory: one member per micro-batch,
    # the first batch missing `props` entirely — the union schema must
    # reach FileStreamSource (parity.stream_events' mergeSchema repair)
    "events_streaming_hourly_parity",
)


@pytest.fixture(scope="module")
def evolved_dir(tmp_path_factory):
    dest = str(tmp_path_factory.mktemp("evolved"))
    build_evolved("/root/testdata/sf0.001", dest)
    return dest


@pytest.fixture(scope="module")
def oracle_con(evolved_dir):
    con = oracle_connection(evolved_dir)
    return con


def test_union_schema_independent_of_listing_order(spark, evolved_dir):
    df = table(spark, evolved_dir, "documents")
    cols = set(df.columns)
    # the dropped column survives (reduced file sorts first) and the
    # added column is visible
    assert {"source", "_ingest_batch"} <= cols
    rows = df.count()
    null_src = df.where(df["source"].isNull()).count()
    null_batch = df.where(df["_ingest_batch"].isNull()).count()
    assert 0 < null_src < rows  # reduced half reads as NULL
    assert 0 < null_batch < rows  # pre-evolution half reads as NULL


@pytest.mark.parametrize("name", PINNED)
def test_evolved_differential(name, spark, evolved_dir, oracle_con):
    spec = load_all()[name]
    sdf = spec.fn(spark, evolved_dir)
    srows = [tuple(r) for r in sdf.collect()]
    res = oracle_con.execute(spec.oracle)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert sorted(sdf.columns) == sorted(ocols)
    sn, sh = table_hash(list(sdf.columns), srows)
    on, oh = table_hash(ocols, orows)
    assert sn == on, f"{name}: rowcount {sn} != {on} on evolved schema"
    assert sh == oh, f"{name}: value hash diverges on evolved schema"
