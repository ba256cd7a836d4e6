"""Fuzz 17, class 53: schema evolution DEEPENED (r10 verdict #7 + the
r10 ADVICE medium). Members of one directory-table disagree on TYPES
(int32/int64, float32/float64) and COLUMN ORDER, not just names,
composed with hostile encodings (a BYTE_STREAM_SPLIT member — class 49
must COMPOSE with the union) and hostile content (Unicode group keys
through the novelty/DSIR group-bys). The contract on both engines:
column-name union, NULL for absent cells — including NESTED fields —
and narrow members UPCAST. Spark's ``mergeSchema`` cannot deliver this
(it throws CANNOT_MERGE_SCHEMAS on int/float widening that DuckDB's
``union_by_name`` promotes — measured r11); the repair is
``tables._union_read_schema``'s explicit Arrow-unified read schema.

The adversarial listing order: the NARROWED + REDUCED member sorts
FIRST, so single-footer inference would narrow every int64 in the
table, drop ``source``, and (for events) drop ``props`` + read
``value`` as float."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from bigdatatiler_spark.registry import load_all
from bigdatatiler_spark.tables import _union_read_schema, table
from tools.check_oracle import oracle_connection, table_hash
from tools.hostile_fixtures import build_evolved_deep

#: every surface the class threatens: tokenizer + quality over the
#: narrowed/reordered documents members, the dedup arbiter, the
#: novelty/DSIR group-bys fed Unicode-hostile source/lang keys, JSON
#: extraction over the props-dropped events member, float-widened
#: aggregation, and STREAMING over the evolved directory (one member
#: per micro-batch — the narrowed member arrives as its own batch)
PINNED = (
    "doc_token_stats",
    "doc_quality_score",
    "dedup_exact",
    "corpus_source_novelty",
    "dsir_importance_weights",
    "events_props_json",
    "events_tumbling_hourly",
    "events_value_histogram",
    "events_streaming_hourly_parity",
    # r11 late additions through the same class: the per-source cap and
    # curriculum packing group/order on the hostile-keyed + narrowed
    # members; the streaming quality gate consumes the documents
    # DIRECTORY one member per micro-batch, so the int32-narrowed,
    # source-dropped member arrives as its own batch and must upcast
    # through the union schema inside FileStreamSource
    "sample_source_cap",
    "pack_curriculum_sequences",
    "docs_streaming_quality_parity",
)


@pytest.fixture(scope="module")
def deep_dir(tmp_path_factory):
    dest = str(tmp_path_factory.mktemp("evolved_deep"))
    build_evolved_deep("/root/testdata/sf0.001", dest)
    return dest


@pytest.fixture(scope="module")
def oracle_con(deep_dir):
    con = oracle_connection(deep_dir)
    return con


def test_types_widen_and_names_union(spark, deep_dir):
    docs = table(spark, deep_dir, "documents")
    dt = {f.name: f.dataType.simpleString() for f in docs.schema.fields}
    # int32 members upcast — single-footer inference would say int here
    assert dt["doc_id"] == "bigint" and dt["n_chars"] == "bigint"
    assert "source" in dt and "_ingest_batch" in dt
    rows = docs.count()
    assert 0 < docs.where(docs["source"].isNull()).count() < rows
    ev = table(spark, deep_dir, "events")
    et = {f.name: f.dataType.simpleString() for f in ev.schema.fields}
    assert et["event_id"] == "bigint" and et["value"] == "double"
    # float32 member really contributes upcast values, not NULLs
    assert ev.where(ev["props"].isNull() & ev["value"].isNotNull()).count() > 0


def test_narrowed_values_roundtrip_exactly(spark, deep_dir, oracle_con):
    # the upcast must be value-exact on both engines: sum of doc_id and
    # value over the whole union agrees bit-for-bit
    docs = table(spark, deep_dir, "documents")
    s = docs.groupBy().sum("doc_id", "n_chars").collect()[0]
    o = oracle_con.execute(
        "SELECT sum(doc_id), sum(n_chars) FROM documents"
    ).fetchone()
    assert (s[0], s[1]) == (o[0], o[1])


def test_nested_struct_evolution_unions(spark, tmp_path):
    """The r10 ADVICE medium class: identical top-level names, a field
    added/dropped INSIDE a struct column — name-set comparison never
    triggers the repair and the visible nested schema depends on which
    footer Spark samples first. The full-schema fingerprint must detect
    it and the union read must NULL-fill the absent nested field."""
    d = str(tmp_path / "nested")
    os.makedirs(d)
    t1 = pa.table({
        "id": pa.array([1, 2]),
        "props": pa.array(
            [{"a": 1, "b": "x"}, {"a": 2, "b": "y"}],
            type=pa.struct([("a", pa.int64()), ("b", pa.string())])),
    })
    t2 = pa.table({
        "id": pa.array([3, 4]),
        "props": pa.array(
            [{"a": 3, "c": 1.5}, {"a": 4, "c": 2.5}],
            type=pa.struct([("a", pa.int64()), ("c", pa.float64())])),
    })
    pq.write_table(t1, f"{d}/part-000.parquet")
    pq.write_table(t2, f"{d}/part-001.parquet")
    u = _union_read_schema(d)
    assert u is not None, "nested evolution must trigger the union repair"
    df = spark.read.schema(u).parquet(d)
    fields = {f.name for f in df.schema["props"].dataType.fields}
    assert fields == {"a", "b", "c"}
    got = {tuple(r) for r in df.selectExpr(
        "id", "props.a", "props.b", "props.c").collect()}
    assert got == {(1, 1, "x", None), (2, 2, "y", None),
                   (3, 3, None, 1.5), (4, 4, None, 2.5)}


def test_homogeneous_dir_stays_on_fast_path(spark, tmp_path):
    d = str(tmp_path / "homog")
    os.makedirs(d)
    t = pa.table({"id": pa.array([1, 2])})
    pq.write_table(t, f"{d}/part-000.parquet")
    pq.write_table(t, f"{d}/part-001.parquet")
    assert _union_read_schema(d) is None


@pytest.mark.parametrize("name", PINNED)
def test_deep_evolved_differential(name, spark, deep_dir, oracle_con):
    spec = load_all()[name]
    sdf = spec.fn(spark, deep_dir)
    srows = [tuple(r) for r in sdf.collect()]
    res = oracle_con.execute(spec.oracle)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert sorted(sdf.columns) == sorted(ocols)
    sn, sh = table_hash(list(sdf.columns), srows)
    on, oh = table_hash(ocols, orows)
    assert sn == on, f"{name}: rowcount {sn} != {on} on deep-evolved schema"
    assert sh == oh, f"{name}: value hash diverges on deep-evolved schema"
