"""Format surface: parquet round-trips and the distributed byte sink
(O7 parity — SURVEY.md §2.1)."""

from __future__ import annotations

import zipfile

from pyspark.sql import Row, functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from bigdatatiler_spark.sources.io import (
    read_table,
    write_payload_files,
    write_table,
)

SCHEMA = StructType(
    [
        StructField("user_id", StringType()),
        StructField("n", IntegerType()),
        StructField("note", StringType()),
    ]
)

ROWS = [
    Row(user_id="u1", n=1, note="alpha"),
    Row(user_id="u1", n=2, note="beta,with comma"),
    Row(user_id="u2", n=3, note=None),
]


def test_parquet_partitioned_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(ROWS, SCHEMA)
    path = str(tmp_path / "t")
    write_table(df, path, partition_by=("user_id",), mode="overwrite")
    back = read_table(spark, path)
    assert back.count() == 3
    # partition pruning works on the partition column
    assert back.where(F.col("user_id") == "u2").count() == 1
    pruned = back.where(F.col("user_id") == "u2")._jdf.queryExecution().toString()
    assert "PartitionFilters" in pruned

    # append mode adds rows (O3/O4 semantics)
    write_table(df.limit(1), path, partition_by=("user_id",))
    assert read_table(spark, path).count() == 4


def test_payload_file_sink_and_binary_read(spark, tmp_path):
    """O7: byte[] payload → one .zip file per row, then read back as blobs."""
    out = tmp_path / "blobs"
    payloads = []
    rows = []
    for i in range(3):
        import io as _io

        buf = _io.BytesIO()
        with zipfile.ZipFile(buf, "w") as z:
            z.writestr(f"{i}.xml", f"<log id='{i}'/>")
        payloads.append(buf.getvalue())
        rows.append(Row(id=f"doc{i}", payload=buf.getvalue()))
    df = spark.createDataFrame(rows)
    n = write_payload_files(df, str(out), name_col="id", payload_col="payload")
    assert n == 3

    # each file is a valid zip holding the original XML
    with zipfile.ZipFile(out / "doc1.zip") as z:
        assert z.read("1.xml") == b"<log id='1'/>"

    back = (
        spark.read.format("binaryFile").option("pathGlobFilter", "*.zip").load(str(out))
    )
    assert back.count() == 3
    content = {r.content for r in back.select("content").collect()}
    assert content == set(payloads)


def test_schema_evolution_merge_read(spark, tmp_path):
    path = str(tmp_path / "evolving")
    spark.createDataFrame([Row(k=1, v="a")]).write.parquet(path)
    # the table evolves: a later writer adds a column
    spark.createDataFrame([Row(k=2, v="b", extra=7)]).write.mode(
        "append"
    ).parquet(path)
    merged = read_table(spark, path, merge_schema=True)
    assert set(merged.columns) == {"k", "v", "extra"}
    got = {r.k: r.extra for r in merged.collect()}
    assert got == {1: None, 2: 7}


def test_orc_roundtrip_type_fidelity(spark, tmp_path):
    """ORC preserves decimals and longs natively: a write→read cycle
    returns bit-identical values including NULLs and negatives."""
    from decimal import Decimal

    df = spark.createDataFrame(
        [
            (1, -62135596800000000, "a", Decimal("12345678901234.56")),
            (2, None, "", Decimal("-0.01")),
            (3, 1706635653446945, None, None),
        ],
        "event_id long, ts_us long, event_type string, val decimal(18,2)",
    )
    path = str(tmp_path / "orc")
    df.write.orc(path)
    back = spark.read.schema(
        "event_id long, ts_us long, event_type string, val decimal(18,2)"
    ).orc(path)
    got = {tuple(r) for r in back.collect()}
    want = {tuple(r) for r in df.collect()}
    assert got == want
