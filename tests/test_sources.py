"""Format surface: the distributed byte sink (O7 parity — SURVEY.md §2.1)
and ORC type fidelity. The parquet store (O1-O4) is tested in
test_logstore.py."""

from __future__ import annotations

import zipfile

from pyspark.sql import Row

from bigdatatiler_spark.sources.io import write_payload_files


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
