"""Zip codec + id generation tests (O20/O22/O24/O25) and the full
zip-in-the-loop tiling round trip (E2→E3 of SURVEY.md §3)."""

from __future__ import annotations

import io
import zipfile

import pytest
from pyspark.sql import functions as F

from bigdatatiler_spark.logstore.codec import unzip_payload, zip_payload
from bigdatatiler_spark.logstore.ids import doc_id, split_id
from bigdatatiler_spark.logstore.tile import reassemble, tile


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(1, "<log>alpha</log>", "1700000000000.xml"),
         (2, "<log>" + "béta" * 5000 + "</log>", "1700000000001.xml"),
         (3, None, "x.xml")],
        ["rec_id", "xml", "entry"],
    )


def test_zip_roundtrip(spark, docs):
    out = docs.select(
        "rec_id", "xml", unzip_payload(zip_payload(F.col("xml"), F.col("entry"))).alias("back")
    ).collect()
    for r in out:
        assert r["back"] == r["xml"]


def test_zip_is_real_archive(spark, docs):
    """A reference client must be able to open the blob with a stock zip
    reader and find one entry named like `{epochMs}.xml` (LogChange.cs:268)."""
    row = docs.where("rec_id = 1").select(
        zip_payload(F.col("xml"), F.col("entry")).alias("blob")
    ).first()
    with zipfile.ZipFile(io.BytesIO(bytes(row["blob"]))) as zf:
        assert zf.namelist() == ["1700000000000.xml"]
        assert zf.read("1700000000000.xml").decode() == "<log>alpha</log>"


def test_zip_deterministic(spark, docs):
    a = docs.select(zip_payload(F.col("xml"), F.col("entry")).alias("b")).collect()
    b = docs.select(zip_payload(F.col("xml"), F.col("entry")).alias("b")).collect()
    assert [bytes(r["b"]) if r["b"] else None for r in a] == [
        bytes(r["b"]) if r["b"] else None for r in b
    ]


def test_doc_id_fallbacks(spark):
    df = spark.createDataFrame(
        [("u1", "schedulechange"), (None, "preview"), ("u2", "  ")],
        ["user_id", "trigger"],
    ).withColumn("ts", F.timestamp_millis(F.lit(1700000000000)))
    ids = df.select(
        doc_id(F.col("user_id"), F.col("trigger"), F.col("ts"), F.lit("D")).alias("id")
    ).collect()
    assert ids[0]["id"] == "u1_schedulechange_D_1700000000000"
    assert ids[1]["id"].startswith("NoUserId_preview_")
    assert ids[2]["id"].startswith("u2_NoTrigger_")
    # time-sortable: epoch-ms is embedded
    assert all(r["id"].endswith("_1700000000000") for r in ids)


def test_split_id(spark):
    df = spark.createDataFrame([("p1", 2)], ["pid", "idx"])
    assert df.select(split_id(F.col("pid"), F.col("idx")).alias("s")).first()["s"] == "p1_split2"


def test_tile_zip_reassemble_roundtrip(spark, docs):
    """Full E2→E3: chunk → zip each chunk → store → unzip → ordered merge.
    Mirrors loadXmlFile → AddLogDocuments → GetCombinedLogChange."""
    src = docs.where(F.col("xml").isNotNull())
    tiled = tile(src, "xml", "rec_id", chunk_chars=1000)
    zipped = tiled.withColumn(
        "blob", zip_payload(F.col("chunk"), F.concat(F.col("rec_id").cast("string"), F.lit(".xml")))
    ).drop("chunk")
    unzipped = zipped.withColumn("chunk", unzip_payload(F.col("blob")))
    merged = {r["record_id"]: r["payload"] for r in reassemble(unzipped, id_col="rec_id").collect()}
    want = {r["rec_id"]: r["xml"] for r in src.collect()}
    assert merged == want


def test_tile_bytecap_archives_are_zip_payload(spark):
    """tile_bytecap and zip_payload share one zip kernel: every emitted
    archive is byte-for-byte ``zip_payload(chunk, id || '.xml')`` and
    unzips back to its chunk, on the unsplit, split, re-split and null
    paths alike."""
    import hashlib

    from bigdatatiler_spark.logstore.tile import tile_bytecap

    noise = "".join(hashlib.sha256(str(i).encode()).hexdigest() for i in range(60))
    df = spark.createDataFrame(
        [(1, "<log>alpha</log>"), (2, noise), (3, "ab" * 2000 + noise[:1500]), (4, None)],
        "rec_id bigint, xml string",
    )
    tiled = tile_bytecap(
        df, "xml", "rec_id", max_zip_bytes=200, first_floor=40, resplit_floor=8
    )
    entry = F.concat(F.col("rec_id").cast("string"), F.lit(".xml"))
    rows = tiled.select(
        "rec_id",
        "chunk",
        "zipped",
        zip_payload(F.col("chunk"), entry).alias("want"),
        unzip_payload(F.col("zipped")).alias("back"),
    ).collect()
    assert {r["rec_id"] for r in rows} == {1, 2, 3, 4}
    assert len(rows) > 4  # the split paths ran
    for r in rows:
        assert r["zipped"] == r["want"]
        assert r["back"] == r["chunk"]
