"""Table-loader metadata caches: bounded, and reused only while the files
and the parquet-reading confs are unchanged."""

from __future__ import annotations

from conftest import jobs_in_group


def test_module_caches_bounded():
    """r11 verdict item 7: the (path, mtime, size)-keyed metadata caches
    must not grow monotonically across fixture regenerations."""
    from bigdatatiler_spark import tables

    cache: dict = {}
    for i in range(tables._CACHE_CAP * 3):
        tables._cache_put(cache, ("k", i), i)
    assert len(cache) <= tables._CACHE_CAP
    # newest entries survive
    assert ("k", tables._CACHE_CAP * 3 - 1) in cache


def test_table_reuses_the_inferred_schema(spark, tmp_path):
    """Inferring a parquet schema runs a Spark job. table() runs it once
    per member set and conf values: a second call on unchanged files
    starts none, while an in-place regeneration or a schema-changing conf
    infers again."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigdatatiler_spark.tables import table

    d = tmp_path / "region.parquet"
    d.mkdir()

    def write(cols):
        pq.write_table(pa.table(cols), str(d / "part-0.parquet"))

    write({"r_regionkey": [0, 1], "r_name": pa.array([b"AFRICA", b"ASIA"])})
    df, jobs = jobs_in_group(spark, "table-first", lambda: table(spark, str(tmp_path), "region"))
    assert jobs == 1
    assert df.schema["r_name"].dataType.typeName() == "binary"
    df, jobs = jobs_in_group(spark, "table-second", lambda: table(spark, str(tmp_path), "region"))
    assert jobs == 0
    assert sorted(r.r_regionkey for r in df.collect()) == [0, 1]

    time.sleep(0.01)  # ensure mtime_ns moves even on coarse filesystems
    write({"r_regionkey": [0, 1, 2], "r_name": pa.array([b"A", b"B", b"C"]),
           "r_comment": ["x", "y", "z"]})
    df, jobs = jobs_in_group(spark, "table-regenerated", lambda: table(spark, str(tmp_path), "region"))
    assert jobs == 1
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert df.count() == 3

    key = "spark.sql.parquet.binaryAsString"
    spark.conf.set(key, "true")
    try:
        df, jobs = jobs_in_group(spark, "table-conf", lambda: table(spark, str(tmp_path), "region"))
        assert jobs == 1
        assert df.schema["r_name"].dataType.typeName() == "string"
    finally:
        spark.conf.unset(key)
