"""Skew salting: result parity and distribution."""

from __future__ import annotations

from pyspark.sql import Row, functions as F

from bigdatatiler_spark.operators.skew import (
    N_SALT,
    salt_col,
    salted_sum_count,
)


def _skewed_df(spark):
    # key "hot" holds 90% of rows — the hot-user shape
    rows = [Row(k="hot", i=i, v=float(i)) for i in range(900)]
    rows += [Row(k=f"cold{i}", i=1000 + i, v=1.0) for i in range(100)]
    return spark.createDataFrame(rows)


def test_salt_spreads_hot_key(spark):
    df = _skewed_df(spark).withColumn("s", salt_col("i"))
    per_salt = (
        df.where(F.col("k") == "hot").groupBy("s").count().collect()
    )
    # hot key's rows land on (nearly) all N_SALT routes, none dominant
    assert len(per_salt) == N_SALT
    assert max(r["count"] for r in per_salt) < 900 * 0.5


def test_salted_agg_matches_plain(spark):
    df = _skewed_df(spark)
    salted = salted_sum_count(
        df,
        key="k",
        distinguisher="i",
        agg_cols={
            "n_rows": F.count("*"),
            "sum_v": F.sum(F.col("v").cast("decimal(18,2)")),
        },
    )
    plain = df.groupBy("k").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("v").cast("decimal(18,2)")).alias("sum_v"),
    )
    assert sorted(salted.collect()) == sorted(plain.collect())
