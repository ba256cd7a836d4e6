"""Point-in-time SCD2 join: hostile-fixture differential test.

The real fixtures may never produce a ZERO-WIDTH interval (two orders,
same customer, same date, different priorities) — the exact case where
PIT semantics are subtle (half-open intervals: the regime that starts
and ends at t covers nothing; the regime continuing from t covers t).
This test builds a synthetic orders/lineitem pair exercising that case
plus the ship-before-first-interval drop, and checks the Spark plan
against the registered DuckDB oracle on the SAME files — the driver's
comparison, on data chosen to be nasty.
"""

from __future__ import annotations

import datetime as dt
import os

from bigdatatiler_spark.registry import load_all
from tools.check_oracle import oracle_connection, table_hash

D = dt.datetime(2025, 3, 1)


def _write_fixture(spark, path):
    orders = [
        # customer 1: two orders SAME day, different priorities (zero-width
        # island for A), then a later order keeping B
        (101, 1, "O", 10.0, D, "A-PRIO"),
        (102, 1, "O", 10.0, D, "B-PRIO"),
        (103, 1, "F", 10.0, D + dt.timedelta(days=10), "B-PRIO"),
        # customer 2: single order
        (201, 2, "F", 20.0, D + dt.timedelta(days=5), "C-PRIO"),
    ]
    lineitem = [
        # ship exactly AT the zero-width boundary day: must see B-PRIO
        (101, 1, 1, 1, 1.0, 5.0, 0.0, 0.0, "N", "O", D),
        # ship mid-first-interval
        (102, 1, 1, 1, 1.0, 5.0, 0.0, 0.0, "N", "O", D + dt.timedelta(days=3)),
        # ship in the later regime
        (103, 1, 1, 1, 1.0, 5.0, 0.0, 0.0, "N", "O", D + dt.timedelta(days=12)),
        # customer 2: ships BEFORE the first interval → dropped on both sides
        (201, 1, 1, 1, 1.0, 5.0, 0.0, 0.0, "N", "O", D - dt.timedelta(days=2)),
        # customer 2: ships at interval start → C-PRIO
        (201, 1, 1, 2, 1.0, 5.0, 0.0, 0.0, "N", "O", D + dt.timedelta(days=5)),
    ]
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(path, "orders.parquet"))
    spark.createDataFrame(
        lineitem,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "lineitem.parquet")
    )


def test_pit_zero_width_intervals_match_oracle(spark, tmp_path):
    path = str(tmp_path)
    _write_fixture(spark, path)
    spec = load_all()["lineitem_pit_priority"]
    sdf = spec.fn(spark, path)
    srows = [tuple(r) for r in sdf.collect()]
    got = {(r[0], r[1]): r[4] for r in srows}
    # semantic expectations (independent of the oracle)
    assert got[(101, 1)] == "B-PRIO"  # zero-width A skipped at its own start
    assert got[(102, 1)] == "B-PRIO"
    assert got[(103, 1)] == "B-PRIO"
    assert (201, 1) not in got  # pre-history ship dropped
    assert got[(201, 2)] == "C-PRIO"
    # full differential vs the registered oracle on the same files
    con = oracle_connection(path)
    res = con.execute(spec.oracle)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert sorted(sdf.columns) == sorted(ocols)
    sn, sh = table_hash(list(sdf.columns), srows)
    on, oh = table_hash(ocols, orows)
    assert (sn, sh) == (on, oh)
