"""ABC classification boundary semantics on a constructed revenue ladder.

Revenues 800/150/50 put one customer exactly AT the 80% cumulative
boundary and the next exactly AT 95%: the integer rule cum·1000 ≤ t·k
must classify boundary rows INTO the head class (≤, not <), yielding
one customer per class — then the registered DuckDB oracle must agree
on the same files."""

from __future__ import annotations

import datetime as dt
import os

from bigdatatiler_spark.registry import load_all
from tools.check_oracle import oracle_connection, table_hash

D = dt.datetime(2025, 5, 1)


def _write_fixture(spark, path):
    rows = [
        # (orderkey, custkey, status, totalprice, orderdate, priority)
        (1, 10, "F", 500.0, D, "1-URGENT"),
        (2, 10, "F", 300.0, D, "1-URGENT"),   # cust 10: 800.00 → cum 800
        (3, 20, "F", 150.0, D, "2-HIGH"),     # cust 20: 150.00 → cum 950
        (4, 30, "F", 50.0, D, "3-MEDIUM"),    # cust 30:  50.00 → cum 1000
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "orders.parquet")
    )


def test_abc_boundary_rows_join_head_class(spark, tmp_path):
    path = str(tmp_path)
    _write_fixture(spark, path)
    spec = load_all()["orders_abc_classification"]
    sdf = spec.fn(spark, path)
    srows = [tuple(r) for r in sdf.collect()]
    got = {r[0]: (r[1], r[2]) for r in srows}
    assert got == {
        "A": (1, 80000),   # exactly 80.0% cumulative → still A
        "B": (1, 15000),   # exactly 95.0% cumulative → still B
        "C": (1, 5000),
    }
    con = oracle_connection(path)
    res = con.execute(spec.oracle)
    ocols = [d[0] for d in res.description]
    assert sorted(sdf.columns) == sorted(ocols)
    assert table_hash(list(sdf.columns), srows) == table_hash(
        ocols, res.fetchall()
    )
