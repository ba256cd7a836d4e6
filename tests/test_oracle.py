"""Differential tests: every oracle-equipped query vs DuckDB at sf0.001.

Mirrors the driver's correctness harness (row count + column set +
order-insensitive value hash) so regressions surface in `pytest` before
the driver round. The full sf0.01 sweep is tools/check_oracle.py.
"""

from __future__ import annotations

import pytest

from bigdatatiler_spark.registry import load_all
from tools.check_oracle import oracle_connection, table_hash

SF = "/root/testdata/sf0.001"

SPECS = {n: s for n, s in load_all().items() if s.oracle is not None}


@pytest.fixture(scope="module")
def duck():
    return oracle_connection(SF)


@pytest.mark.parametrize("name", sorted(SPECS))
def test_oracle_match(spark, duck, name):
    spec = SPECS[name]
    sdf = spec.fn(spark, SF)
    scols = list(sdf.columns)
    srows = [tuple(r) for r in sdf.collect()]
    res = duck.execute(spec.oracle)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert sorted(scols) == sorted(ocols)
    sn, sh = table_hash(scols, srows)
    on, oh = table_hash(ocols, orows)
    assert sn == on, f"row count {sn} != {on}"
    assert sh == oh, "value hash mismatch"
