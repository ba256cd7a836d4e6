"""Contract gate: no oracle may emit a driver-hazardous column type.

Round-4 root cause: DuckDB widens sum()/list_sum() over BIGINT to
HUGEINT (INT128); the driver's correctness harness materializes oracle
results via pandas/Arrow, which coerces HUGEINT -> float64, so the
stringified value ("10.0") hash-mismatches Spark's int64 ("10") even
when the numbers are equal — 13 driver-red rows in CORRECTNESS_r04 with
a perfect 50/50 correlation to HUGEINT output columns.  BOOLEAN has the
same representation-coupling risk (pandas True vs Spark true).

This test builds every registered oracle as a DuckDB relation (type
probe only — nothing executes against data) and fails on any output
column outside {BIGINT, INTEGER, SMALLINT, TINYINT, VARCHAR, DOUBLE}.
"""

from __future__ import annotations

import os

import pytest

from tools.check_oracle import oracle_connection
from tools.oracle_types import SAFE, census

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def test_no_hugeint_or_boolean_oracle_columns():
    bad, errs = census(SF_DIR)
    assert not errs, f"oracles failed to type-check: {errs}"
    assert not bad, (
        "oracles emit driver-hazardous column types (pandas/Arrow coerces "
        f"HUGEINT->float64, BOOLEAN->True/False): {bad}"
    )


def test_gate_catches_reintroduced_hugeint():
    """The gate itself must flag a HUGEINT column (meta-test)."""
    con = oracle_connection(SF_DIR)
    rel = con.sql("SELECT sum(x) AS s FROM (VALUES (CAST(1 AS BIGINT))) t(x)")
    types = [str(t).upper() for t in rel.types]
    assert "HUGEINT" in types[0]
    assert types[0] not in SAFE
