"""Census of DuckDB output column types for every registered oracle.

The round-4 driver failures were all caused by oracles whose output
contained a HUGEINT column (DuckDB widens sum()/list_sum() over BIGINT
to INT128); the driver materializes results via pandas/Arrow, which
coerces HUGEINT -> float64 and breaks the string hash against Spark's
int64.  This tool builds each oracle as a DuckDB relation (LIMIT 0, so
it is type-check only and fast) and reports any column whose type is
outside the safe set {BIGINT, INTEGER, SMALLINT, TINYINT, VARCHAR,
DOUBLE}.

Usage: python tools/oracle_types.py [sf_dir]
Exit 0 iff every oracle is clean.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdatatiler_spark.registry import load_all
from tools.check_oracle import oracle_connection

SAFE = {"BIGINT", "INTEGER", "SMALLINT", "TINYINT", "VARCHAR", "DOUBLE"}


def census(sf_dir: str = "/root/testdata/sf0.01"):
    """Return {query_name: [(col, type), ...]} of unsafe oracle columns."""
    con = oracle_connection(sf_dir)
    bad: dict[str, list[tuple[str, str]]] = {}
    errs: dict[str, str] = {}
    for name, spec in sorted(load_all().items()):
        if spec.oracle is None:
            continue
        try:
            rel = con.sql(spec.oracle)
            pairs = list(zip(rel.columns, [str(t) for t in rel.types]))
        except Exception as e:
            errs[name] = str(e)
            continue
        unsafe = [(c, ty) for c, ty in pairs if ty.upper() not in SAFE]
        if unsafe:
            bad[name] = unsafe
    return bad, errs


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    bad, errs = census(sf_dir)
    for name, cols in sorted(bad.items()):
        print(f"UNSAFE {name}: " + ", ".join(f"{c}:{t}" for c, t in cols))
    for name, e in sorted(errs.items()):
        print(f"ERROR  {name}: {e}")
    print(f"\n{len(bad)} unsafe oracles, {len(errs)} errors")
    return 1 if bad or errs else 0


if __name__ == "__main__":
    sys.exit(main())
