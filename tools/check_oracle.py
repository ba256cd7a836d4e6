"""Local stand-in for the driver's correctness harness.

Runs every registered query through Spark AND its DuckDB oracle at the
given scale factor, then compares row count, column names, and an
order-insensitive value hash (rows sorted, columns sorted by name,
values stringified). Exit 0 iff everything matches.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from bigdatatiler_spark.registry import load_all
from bigdatatiler_spark.session import get_spark
from bigdatatiler_spark.tables import TABLES


def _norm_cell(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per fixture table in ``sf_dir``:
    a ``<table>.parquet`` file reads as is, a ``<table>.parquet``
    directory of part files (a Spark write) as their union by column
    name; absent tables get no view.

    threads=1: DuckDB 1.0.0's parallel window operator non-
    deterministically merges sessions across far-future timestamp gaps
    (~1/12 runs on the hostile fixture, r11); single-threaded execution
    is stable and canonical."""
    con = duckdb.connect()
    con.execute("SET threads=1")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{p}/*.parquet', union_by_name=true)"
            )
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def table_hash(cols: list[str], rows: list[tuple]) -> tuple[int, str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return len(rows), h


def pandas_hash(pdf) -> str:
    """Hash a pandas materialization the way the driver's harness does:
    raw str() of every cell, no type normalization.  This is the surface
    where DuckDB HUGEINT -> float64 coercion diverges ("10.0" vs "10")
    even though fetchall() Python ints hash identically — the round-4
    driver-red mechanism.  Comparing the pandas hash of both engines
    catches that class locally."""
    cols = sorted(pdf.columns)
    lines = sorted(
        "\x1f".join(str(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def main() -> int:
    args = sys.argv[1:]
    # Accept either a directory path or a bare "sfX" name under
    # /root/testdata. A bare name that is neither would previously fall
    # through SILENTLY into the query filter (so "check_oracle.py sf0.1 q"
    # checked q at the DEFAULT sf0.01) — now it is an error.
    sf_dir = "/root/testdata/sf0.01"
    if args:
        cand = args[0]
        if os.path.isdir(cand):
            sf_dir = args.pop(0)
        elif os.path.isdir(os.path.join("/root/testdata", cand)):
            sf_dir = os.path.join("/root/testdata", args.pop(0))
        elif cand.startswith("sf") or os.sep in cand:
            print(f"ERROR: '{cand}' is not a fixture directory")
            return 2
    only = set(args)

    specs = load_all()
    unknown = only - set(specs)
    if unknown:
        print(f"ERROR: unknown query name(s): {sorted(unknown)}")
        return 2
    spark = get_spark("oracle-check")
    con = oracle_connection(sf_dir)

    failures, checked, rows_only = [], 0, 0
    for name, spec in sorted(specs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = spec.fn(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = list(sdf.columns)
        except Exception as e:  # engine-side crash: record, keep sweeping
            msg = str(e).splitlines()[0][:200]
            failures.append((name, f"spark error: {msg}"))
            print(f"  ✗ {name}: SPARK ERROR {msg}")
            continue
        if spec.oracle is None:
            rows_only += 1
            print(f"  ~ {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            # ONE DuckDB execution per oracle: materialize to Arrow, then
            # derive both representations — Python-value rows (exact hash)
            # and a pandas frame (driver-style representation hash). For
            # the gated-safe oracle types (test_oracle_types) Arrow
            # to_pylist == fetchall and to_pandas == .df() — including the
            # int64-with-NULLs -> float64 coercion the pandas hash exists
            # to catch.
            ores = con.execute(spec.oracle)
            ocols = [d[0] for d in ores.description]
            otbl = ores.arrow()
            orows = list(
                zip(*(otbl.column(i).to_pylist() for i in range(otbl.num_columns)))
            ) if otbl.num_rows else []
            opdf = otbl.to_pandas()
        except Exception as e:  # oracle itself broken
            failures.append((name, f"oracle error: {e}"))
            print(f"  ✗ {name}: ORACLE ERROR {e}")
            continue
        checked += 1
        sn, sh = table_hash(scols, srows)
        on, oh = table_hash(ocols, orows)
        # Driver-style pandas/Arrow materialization hash (see pandas_hash):
        # catches HUGEINT->float64-class representation divergence that
        # fetchall() Python ints mask.
        import pandas as pd

        sph = pandas_hash(pd.DataFrame(srows, columns=scols))
        oph = pandas_hash(opdf)
        ok = (
            sorted(scols) == sorted(ocols)
            and sn == on
            and sh == oh
            and sph == oph
        )
        status = "✓" if ok else "✗"
        print(f"  {status} {name}: spark {sn} rows / oracle {on} rows, "
              f"hash {'match' if sh == oh else f'{sh} != {oh}'}, "
              f"pdhash {'match' if sph == oph else f'{sph} != {oph}'} "
              f"({time.time()-t0:.1f}s)")
        if not ok:
            if sorted(scols) != sorted(ocols):
                failures.append((name, f"cols spark={sorted(scols)} oracle={sorted(ocols)}"))
            elif sn != on:
                failures.append((name, f"rowcount {sn} != {on}"))
            elif sh == oh and sph != oph:
                dtypes = {c: str(t) for c, t in opdf.dtypes.items()}
                failures.append((
                    name,
                    "pandas-materialization hash diverges (values equal via "
                    f"fetchall) — representation coupling; oracle dtypes: {dtypes}",
                ))
            else:
                # show first differing row pair to debug
                so = sorted(
                    "\x1f".join(_norm_cell(r[i]) for i in sorted(range(len(scols)), key=lambda i: scols[i]))
                    for r in srows
                )
                oo = sorted(
                    "\x1f".join(_norm_cell(r[i]) for i in sorted(range(len(ocols)), key=lambda i: ocols[i]))
                    for r in orows
                )
                diff = next(
                    (f"spark={a!r}\n        oracle={b!r}" for a, b in zip(so, oo) if a != b),
                    "tail rows differ",
                )
                failures.append((name, f"value diff:\n        {diff}"))

    print(f"\n{checked} oracle-checked, {rows_only} rows-only, {len(failures)} failures")
    for name, why in failures:
        print(f"  FAIL {name}: {why}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
