"""Driver-environment divergence hunter.

Round 2 left 8 queries red in the driver's correctness run while passing
byte-exact locally under both the tuned and a vanilla session — meaning the
driver's SparkSession differs in some conf the repo neither controls nor
replicates. This tool makes that class of bug *findable*: it runs every
registered query's Spark side under a MATRIX of session configurations (a
hostile superset of anything a reasonable driver harness might set) and
compares each run's value hash against the fixed DuckDB oracle hash. Any
query whose hash is conf-sensitive is a latent driver red row.

All matrix keys are runtime-settable (`spark.conf.set` on a live session),
so one JVM serves the whole sweep; engine-critical keys are re-pinned by
``tune_session`` inside ``tables.table()`` on every query — the sweep
therefore validates the *repair path* (what actually happens when a driver
hands us a hostile session), which is the contract that matters.

Usage:
  python tools/env_sweep.py [sf_dir] [query ...]     # default: all queries
  python tools/env_sweep.py --variants tz_nyc,ansi_on [query ...]

Exit 0 iff every (query, variant) hash equals the oracle hash.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdatatiler_spark.registry import load_all
from bigdatatiler_spark.session import get_spark
from tools.check_oracle import oracle_connection, table_hash

#: Hostile session variants. Keys deliberately include everything the
#: engine's tune_session re-pins (to exercise the repair) plus confs it
#: does NOT control (ansi, codegen, NTZ inference, datetime rebase) — the
#: suspects for a driver-only divergence.
VARIANTS: dict[str, dict[str, str]] = {
    "baseline": {},
    "tz_nyc": {"spark.sql.session.timeZone": "America/New_York"},
    "tz_tokyo": {"spark.sql.session.timeZone": "Asia/Tokyo"},
    # half-hour-offset zone: unlike whole-hour zones, a session-tz leak
    # into HOUR truncation changes answers here, not only day buckets
    "tz_kolkata": {"spark.sql.session.timeZone": "Asia/Kolkata"},
    "ansi_on": {"spark.sql.ansi.enabled": "true"},
    "ansi_off": {"spark.sql.ansi.enabled": "false"},
    "arrow_off": {"spark.sql.execution.arrow.pyspark.enabled": "false"},
    "ntz_infer_off": {"spark.sql.parquet.inferTimestampNTZ.enabled": "false"},
    "codegen_off": {"spark.sql.codegen.wholeStage": "false"},
    # partition-layout sensitivity: tiny input splits + odd shuffle count
    # flush out any aggregation-order / per-partition dependence
    "small_splits": {
        "spark.sql.files.maxPartitionBytes": str(256 * 1024),
        "spark.sql.shuffle.partitions": "7",
    },
    "no_aqe": {"spark.sql.adaptive.enabled": "false"},
    # identifier resolution: a driver harness with case-sensitive
    # analysis must resolve every column reference identically
    "case_sensitive": {"spark.sql.caseSensitive": "true"},
    "legacy_nanos": {"spark.sql.legacy.parquet.nanosAsLong": "true"},
    # the scalar (row-at-a-time) parquet decode path — a driver harness
    # on exotic storage may fall back to it; decode differences would
    # surface as value-level divergence
    "vec_reader_off": {"spark.sql.parquet.enableVectorizedReader": "false"},
}


def oracle_hashes(sf_dir: str, specs) -> dict[str, tuple[int, str]]:
    con = oracle_connection(sf_dir)
    out = {}
    for name, spec in specs.items():
        if spec.oracle is None:
            continue
        cur = con.execute(spec.oracle)
        cols = [d[0] for d in cur.description]
        out[name] = table_hash(cols, cur.fetchall())
    return out


def run_variant(spark, variant: dict[str, str], specs, sf_dir: str):
    """Apply a conf variant, run each query, return {name: (rows, hash)}.
    Restores the previous values afterwards so variants are independent."""
    saved: dict[str, str | None] = {}
    for k, v in variant.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    results: dict[str, tuple[int, str] | Exception] = {}
    try:
        for name, spec in specs.items():
            if spec.oracle is None:
                continue
            try:
                df = spec.fn(spark, sf_dir)
                rows = df.collect()
                results[name] = table_hash(df.columns, [tuple(r) for r in rows])
            except Exception as e:  # noqa: BLE001 — report, don't abort sweep
                results[name] = e
    finally:
        for k, old in saved.items():
            try:
                if old is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, old)
            except Exception:
                pass
    return results


def main() -> int:
    args = sys.argv[1:]
    variants = dict(VARIANTS)
    if args and args[0] == "--variants":
        picked = args[1].split(",")
        variants = {k: VARIANTS[k] for k in picked}
        args = args[2:]
    sf_dir = "/root/testdata/sf0.01"
    if args:
        if os.path.isdir(args[0]):
            sf_dir = args.pop(0)
        elif os.path.isdir(os.path.join("/root/testdata", args[0])):
            # bare "sf0.1"-style name → resolve under /root/testdata
            sf_dir = os.path.join("/root/testdata", args.pop(0))
    only = set(args)

    specs = load_all()
    if only:
        unknown = only - set(specs)
        if unknown:
            # a typo'd name (or a mistyped sf_dir falling through to here)
            # must be an error, not a silent 0-query green sweep
            print(f"unknown query name(s): {sorted(unknown)}", file=sys.stderr)
            return 2
        specs = {k: v for k, v in specs.items() if k in only}
    if not specs:
        print("no queries to sweep", file=sys.stderr)
        return 2

    golden = oracle_hashes(sf_dir, specs)
    spark = get_spark("env-sweep")
    spark.sparkContext.setLogLevel("ERROR")

    bad: dict[str, list[str]] = {}
    for vname, conf in variants.items():
        t0 = time.time()
        res = run_variant(spark, conf, specs, sf_dir)
        n_bad = 0
        for qname, r in res.items():
            ok = (not isinstance(r, Exception)) and r[1] == golden[qname][1]
            if not ok:
                bad.setdefault(qname, []).append(vname)
                n_bad += 1
                detail = (
                    f"{type(r).__name__}: {r}" if isinstance(r, Exception)
                    else f"rows={r[0]} hash={r[1]} != oracle rows={golden[qname][0]} hash={golden[qname][1]}"
                )
                print(f"  ✗ [{vname}] {qname}: {detail}")
                if isinstance(r, Exception):
                    traceback.print_exception(type(r), r, r.__traceback__, limit=3)
        print(
            f"variant {vname}: {len(res) - n_bad}/{len(res)} conf-invariant "
            f"({time.time() - t0:.0f}s)"
        )
    if bad:
        print(f"\nCONF-SENSITIVE QUERIES ({len(bad)}):")
        for q, vs in sorted(bad.items()):
            print(f"  {q}: {', '.join(vs)}")
        return 1
    print(f"\nall {len(golden)} queries conf-invariant across {len(variants)} variants")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
