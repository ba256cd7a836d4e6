"""Query registry backing the driver contract.

Every implemented operator from SURVEY.md §2 registers a named query here:
a PySpark callable ``(spark, sf_dir) -> DataFrame`` plus (when the operator
is SQL-expressible) the equivalent ANSI SQL that DuckDB runs as the oracle.

The driver checks only the first 50 entries of ``queries()``. ``load_all``
puts that window first; ``driver_window`` derives it on every call from the
git-tracked CORRECTNESS_r*.json files, so a committed driver round rotates
the window with no code edit.

Determinism rules for oracle-matched queries (the driver hashes values
order-insensitively but exactly):
- never emit raw floating aggregates: aggregate in DECIMAL (exact), then
  cast/round at the end — identical in Spark and DuckDB;
- never emit raw timestamps: emit epoch millis — Spark unix_millis,
  DuckDB epoch_ms(date_trunc('milliseconds', x)); the date_trunc wrap is
  MANDATORY (bare epoch_ms truncates -1 µs to 0 ms where unix_millis
  floors it to -1 — fuzz-7 class 26);
- every LIMIT carries a total-order ORDER BY (unique tiebreak column);
- alias every computed column identically on both sides;
- never round(double, n) a RATIONAL quotient (int/int, cents/count,
  |A∩B|/|A∪B|): such values land on exact decimal midpoints, where the
  engines' half-up implementations legitimately disagree (observed at
  sf0.1). Emit floor-scaled integers instead — (num·10^n) div den or
  _util.int_ratio — which have no tie to disagree on. round() on
  irrational-valued doubles (cosines, sqrt-normalized stats) is safe.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from bigdatatiler_spark import driver_window

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None → driver does rows-only check
    doc: str = ""


QUERIES: dict[str, QuerySpec] = {}

#: Modules that register queries on import (one per operator family).
_QUERY_MODULES = (
    "bigdatatiler_spark.logstore.queries",
    "bigdatatiler_spark.operators.relational",
    "bigdatatiler_spark.operators.tpch_deep",
    "bigdatatiler_spark.operators.windows",
    "bigdatatiler_spark.operators.setops",
    "bigdatatiler_spark.operators.scalar",
    "bigdatatiler_spark.operators.asof",
    "bigdatatiler_spark.operators.rangejoin",
    "bigdatatiler_spark.operators.dedup",
    "bigdatatiler_spark.operators.similarity",
    "bigdatatiler_spark.operators.pq",
    "bigdatatiler_spark.operators.retrieval",
    "bigdatatiler_spark.operators.text",
    "bigdatatiler_spark.operators.cleaning",
    "bigdatatiler_spark.operators.tiling",
    "bigdatatiler_spark.operators.multimodal",
    "bigdatatiler_spark.functions.tokenize",
    "bigdatatiler_spark.operators.skew",
    "bigdatatiler_spark.operators.sqlsurface",
    "bigdatatiler_spark.operators.graph",
    "bigdatatiler_spark.operators.linkgraph",
    "bigdatatiler_spark.operators.sketches",
    "bigdatatiler_spark.operators.sampling",
    "bigdatatiler_spark.operators.quality",
    "bigdatatiler_spark.operators.udaf",
    "bigdatatiler_spark.streaming.parity",
    "bigdatatiler_spark.sources.layout",
    "bigdatatiler_spark.sources.rollup",
)


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator: register a query/oracle pair under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = QuerySpec(name, fn, oracle, doc or (fn.__doc__ or ""))
        return fn

    return deco


def load_all() -> dict[str, QuerySpec]:
    """Import every query module (idempotent) and return the registry,
    driver window first (see the module docstring)."""
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    window = driver_window.next_window(QUERIES, driver_window.correctness_files())
    # the fill may name a query a past round checked that is since renamed
    ordered = {n: QUERIES[n] for n in window if n in QUERIES}
    ordered.update(QUERIES)
    return ordered
