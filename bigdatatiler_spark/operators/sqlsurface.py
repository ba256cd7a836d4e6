"""SQL-surface operators: JSON residue, GROUPING SETS, offset pagination.

Three capabilities rounding out SURVEY.md §2.8/§2.3/§7-step-4:

- The reference's model is a fixed class over schemaless storage (§1.1);
  the driver's `events.props` JSON-string column is exactly that residue,
  and `get_json_object`/`from_json` is the Spark-native accessor.
- GROUPING SETS complements the ROLLUP (region_rollup) and CUBE
  (priority_status_cube) queries — expressed through ``spark.sql`` to
  exercise the engine's SQL entry point as well as the DataFrame API.
- O15's `OFFSET 0 LIMIT n` generalizes to real pagination: a non-zero
  offset is a `row_number()` window + range filter (Spark has no OFFSET
  pushdown in the DataFrame API; the window on a total order is the
  deterministic, scale-safe form — the sort shuffles once, the filter is
  free).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..registry import register
from ..tables import table
from ._util import stage

PAGE_SIZE = 50
PAGE = 3  # 0-based → rows [150, 200) of the total order


@register(
    "events_props_json",
    oracle="""
    SELECT
      event_type,
      count(*) AS n_events,
      count(CASE WHEN json_valid(props) THEN TRY_CAST(json_extract(props, '$.k') AS INTEGER) END) AS n_with_k,
      CAST(sum(CASE WHEN json_valid(props) THEN TRY_CAST(json_extract(props, '$.k') AS INTEGER) END)
        AS BIGINT) AS sum_k,
      min(CASE WHEN json_valid(props) THEN TRY_CAST(json_extract(props, '$.k') AS INTEGER) END) AS min_k,
      max(CASE WHEN json_valid(props) THEN TRY_CAST(json_extract(props, '$.k') AS INTEGER) END) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def events_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-path extraction over the schemaless `props` column (the
    reference's fixed-class-over-schemaless pattern, SURVEY.md §1.1) +
    grouped aggregation of the extracted field. `get_json_object` is a
    JVM-side expression — the JSON never crosses into Python; at 100 TB
    prefer materializing hot JSON paths to typed columns at ingest, which
    is exactly this projection."""
    ev = table(spark, sf_dir, "events")
    # try_cast: nested $.k objects → NULL, not an ANSI cast error (fuzz 5)
    k = F.get_json_object("props", "$.k").try_cast("bigint")
    return ev.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.count("k").alias("n_with_k"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


@register(
    "nation_grouping_sets",
    oracle="""
    SELECT
      coalesce(n_name, 'ALL') AS nation,
      coalesce(c_mktsegment, 'ALL') AS segment,
      count(*) AS n_customers,
      CAST(round(sum(TRY_CAST(CASE WHEN isfinite(c_acctbal) THEN c_acctbal END AS DECIMAL(10,2))), 2) AS DOUBLE) AS total_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY GROUPING SETS ((n_name, c_mktsegment), (n_name), (c_mktsegment))
    """,
)
def nation_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form of rollup/cube), issued
    through the engine's SQL entry point — the DataFrame and SQL surfaces
    compile to the same Expand + single-shuffle aggregate plan."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer_v")
    table(spark, sf_dir, "nation").createOrReplaceTempView("nation_v")
    return spark.sql(
        """
        SELECT
          coalesce(n_name, 'ALL') AS nation,
          coalesce(c_mktsegment, 'ALL') AS segment,
          count(*) AS n_customers,
          -- Spark SQL has no isfinite(); NOT isnan + |x| != Inf is the
          -- same finite-or-NULL guard as the DuckDB oracle (fuzz 10)
          CAST(round(sum(TRY_CAST(CASE WHEN NOT isnan(c_acctbal)
                                        AND abs(c_acctbal) != CAST('Infinity' AS DOUBLE)
                                       THEN c_acctbal END AS DECIMAL(10,2))), 2) AS DOUBLE) AS total_bal
        FROM customer_v JOIN nation_v ON c_nationkey = n_nationkey
        GROUP BY GROUPING SETS ((n_name, c_mktsegment), (n_name), (c_mktsegment))
        """
    )


@register(
    "orders_page_offset",
    oracle=f"""
    SELECT o_orderkey, o_custkey, epoch_ms(date_trunc('milliseconds', o_orderdate)) AS o_orderdate_ms,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT {PAGE_SIZE} OFFSET {PAGE * PAGE_SIZE}
    """,
)
def orders_page_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page {PAGE} of orders by price — the non-zero-offset generalization
    of the reference's `OFFSET 0 LIMIT n` (BigDataLogControl.cs:268,
    SURVEY.md §2.3 O15). Scale shape: `.limit(offset + page)` compiles to
    TakeOrderedAndProject (distributed partial top-k, no global sort
    shuffle), and only the resulting offset+page rows — not the table —
    pay the single-partition row_number window that drops the first
    `offset`. Deep pagination (offset ≫ page) should keyset-paginate on
    (price, orderkey) > last-seen instead; this is the O15 form."""
    o = table(spark, sf_dir, "orders")
    lo, hi = PAGE * PAGE_SIZE, (PAGE + 1) * PAGE_SIZE
    top = (
        o.select(
            "o_orderkey",
            "o_custkey",
            F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias(
                "o_orderdate_ms"
            ),
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(hi)
    )
    w = Window.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        top.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") > lo)
        .drop("_rn")
    )


@register(
    "orders_status_pivot",
    oracle="""
    SELECT
      o_orderpriority AS priority,
      count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
      count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
      count(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending
    FROM orders
    GROUP BY 1
    """,
)
def orders_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts by priority × status, statuses as columns. The
    explicit value list matters at scale — without it Spark runs an extra
    distinct pass to discover the pivot domain; with it the pivot is one
    conditional-aggregation shuffle (what the oracle writes as FILTER
    clauses)."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.col("o_orderpriority").alias("priority"))
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "priority",
            F.coalesce("F", F.lit(0)).alias("n_finished"),
            F.coalesce("O", F.lit(0)).alias("n_open"),
            F.coalesce("P", F.lit(0)).alias("n_pending"),
        )
    )


# keyset-pagination anchor: strictly after (ANCHOR_PRICE, ANCHOR_KEY) in
# (price DESC, orderkey ASC) order
ANCHOR_PRICE = 100_000.0
ANCHOR_KEY = 0


@register(
    "orders_page_keyset",
    oracle=f"""
    SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders
    WHERE CAST(o_totalprice AS DOUBLE) < {ANCHOR_PRICE}
       OR (CAST(o_totalprice AS DOUBLE) = {ANCHOR_PRICE} AND o_orderkey > {ANCHOR_KEY})
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT {PAGE_SIZE}
    """,
)
def orders_page_keyset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset (seek) pagination — the deep-pagination complement of
    orders_page_offset: instead of discarding `offset` rows, the anchor
    tuple from the previous page becomes a sargable filter, so every page
    is filter + TakeOrderedAndProject regardless of depth. The filter on
    o_totalprice reaches the parquet scan (min/max pruning); O(page), not
    O(offset + page)."""
    o = table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("double")
    after_anchor = (price < ANCHOR_PRICE) | (
        (price == ANCHOR_PRICE) & (F.col("o_orderkey") > ANCHOR_KEY)
    )
    return (
        o.where(after_anchor)
        .select("o_orderkey", "o_custkey", price.alias("o_totalprice"))
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(PAGE_SIZE)
    )


# --- monitoring / data-quality audit --------------------------------------


@register(
    "events_hourly_anomaly",
    oracle="""
    WITH hourly AS (
      SELECT event_type, epoch_ms(date_trunc('milliseconds', date_trunc('hour', ts))) AS hour_ms,
             count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type, count(*) AS k, sum(n) AS s, sum(n * n) AS ss
      FROM hourly GROUP BY event_type
    )
    SELECT h.event_type, h.hour_ms, h.n,
           CASE WHEN st.k * st.ss - st.s * st.s > 0
                THEN round(CAST(h.n * st.k - st.s AS DOUBLE)
                     / sqrt(CAST(st.k * st.ss - st.s * st.s AS DOUBLE)), 4)
           END AS zscore,
           CASE WHEN st.k * st.ss - st.s * st.s > 0
                 AND abs(CAST(h.n * st.k - st.s AS DOUBLE)
                    / sqrt(CAST(st.k * st.ss - st.s * st.s AS DOUBLE))) > 3
                THEN 1 ELSE 0 END AS is_anomaly
    FROM hourly h JOIN stats st USING (event_type)
    """,
)
def events_hourly_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly detection over hourly event-type volumes: each hour's
    count z-scored against its type's distribution, |z| > 3 flagged —
    the monitoring query an ingest pipeline alarms on.

    The z-score is computed ENTIRELY from integer aggregates:
    z = (n·k − Σn) / sqrt(k·Σn² − (Σn)²) — algebraically identical to
    (n − mean)/stddev_pop but with exact integer numerator and radicand,
    so the only float ops are one correctly-rounded sqrt and one
    division (engine-exact; a naive stddev() would accumulate floats in
    partition order and diverge). Plan: one (type, hour) partial agg,
    a 5-row stats table broadcast back — no window, no second corpus
    pass."""
    evs = table(spark, sf_dir, "events")
    hourly = (
        evs.groupBy(
            "event_type",
            F.unix_millis(F.date_trunc("hour", F.col("ts")).cast("timestamp")).alias(
                "hour_ms"
            ),
        )
        .agg(F.count("*").alias("n"))
    )
    stats = hourly.groupBy("event_type").agg(
        F.count("*").alias("k"),
        F.sum("n").alias("s"),
        F.sum(F.col("n") * F.col("n")).alias("ss"),
    )
    num = (F.col("n") * F.col("k") - F.col("s")).cast("double")
    radi = F.col("k") * F.col("ss") - F.col("s") * F.col("s")
    # zero-variance type (all hourly counts equal — hostile fuzz 4's
    # single-bucket '' type): z undefined → NULL, never anomalous; an
    # unguarded division errors under ANSI (Spark 4's default)
    z = F.when(radi > 0, num / F.sqrt(radi.cast("double")))
    return (
        hourly.join(F.broadcast(stats), "event_type")
        .select(
            "event_type",
            "hour_ms",
            "n",
            F.round(z, 4).alias("zscore"),
            F.when((radi > 0) & (F.abs(z) > 3), 1)
            .otherwise(0)
            .cast("int")
            .alias("is_anomaly"),
        )
    )


#: columns profiled by orders_profile (name, is_numeric)
_PROFILE_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)


@register(
    "orders_profile",
    oracle="""
    SELECT col, n_rows, CAST(coalesce(n_nulls, 0) AS BIGINT) AS n_nulls, n_distinct
    FROM (
    SELECT 'o_orderkey' AS col, count(*) AS n_rows,
           sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS n_nulls,
           count(DISTINCT o_orderkey) AS n_distinct FROM orders
    UNION ALL
    SELECT 'o_custkey', count(*),
           sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END),
           count(DISTINCT o_custkey) FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*),
           sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END),
           count(DISTINCT o_orderstatus) FROM orders
    UNION ALL
    SELECT 'o_totalprice', count(*),
           sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END),
           count(DISTINCT o_totalprice) FROM orders
    UNION ALL
    SELECT 'o_orderdate', count(*),
           sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END),
           count(DISTINCT o_orderdate) FROM orders
    UNION ALL
    SELECT 'o_orderpriority', count(*),
           sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END),
           count(DISTINCT o_orderpriority) FROM orders
    )
    """,
)
def orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiling (the DESCRIBE/data-quality audit a pipeline runs
    before trusting a new drop): per column, row count, null count,
    exact distinct count — long format, one row per column.

    Plan: ONE pass computes every column's stats as parallel aggregates
    (count_distinct expands internally but stays a single logical agg),
    then the 1-row wide result unpivots driver-free via stack — the
    oracle's 6-scan UNION ALL formulation cross-verifies it. At 100 TB
    swap exact distinct for approx_count_distinct (HLL, one pass,
    mergeable) — the shape is otherwise scale-free."""
    o = table(spark, sf_dir, "orders")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count("*").alias(f"{c}__rows"),
            # coalesce: empty-table SUM is NULL where the oracle's
            # conditional SUM... is also NULL, but 0 nulls in 0 rows is 0
            # on both engines and dtype-stable (fuzz 13, class 47/48)
            F.coalesce(
                F.sum(F.col(c).isNull().cast("bigint")), F.lit(0)
            ).alias(f"{c}__nulls"),
            F.count_distinct(F.col(c)).alias(f"{c}__distinct"),
        ]
    wide = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__rows, {c}__nulls, {c}__distinct" for c in _PROFILE_COLS
    )
    return wide.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_args})"
            " as (col, n_rows, n_nulls, n_distinct)"
        )
    )


@register(
    "part_unpivot_measures",
    oracle="""
    SELECT p_partkey, 'p_size' AS measure, CAST(p_size AS BIGINT) AS value
    FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice_cents' AS measure,
           CAST(TRY_CAST(CASE WHEN isfinite(p_retailprice) THEN p_retailprice END AS DECIMAL(18,2)) * 100 AS BIGINT) AS value
    FROM part
    """,
)
def part_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt — the inverse of orders_status_pivot, completing the
    reshaping surface: part's measure columns become (key, measure,
    value) rows via the native ``DataFrame.unpivot`` (ANSI UNPIVOT —
    a zero-shuffle map-side expansion, NOT a self-union that would scan
    the table once per measure; at 100 TB the single-scan property is
    the point). Prices emitted as exact cents (de-float rule); the
    oracle states the same reshape as the textbook UNION ALL."""
    p = table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("long").alias("p_size"),
        (F.col("p_retailprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("p_retailprice_cents"),
    )
    return p.unpivot(
        ids="p_partkey",
        values=["p_size", "p_retailprice_cents"],
        variableColumnName="measure",
        valueColumnName="value",
    )


# --- MERGE INTO (SCD1 upsert) ------------------------------------------------


def merge_upsert(
    base: DataFrame,
    changes: DataFrame,
    key: str,
    update_cols: tuple[str, ...],
) -> DataFrame:
    """ANSI MERGE semantics on plain DataFrames: latest-wins upsert.

    WHEN MATCHED THEN UPDATE SET the ``update_cols`` from the change row;
    WHEN NOT MATCHED THEN INSERT the change row; base rows without a
    change pass through. Emits an ``action`` column ('keep' / 'update' /
    'insert') so callers can audit the merge, mirroring the row-activity
    metrics table formats report after a MERGE commit. This is the
    ROW-LEVEL kernel (per-column update sets, action audit); it rewrites
    no storage.

    Plan shape: ONE full-outer shuffle join on the merge key — the
    standard copy-on-write MERGE kernel. At 100 TB the change batch is
    normally << base, so Spark's AQE flips the join to broadcast when the
    batch fits, and a storage layer would additionally prune untouched
    files by join-key min/max before this kernel ever runs.
    """
    b = base.alias("b")
    c = changes.alias("c")
    matched = F.col(f"c.{key}").isNotNull()
    from_base = F.col(f"b.{key}").isNotNull()
    cols = [
        F.coalesce(F.col(f"b.{key}"), F.col(f"c.{key}")).alias(key),
        *[
            (
                F.when(matched, F.col(f"c.{n}")).otherwise(F.col(f"b.{n}"))
                if n in update_cols
                # non-SET column: base value whenever a base row exists —
                # including a NULL base value (coalesce would wrongly pull
                # the change row's value through a legitimate NULL)
                else F.when(from_base, F.col(f"b.{n}")).otherwise(
                    F.col(f"c.{n}")
                )
            ).alias(n)
            for n in base.columns
            if n != key
        ],
        F.when(F.col(f"b.{key}").isNull(), F.lit("insert"))
        .when(matched, F.lit("update"))
        .otherwise(F.lit("keep"))
        .alias("action"),
    ]
    return b.join(c, F.col(f"b.{key}") == F.col(f"c.{key}"), "full_outer").select(
        *cols
    )


@register(
    "orders_merge_upsert",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_orderstatus AS status,
             CAST(TRY_CAST(CASE WHEN isfinite(o_totalprice) THEN o_totalprice END AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS total_cents
      FROM orders WHERE o_orderkey % 10 <> 0
    ),
    chg AS (
      SELECT o_orderkey, o_custkey, 'U' AS status,
             CAST(TRY_CAST(CASE WHEN isfinite(o_totalprice) THEN o_totalprice END AS DECIMAL(18,2)) * 100 AS BIGINT) + 500
               AS total_cents
      FROM orders WHERE o_orderkey % 3 = 0
    )
    SELECT coalesce(b.o_orderkey, c.o_orderkey) AS o_orderkey,
           CASE WHEN c.o_orderkey IS NOT NULL THEN c.o_custkey
                ELSE b.o_custkey END AS o_custkey,
           CASE WHEN c.o_orderkey IS NOT NULL THEN c.status
                ELSE b.status END AS status,
           CASE WHEN c.o_orderkey IS NOT NULL THEN c.total_cents
                ELSE b.total_cents END AS total_cents,
           CASE WHEN b.o_orderkey IS NULL THEN 'insert'
                WHEN c.o_orderkey IS NULL THEN 'keep'
                ELSE 'update' END AS action
    FROM base b FULL OUTER JOIN chg c ON b.o_orderkey = c.o_orderkey
    """,
)
def orders_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO over the orders snapshot: a change batch (every third
    order, repriced +5.00 and statused 'U') upserted latest-wins into a
    base snapshot that is missing every tenth order — so the result
    exercises all three MERGE arms: update (matched), insert (change key
    absent from base), keep (base key untouched). Both inputs derive
    deterministically from the fixture; the oracle replays the merge as
    the textbook FULL OUTER JOIN + CASE formulation."""
    o = table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    base = o.where(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderstatus").alias("status"),
        cents.alias("total_cents"),
    )
    chg = o.where(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("status"),
        (cents + 500).alias("total_cents"),
    )
    return merge_upsert(base, chg, "o_orderkey", ("o_custkey", "status", "total_cents"))


# --- JSONL source-format roundtrip -------------------------------------------
# The text-source leg of the source/sink surface (SURVEY §2.1): the
# events table is exported as JSON Lines (the interchange format every
# ingest pipeline meets), read BACK through Spark's JSON source with an
# explicit schema, and aggregated — a hash match against the oracle's
# direct parquet aggregation certifies the export+parse loop end-to-end
# (NULL fields dropped by the writer and re-materialized by the reader,
# empty-string vs NULL kept distinct, unicode intact). Timestamps ride
# as epoch-ms integers: Spark's JSON timestamp format is
# millisecond-truncating, so the integer projection is the
# precision-safe (and schema-stable) interchange choice.


@register(
    "events_jsonl_roundtrip",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           CAST(sum(CAST(TRY_CAST(CASE WHEN (isfinite(value) AND abs(value) < 1e16)
                         THEN value END AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS cents,
           CAST(sum(epoch_ms(date_trunc('milliseconds', ts)) % 1000000) AS BIGINT) AS ts_checksum
    FROM events GROUP BY event_type
    """,
)
def events_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events → JSONL → read back (explicit schema) → per-type rollup
    (see block comment). The checksum column proves the timestamp
    integers survived the text roundtrip bit-exactly.

    Plan: export and re-read are distributed (one JSONL part per input
    partition, no driver collect); the final aggregate is staged eagerly
    so the returned frame outlives the temp export, which is removed."""
    import shutil
    import tempfile

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        F.unix_millis("ts").alias("ts_ms"),
        "user_id",
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    out_dir = tempfile.mkdtemp(prefix="jsonl_roundtrip_")
    try:
        ev.write.mode("overwrite").json(out_dir)
        back = spark.read.schema(
            "event_id long, ts_ms long, user_id long,"
            " event_type string, cents long"
        ).json(out_dir)
        agg = stage(
            back.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.count_distinct("user_id").alias("n_users"),
                F.sum("cents").cast("bigint").alias("cents"),
                # % not pmod: DuckDB's % keeps the dividend's sign on
                # pre-epoch (negative) millis, and so does Spark's %
                F.sum(F.col("ts_ms") % F.lit(1_000_000))
                .cast("bigint")
                .alias("ts_checksum"),
            )
        )
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    return agg


@register(
    "events_csv_roundtrip",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(TRY_CAST(CASE WHEN (isfinite(value) AND abs(value) < 1e16)
                         THEN value END AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS cents,
           CAST(sum(epoch_ms(date_trunc('milliseconds', ts)) % 1000000) AS BIGINT) AS ts_checksum,
           CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_anonymous
    FROM events GROUP BY event_type
    """,
)
def events_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV leg of the source-format surface, the sibling of
    events_jsonl_roundtrip: export → read back with an explicit schema →
    rollup hash-matched against the oracle's direct parquet aggregation.
    CSV is the harsher text format — no types, no null literal by
    default, quoting rules — so the writer keeps quoted-empty ('""')
    and nullValue (\\N) distinct (CSV cannot otherwise tell '' from
    NULL; event_type carries both after the hostile mutations) and timestamps
    ride as epoch-ms integers (same precision rationale as JSONL).

    Plan: distributed export/read (one CSV part per input partition),
    eagerly staged rollup so the frame outlives the temp export."""
    import shutil
    import tempfile

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        F.unix_millis("ts").alias("ts_ms"),
        "user_id",
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    out_dir = tempfile.mkdtemp(prefix="csv_roundtrip_")
    try:
        (
            # writer defaults quote empty strings as "" while nullValue
            # marks NULL as \N — the pair that keeps '' and NULL distinct
            # through the text roundtrip (explicit emptyValue="" would
            # write empty UNQUOTED, which reads back as NULL)
            ev.write.mode("overwrite")
            .option("header", "true")
            .option("nullValue", "\\N")
            # the CSV WRITER trims cell whitespace by default (fuzz 6:
            # ' click ' silently merged with 'click'); keep values exact
            .option("ignoreLeadingWhiteSpace", "false")
            .option("ignoreTrailingWhiteSpace", "false")
            .csv(out_dir)
        )
        back = (
            spark.read.schema(
                "event_id long, ts_ms long, user_id long,"
                " event_type string, cents long"
            )
            .option("header", "true")
            .option("nullValue", "\\N")
            .csv(out_dir)
        )
        agg = stage(
            back.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("cents").cast("bigint").alias("cents"),
                F.sum(F.col("ts_ms") % F.lit(1_000_000))
                .cast("bigint")
                .alias("ts_checksum"),
                F.sum(F.col("user_id").isNull().cast("bigint"))
                .cast("bigint")
                .alias("n_anonymous"),
            )
        )
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    return agg


@register(
    "events_orc_roundtrip",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           CAST(sum(CAST(TRY_CAST(CASE WHEN (isfinite(value) AND abs(value) < 1e16)
                         THEN value END AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS cents,
           CAST(sum(epoch_us(ts) % 1000000) AS BIGINT) AS ts_checksum
    FROM events GROUP BY event_type
    """,
)
def events_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC leg of the source-format surface (parquet, CSV and JSONL are
    already certified): export → read back → per-type rollup hash-matched
    against the oracle's direct parquet aggregation. ORC is the
    type-preserving leg — DECIMAL(18,2) rides natively (no text
    serialization at all), so the cents column certifies the decimal
    codec end-to-end, which the text formats cannot. Timestamps ride as
    unsaturated µs integers (the fuzz-5 rule: µs is the storage
    precision, exact both engines; ORC's native timestamp is
    session-timezone-dependent under the env sweep's TZ variants, so the
    integer projection is the schema-stable interchange choice).

    Plan: distributed export/read (one ORC stripe set per input
    partition, no driver collect); the rollup is staged eagerly so the
    returned frame outlives the temp export."""
    import shutil
    import tempfile

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
        F.col("value").cast("decimal(18,2)").alias("val"),
    )
    out_dir = tempfile.mkdtemp(prefix="orc_roundtrip_")
    try:
        ev.write.mode("overwrite").orc(out_dir)
        back = spark.read.schema(
            "event_id long, ts_us long, user_id long,"
            " event_type string, val decimal(18,2)"
        ).orc(out_dir)
        agg = stage(
            back.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.count_distinct("user_id").alias("n_users"),
                F.sum((F.col("val") * 100).cast("long"))
                .cast("bigint")
                .alias("cents"),
                # % not pmod: both engines keep the dividend's sign on
                # pre-epoch (negative) micros
                F.sum(F.col("ts_us") % F.lit(1_000_000))
                .cast("bigint")
                .alias("ts_checksum"),
            )
        )
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    return agg
