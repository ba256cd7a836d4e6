"""General relational surface: aggregations, multi-way joins, semi/anti.

The reference's only aggregation is a client-side ordered merge
(SURVEY.md §2.4) and it has no joins (§2.5); this module supplies the
general surface the engine needs as a query platform, expressed as TPC-H
-shaped queries over the driver's tables. Everything is built-in DataFrame
API — Catalyst provides pushdown, column pruning, join planning; AQE picks
broadcast/skew strategies at runtime.

Scale notes per query are inline; the recurring patterns:
- dimension tables broadcast (explicit F.broadcast where the dimension is
  guaranteed small; AQE handles the rest),
- aggregations are partial-aggregated map-side before the shuffle,
- join order puts the most selective filter innermost so Catalyst prunes
  early.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..registry import register
from ..tables import table
from ._util import (
    RATE,
    dec,
    distributed_prefix_sum,
    distributed_rank,
    int_ratio,
    money_sum,
    money_sum0,
    ms,
    ntile_from_rank,
    one_minus,
    one_plus,
    stage,
    ts_lit,
)


@register(
    "tpch_q1_pricing_summary",
    oracle="""
    SELECT
      l_returnflag,
      l_linestatus,
      CAST(round(sum(TRY_CAST(CASE WHEN isfinite(l_quantity) THEN l_quantity END AS DECIMAL(10,2))), 2) AS DOUBLE) AS sum_qty,
      CAST(round(sum(TRY_CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS DECIMAL(10,2))), 2) AS DOUBLE) AS sum_base_price,
      CAST(round(sum(TRY_CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS DECIMAL(10,2))
                     * (CAST(1 AS DECIMAL(3,2)) - TRY_CAST(CASE WHEN isfinite(l_discount) THEN l_discount END AS DECIMAL(3,2)))), 2) AS DOUBLE) AS sum_disc_price,
      CAST(round(sum(TRY_CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS DECIMAL(10,2))
                     * (CAST(1 AS DECIMAL(3,2)) - TRY_CAST(CASE WHEN isfinite(l_discount) THEN l_discount END AS DECIMAL(3,2)))
                     * (CAST(1 AS DECIMAL(3,2)) + TRY_CAST(CASE WHEN isfinite(l_tax) THEN l_tax END AS DECIMAL(3,2)))), 2) AS DOUBLE) AS sum_charge,
      (CAST(sum(TRY_CAST(CASE WHEN isfinite(l_quantity) THEN l_quantity END AS DECIMAL(10,2))) * 100 AS BIGINT) * 100)
        // count(*) AS avg_qty_e4,
      (CAST(sum(TRY_CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS DECIMAL(10,2))) * 100 AS BIGINT) * 100)
        // count(*) AS avg_price_e4,
      (CAST(sum(TRY_CAST(CASE WHEN isfinite(l_discount) THEN l_discount END AS DECIMAL(3,2))) * 100 AS BIGINT) * 100)
        // count(*) AS avg_disc_e4,
      count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy grouped aggregation. One shuffle over a
    2×3-value grouping key; all arithmetic stays in whole-stage codegen.
    At 100 TB this is bandwidth-bound — filter + projection push to parquet
    so only 7 of 11 columns are read."""
    li = table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= ts_lit("1998-09-02 00:00:00")
    )
    disc_price = dec("l_extendedprice") * one_minus("l_discount")
    charge = disc_price * one_plus("l_tax")
    cnt = F.count("*")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        money_sum(dec("l_quantity"), "sum_qty"),
        money_sum(dec("l_extendedprice"), "sum_base_price"),
        money_sum(disc_price, "sum_disc_price"),
        money_sum(charge, "sum_charge"),
        # exact cents (decimal sum ×100 → BIGINT) over count on the e4
        # grid — the round(double)/count form is the midpoint-tie class
        int_ratio((F.sum(dec("l_quantity")) * 100).cast("long"), cnt, 2, "avg_qty_e4"),
        int_ratio(
            (F.sum(dec("l_extendedprice")) * 100).cast("long"), cnt, 2, "avg_price_e4"
        ),
        int_ratio(
            (F.sum(dec("l_discount", RATE)) * 100).cast("long"), cnt, 2, "avg_disc_e4"
        ),
        cnt.alias("count_order"),
    )


@register(
    "tpch_q3_shipping_priority",
    oracle="""
    SELECT
      o_orderkey,
      CAST(round(sum(TRY_CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS DECIMAL(10,2))
                     * (CAST(1 AS DECIMAL(3,2)) - TRY_CAST(CASE WHEN isfinite(l_discount) THEN l_discount END AS DECIMAL(3,2)))), 2) AS DOUBLE) AS revenue,
      epoch_ms(date_trunc('milliseconds', o_orderdate)) AS o_orderdate_ms,
      o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY o_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate_ms ASC, o_orderkey ASC
    LIMIT 10
    """,
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dimension filter → fact join → grouped
    top-k. customer(filtered) broadcasts to the orders scan; orders→lineitem
    is the only real shuffle. Total-order sort key → deterministic LIMIT."""
    cust = table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < ts_lit("1998-03-15 00:00:00")
    )
    li = table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > ts_lit("1998-03-15 00:00:00")
    )
    revenue = dec("l_extendedprice") * one_minus("l_discount")
    return (
        li.join(
            orders.join(
                F.broadcast(cust.select("c_custkey")),
                F.col("o_custkey") == F.col("c_custkey"),
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(money_sum(revenue, "revenue"))
        .select(
            "o_orderkey",
            "revenue",
            ms("o_orderdate").alias("o_orderdate_ms"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderdate_ms"), F.asc("o_orderkey"))
        .limit(10)
    )


@register(
    "tpch_q5_local_supplier",
    oracle="""
    SELECT
      n_name,
      CAST(round(sum(TRY_CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS DECIMAL(10,2))
                     * (CAST(1 AS DECIMAL(3,2)) - TRY_CAST(CASE WHEN isfinite(l_discount) THEN l_discount END AS DECIMAL(3,2)))), 2) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC
    """,
)
def tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: six-table join with a region filter. All dimensions
    (region→nation→supplier, customer) broadcast; the fact table shuffles
    once for the orders join. Half-open date range pushes to the scan."""
    region = table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = table(spark, sf_dir, "nation")
    supplier = table(spark, sf_dir, "supplier")
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= ts_lit("1996-01-01 00:00:00"))
        & (F.col("o_orderdate") < ts_lit("1997-01-01 00:00:00"))
    )
    li = table(spark, sf_dir, "lineitem")
    asian_nations = nation.join(
        F.broadcast(region.select("r_regionkey")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select("n_nationkey", "n_name")
    asian_suppliers = supplier.join(
        F.broadcast(asian_nations), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_nationkey", "n_name")
    revenue = dec("l_extendedprice") * one_minus("l_discount")
    return (
        li.join(F.broadcast(asian_suppliers), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders.select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(money_sum(revenue, "revenue"))
        .orderBy(F.desc("revenue"))
    )


@register(
    "tpch_q6_forecast_revenue",
    oracle="""
    SELECT
      -- coalesce: zero-row qualifying set -> 0 revenue (fuzz 13, 47/48)
      CAST(round(coalesce(sum(TRY_CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS DECIMAL(10,2))
                     * TRY_CAST(CASE WHEN isfinite(l_discount) THEN l_discount END AS DECIMAL(3,2))), 0), 2) AS DOUBLE) AS revenue,
      count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount >= 0.03 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan + conjunctive filter + global aggregate.
    Every predicate reaches the parquet reader (verified in test_plans) —
    at 100 TB this reads only row groups whose min/max overlap the window."""
    li = table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= ts_lit("1996-01-01 00:00:00"))
        & (F.col("l_shipdate") < ts_lit("1997-01-01 00:00:00"))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        money_sum0(dec("l_extendedprice") * dec("l_discount", RATE), "revenue"),
        F.count("*").alias("n_items"),
    )


@register(
    "tpch_q10_returned_items",
    oracle="""
    SELECT
      c_custkey,
      c_name,
      CAST(round(sum(TRY_CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS DECIMAL(10,2))
                     * (CAST(1 AS DECIMAL(3,2)) - TRY_CAST(CASE WHEN isfinite(l_discount) THEN l_discount END AS DECIMAL(3,2)))), 2) AS DOUBLE) AS revenue,
      round(CAST(TRY_CAST(CASE WHEN isfinite(c_acctbal) THEN c_acctbal END AS DECIMAL(10,2)) AS DOUBLE), 2) AS c_acctbal,
      n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue ranking. The returnflag
    filter pushes into the fact scan; nation broadcasts; top-k via
    TakeOrderedAndProject with unique tiebreak."""
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    orders = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= ts_lit("1996-10-01 00:00:00"))
        & (F.col("o_orderdate") < ts_lit("1997-01-01 00:00:00"))
    )
    li = table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    revenue = dec("l_extendedprice") * one_minus("l_discount")
    return (
        li.join(orders.select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(money_sum(revenue, "revenue"))
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round(dec("c_acctbal").cast("double"), 2).alias("c_acctbal"),
            "n_name",
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "customers_without_pending_orders",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE NOT EXISTS (
      SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P'
    )
    """,
)
def customers_without_pending_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 anti join — the natural form of the reference's existence checks
    (O13). left_anti keeps only the probe side; no row widening, and the
    orders side reduces to its join key before the build. (Filtered on 'P'
    status so the result is non-trivial — every customer has *some* order
    in this corpus.)"""
    cust = table(spark, sf_dir, "customer")
    pending = table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "P"
    ).select("o_custkey")
    return cust.join(
        pending, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


@register(
    "customers_with_urgent_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
    )
    """,
)
def customers_with_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 semi join: EXISTS rewritten as left_semi — deduplicating
    existence probe, no fan-out on multi-match."""
    cust = table(spark, sf_dir, "customer")
    urgent = table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_custkey")
    return cust.join(
        urgent, F.col("c_custkey") == F.col("o_custkey"), "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "region_rollup",
    oracle="""
    SELECT
      coalesce(r_name, 'ALL')       AS region_name,
      coalesce(c_mktsegment, 'ALL') AS segment,
      count(*)                      AS n_customers,
      CAST(round(sum(TRY_CAST(CASE WHEN isfinite(c_acctbal) THEN c_acctbal END AS DECIMAL(10,2))), 2) AS DOUBLE) AS total_acctbal,
      CAST(grouping(r_name) AS INT) + CAST(grouping(c_mktsegment) AS INT) AS grouping_level
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, c_mktsegment)
    -- fuzz 13 class 46: on EMPTY input Spark's ROLLUP emits NO rows
    -- (it drops even the () grouping set) while DuckDB emits the
    -- standard grand-total row with count 0; count(*) > 0 holds for
    -- every non-degenerate group, so this pins Spark's behavior exactly
    HAVING count(*) > 0
    """,
)
def region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 generalization: hierarchical ROLLUP aggregation with GROUPING()
    disambiguation (broadcast dims → single-shuffle rollup)."""
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    joined = cust.join(
        F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
    ).join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    return (
        joined.rollup("r_name", "c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            money_sum(dec("c_acctbal"), "total_acctbal"),
            (
                F.grouping("r_name").cast("int") + F.grouping("c_mktsegment").cast("int")
            ).alias("grouping_level"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region_name"),
            F.coalesce("c_mktsegment", F.lit("ALL")).alias("segment"),
            "n_customers",
            "total_acctbal",
            "grouping_level",
        )
    )


# --- market-basket co-occurrence ------------------------------------------
BASKET_MIN_SUPPORT = 2  #: pairs must co-occur in at least this many orders


@register(
    "basket_part_pairs",
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             count(*) AS support
      FROM items a
      JOIN items b ON b.l_orderkey = a.l_orderkey
                  AND b.l_partkey > a.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= {BASKET_MIN_SUPPORT}
    ),
    part_orders AS (
      SELECT l_partkey, count(*) AS n_orders FROM items GROUP BY 1
    ),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM items)
    SELECT p.part_a, p.part_b, p.support,
           CAST((p.support * 1000) // oa.n_orders AS BIGINT) AS conf_a_to_b_permille,
           CAST((p.support * n.n_baskets * 1000)
                  // (oa.n_orders * ob.n_orders) AS BIGINT) AS lift_permille
    FROM pairs p
    JOIN part_orders oa ON oa.l_partkey = p.part_a
    JOIN part_orders ob ON ob.l_partkey = p.part_b
    CROSS JOIN n
    """,
)
def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket mining: part pairs co-purchased in the same order,
    with support, confidence(A→B) and lift — all integer per-mille
    (de-float rule). The association-rules primitive (Apriori's k=2
    level, which in practice is where basket analysis lives).

    Scale shape: the pair generator is a SELF-EQUI-JOIN ON THE BASKET KEY
    — candidate pairs are bounded by Σ per-order (items choose 2), never
    corpus², and the shuffle key (l_orderkey) is the natural high-
    cardinality key. Per-part totals and the basket count are
    dimension-sized → broadcast into the final scoring join. A support
    floor (≥{BASKET_MIN_SUPPORT}) keeps the output the interesting tail,
    applied BEFORE the scoring joins so low-support pairs never reach
    them."""
    # staged (r12, measured): items feeds FIVE plan branches (both
    # pair-join sides, part_orders, the basket-count scalar) — the
    # lineitem scan + distinct replayed per branch (10 scans in the
    # audited plan; 2 after). At 100 TB this is the staged `items` table.
    items = stage(
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = items.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a")
    )
    b = items.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b")
    )
    pairs = (
        a.join(b, "ok")
        .where(F.col("part_b") > F.col("part_a"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= BASKET_MIN_SUPPORT)
    )
    part_orders = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_orders"))
    # basket total as an in-plan broadcast scalar row (no driver action)
    n_row = F.broadcast(items.agg(F.count_distinct("l_orderkey").alias("n_baskets")))
    scored = (
        pairs.join(
            F.broadcast(
                part_orders.select(
                    F.col("l_partkey").alias("part_a"),
                    F.col("n_orders").alias("oa"),
                )
            ),
            "part_a",
        )
        .join(
            F.broadcast(
                part_orders.select(
                    F.col("l_partkey").alias("part_b"),
                    F.col("n_orders").alias("ob"),
                )
            ),
            "part_b",
        )
    )
    return scored.crossJoin(n_row).select(
        "part_a",
        "part_b",
        "support",
        F.expr("(support * 1000) div oa").alias("conf_a_to_b_permille"),
        F.expr("(support * n_baskets * 1000) div (oa * ob)").alias(
            "lift_permille"
        ),
    )


@register(
    "lineitem_price_quantity_corr",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             CAST(TRY_CAST(CASE WHEN isfinite(l_quantity) THEN l_quantity END AS DECIMAL(10,2)) * 100 AS BIGINT) AS q,
             CAST(TRY_CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS DECIMAL(10,2)) * 100 AS BIGINT) AS p
      FROM lineitem
    ),
    s AS (
      SELECT l_returnflag,
             count(*) AS n,
             sum(q) AS sq, sum(p) AS sp,
             sum(q * q) AS sqq,
             sum(CAST(p AS HUGEINT) * p) AS spp,
             sum(CAST(q AS HUGEINT) * p) AS sqp
      FROM m GROUP BY 1
    )
    SELECT l_returnflag, n,
           -- zero-variance guard (fuzz 13): a single-row (or constant)
           -- group has no defined correlation — NULL on both engines
           -- instead of Spark's ANSI /0 error vs DuckDB's NaN float
           CASE WHEN (CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE)
                        - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE)) > 0
                 AND (CAST(n AS DOUBLE) * CAST(spp AS DOUBLE)
                        - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE)) > 0
           THEN
           CAST(floor(
             (CAST(n AS DOUBLE) * CAST(sqp AS DOUBLE)
                - CAST(sq AS DOUBLE) * CAST(sp AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE)
                       - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(spp AS DOUBLE)
                       - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE)))
             * 1000000) AS BIGINT) END AS corr_e6
    FROM s
    """,
)
def lineitem_price_quantity_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of quantity vs extended price per return flag,
    in ONE aggregation pass over exact integer moments.

    Why not F.corr: streaming float covariance accumulates in partition-
    dependent order, so the last ulps differ run to run and engine to
    engine. Here the five moments are EXACT integer sums (quantities and
    prices as cents; squares in 128-bit-safe decimals) — order-
    independent — and the correlation is derived from them at the end in
    IEEE doubles, where *, -, /, sqrt are all correctly rounded: same
    exact inputs ⇒ bit-identical output on any engine, emitted micro-
    scaled (corr_e6). One shuffle on the 3-value group key."""
    m = table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        (F.col("l_quantity").cast("decimal(10,2)") * 100)
        .cast("long")
        .alias("q"),
        (F.col("l_extendedprice").cast("decimal(10,2)") * 100)
        .cast("long")
        .alias("p"),
    )
    s = m.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("sq"),
        F.sum("p").alias("sp"),
        F.sum(F.col("q") * F.col("q")).alias("sqq"),
        F.sum(F.col("p").cast("decimal(38,0)") * F.col("p")).alias("spp"),
        F.sum(F.col("q").cast("decimal(38,0)") * F.col("p")).alias("sqp"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    varq = d("n") * d("sqq") - d("sq") * d("sq")
    varp = d("n") * d("spp") - d("sp") * d("sp")
    corr = (d("n") * d("sqp") - d("sq") * d("sp")) / F.sqrt(varq * varp)
    return s.select(
        "l_returnflag",
        "n",
        # zero-variance guard (fuzz 13): single-row/constant groups have
        # no defined correlation — NULL, mirroring the oracle's CASE
        # (Spark's ANSI division would error, DuckDB would float to NaN)
        F.when((varq > 0) & (varp > 0), F.floor(corr * 1_000_000))
        .cast("bigint")
        .alias("corr_e6"),
    )


HIST_BIN_CENTS = 5000  #: 50-currency-unit equi-width bins


@register(
    "events_value_histogram",
    oracle=f"""
    SELECT event_type,
           CAST(CAST(TRY_CAST(CASE WHEN (isfinite(value) AND abs(value) < 1e16) THEN value END AS DECIMAL(18,2)) * 100 AS BIGINT)
                  // {HIST_BIN_CENTS} AS BIGINT) AS bin,
           CAST(CAST(TRY_CAST(CASE WHEN (isfinite(value) AND abs(value) < 1e16) THEN value END AS DECIMAL(18,2)) * 100 AS BIGINT)
                  // {HIST_BIN_CENTS} AS BIGINT) * {HIST_BIN_CENTS} AS bin_lo_cents,
           count(*) AS n
    FROM events
    GROUP BY 1, 2
    """,
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width value distribution per event type — the profiling/
    dashboarding histogram. Binning on exact CENTS with integer division
    (never width_bucket on raw doubles: a value sitting on a float bin
    edge can land differently per engine; an integer edge cannot). One
    map-side-combined shuffle on (type, bin) — at 100 TB the combine
    collapses each partition to ≤ types×bins rows before the exchange."""
    ev = table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    binned = ev.select(
        "event_type", cents.alias("cents")
    ).withColumn("bin", F.expr(f"cents div {HIST_BIN_CENTS}"))
    return (
        binned.groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "event_type",
            "bin",
            (F.col("bin") * HIST_BIN_CENTS).alias("bin_lo_cents"),
            "n",
        )
    )


@register(
    "customer_rfm_segments",
    oracle="""
    WITH base AS (
      SELECT o_custkey AS c_custkey,
             max(epoch_ms(date_trunc('milliseconds', o_orderdate))) AS last_order_ms,
             count(*) AS frequency,
             sum(CAST(TRY_CAST(CASE WHEN isfinite(o_totalprice) THEN o_totalprice END AS DECIMAL(12,2)) * 100 AS BIGINT))
               AS monetary_cents
      FROM orders GROUP BY 1
    ),
    scored AS (
      SELECT c_custkey, last_order_ms, frequency, monetary_cents,
             ntile(4) OVER (ORDER BY last_order_ms DESC, c_custkey ASC) AS r,
             ntile(4) OVER (ORDER BY frequency DESC, c_custkey ASC) AS f,
             ntile(4) OVER (ORDER BY monetary_cents DESC, c_custkey ASC) AS m
      FROM base
    )
    SELECT r, f, m,
           count(*) AS n_customers,
           CAST(sum(monetary_cents) AS BIGINT) AS segment_cents
    FROM scored GROUP BY 1, 2, 3
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: customers quartiled by recency / frequency /
    monetary value (1 = best), rolled up to segment sizes and revenue —
    the standard marketing-analytics cube.

    Determinism: every ntile ordering carries the c_custkey tiebreak (a
    total order — quartile boundaries cannot shuffle between engines);
    money is exact cents.

    Plan (r9 verdict item 5 — the documented 100 TB form, now the
    implementation): each quartile rides ``_util.distributed_rank`` —
    range-partition on the ordering, within-bucket ``row_number``,
    broadcast bucket offsets — plus ``ntile_from_rank``'s exact integer
    arithmetic, so NO single-partition window exists anywhere in the
    plan (tests/test_plans.py pins it). The oracle keeps the one-window
    ntile formulation as the independent ground truth. The customer
    frame is dimension-sized here but ~10⁹ rows at 100 TB — exactly the
    scale where the old global-ntile window serialized."""
    orders = table(spark, sf_dir, "orders")
    # three rankings + the rollup consume it
    base = stage(
        orders.groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.max(ms("o_orderdate")).alias("last_order_ms"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(
                (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("long")
            ).alias("monetary_cents"),
        )
    )
    n = base.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    dims = (
        ("r", "last_order_ms"),
        ("f", "frequency"),
        ("m", "monetary_cents"),
    )
    # r13 (guide §2.3/§2.4): each ranking pass projects to (c_custkey,
    # order column) before the range exchange — the rank machinery was
    # carrying all four base columns through two exchanges per dimension.
    # The three per-dimension tile frames then merge via ONE union +
    # groupBy(c_custkey) pivot instead of three successive equi-joins
    # (each customer appears exactly once per dimension, so max(when) is
    # exact) — one exchange of 3n thin rows replaces three join shuffles.
    tile_parts = []
    for name, col in dims:
        tiles = (
            distributed_rank(
                base.select("c_custkey", col),
                [F.desc(col), F.asc("c_custkey")],
                rank_name="_rn",
            )
            .crossJoin(F.broadcast(n))
            .select(
                "c_custkey",
                F.lit(name).alias("_dim"),
                ntile_from_rank(F.col("_rn"), F.col("_n"), 4).alias("_tile"),
            )
        )
        tile_parts.append(tiles)
    u = tile_parts[0].unionByName(tile_parts[1]).unionByName(tile_parts[2])
    pivoted = u.groupBy("c_custkey").agg(
        *[
            F.max(F.when(F.col("_dim") == name, F.col("_tile"))).alias(name)
            for name, _ in dims
        ]
    )
    scored = base.select("c_custkey", "monetary_cents").join(pivoted, "c_custkey")
    return scored.groupBy("r", "f", "m").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("monetary_cents").alias("segment_cents"),
    )


@register(
    "customer_revenue_gini",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             sum(CAST(TRY_CAST(CASE WHEN isfinite(o_totalprice) THEN o_totalprice END AS DECIMAL(18,2)) * 100 AS BIGINT)) AS x
      FROM orders GROUP BY o_custkey
    ),
    -- x IS NULL = customer with no usable (finite) revenue at all —
    -- unknown, not zero, so it leaves the inequality universe (fuzz 9:
    -- a NULL x would also sort FIRST in Spark's rank window and LAST in
    -- DuckDB's)
    vals AS (SELECT x, count(*) AS c FROM rev WHERE x IS NOT NULL GROUP BY x),
    pref AS (
      SELECT x, c,
             sum(c) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) - c AS prefix
      FROM vals
    ),
    agg AS (
      SELECT sum(c) AS n,
             sum(CAST(c AS HUGEINT) * x) AS t,
             sum((CAST(c AS HUGEINT) * prefix
                  + (CAST(c AS HUGEINT) * (c + 1)) // 2) * x) AS s1
      FROM pref
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(t AS BIGINT) AS total_cents,
           CAST(((2 * s1 - (n + 1) * t) * 1000000)
                // (CAST(n AS HUGEINT) * t) AS BIGINT) AS gini_e6
    FROM agg
    """,
)
def customer_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration Gini coefficient over customer lifetime
    spend — the inequality gauge behind every whale-analysis dashboard,
    computed EXACTLY: G = (2·Σi·x₍ᵢ₎ − (n+1)·Σx) / (n·Σx) on integer
    cents, emitted as a floor-scaled e6 integer (de-float rule; the
    rank-sum Σi·x₍ᵢ₎ widens through DECIMAL(38)/HUGEINT so no corpus
    size can overflow it).

    Scale shape: ranks come from a VALUE-GROUPED histogram prefix sum —
    customers aggregate once (shuffle on custkey), then the rank-sum
    folds over the *distinct revenue values* frame with tie runs handled
    in closed form (c·prefix + c(c+1)/2), so the one unpartitioned
    window runs over ≤ |distinct values| rows (dimension-sized, the same
    posture as customer_rfm_segments' documented histogram-prefix 100 TB
    form), never over raw orders."""
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    rev = (
        table(spark, sf_dir, "orders")
        .select("o_custkey", cents.alias("c0"))
        .groupBy("o_custkey")
        .agg(F.sum("c0").alias("x"))
        # all-NaN customer → NULL revenue: unknown, leaves the universe
        .where(F.col("x").isNotNull())
    )
    vals = rev.groupBy("x").agg(F.count("*").alias("c"))
    # exclusive count-prefix over the value frame via the two-phase
    # distributed scan — distinct cents values are ~customer-cardinality
    # at 100 TB, so the old unpartitioned window was the same
    # single-partition shape the RFM/equidepth family shed in r10
    pref = distributed_prefix_sum(
        vals, [F.asc("x")], "c", name="prefix", inclusive=False
    )
    agg = pref.agg(
        F.sum("c").alias("n"),
        F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * x")).alias("t"),
        F.sum(
            F.expr(
                "(CAST(c AS DECIMAL(38,0)) * prefix"
                " + (CAST(c AS DECIMAL(38,0)) * (c + 1)) div 2) * x"
            )
        ).alias("s1"),
    )
    return agg.select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.col("t").cast("bigint").alias("total_cents"),
        F.expr(
            "CAST(((2 * s1 - (n + 1) * t) * 1000000)"
            " div (CAST(n AS DECIMAL(38,0)) * t) AS BIGINT)"
        ).alias("gini_e6"),
    )


@register(
    "part_pareto_frontier",
    oracle="""
    WITH g AS (
      -- unknown brand or unknown (non-finite) price cannot participate
      -- in a price/size trade-off (fuzz 10): a NULL brand never matches
      -- the dominance anti-join's equality while Spark's window happily
      -- groups the NULL partition, and a NULL price poisons the
      -- dominance comparisons — excluded from the universe both engines
      SELECT p_brand,
             CAST(TRY_CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS price_cents,
             p_size,
             count(*) AS n_parts,
             min(p_partkey) AS min_partkey
      FROM part
      WHERE p_brand IS NOT NULL AND isfinite(p_retailprice)
      GROUP BY 1, 2, 3
    )
    SELECT a.p_brand, a.price_cents, a.p_size, a.n_parts, a.min_partkey
    FROM g a
    WHERE NOT EXISTS (
      SELECT 1 FROM g b
      WHERE b.p_brand = a.p_brand
        AND b.price_cents <= a.price_cents
        AND b.p_size >= a.p_size
        AND (b.price_cents < a.price_cents OR b.p_size > a.p_size)
    )
    """,
)
def part_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto frontier) per brand: the parts where no other part
    of the same brand is both cheaper-or-equal AND larger-or-equal with at
    least one strict — i.e. the optimal price/size trade-off set.

    Spark-first shape: the oracle's textbook NOT-EXISTS dominance
    anti-join is quadratic in the group; here the 2-D skyline falls out of
    ONE pass over each brand's points sorted by (price asc, size desc) —
    after deduping to distinct (brand, price, size) the sort is total, and
    a point is dominated iff the running max size over its predecessors
    reaches its own size (every predecessor is cheaper, or equal-price
    with strictly larger size). One dimension-sized groupBy + one
    partitioned window; nothing quadratic, no self-join. At 100 TB the
    grouped frame is catalog-sized (distinct price/size combos per brand),
    so the window input stays tiny regardless of fact growth.
    """
    p = table(spark, sf_dir, "part").where(
        # unknown brand / non-finite price: outside the frontier universe
        F.col("p_brand").isNotNull()
        & ~F.isnan("p_retailprice")
        & ~F.col("p_retailprice").isin(float("inf"), float("-inf"))
    )
    g = p.groupBy(
        "p_brand",
        (dec("p_retailprice", "decimal(18,2)") * 100)
        .cast("long")
        .alias("price_cents"),
        "p_size",
    ).agg(
        F.count("*").alias("n_parts"), F.min("p_partkey").alias("min_partkey")
    )
    w = (
        Window.partitionBy("p_brand")
        .orderBy(F.asc("price_cents"), F.desc("p_size"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        g.withColumn("max_prev_size", F.max("p_size").over(w))
        .where(
            F.col("max_prev_size").isNull()
            | (F.col("max_prev_size") < F.col("p_size"))
        )
        .select("p_brand", "price_cents", "p_size", "n_parts", "min_partkey")
    )


@register(
    "orders_abc_classification",
    oracle="""
    WITH cust AS (
      SELECT o_custkey,
             CAST(sum(CAST(TRY_CAST(CASE WHEN isfinite(o_totalprice) THEN o_totalprice END AS DECIMAL(18,2)) * 100
                  AS BIGINT)) AS BIGINT) AS rev
      FROM orders GROUP BY 1
    ),
    ranked AS (
      SELECT o_custkey, rev,
             sum(rev) OVER () AS t,
             sum(rev) OVER (
               ORDER BY rev DESC, o_custkey ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum
      FROM cust
    )
    SELECT CASE WHEN cum * 1000 <= t * 800 THEN 'A'
                WHEN cum * 1000 <= t * 950 THEN 'B'
                ELSE 'C' END AS abc_class,
           count(*) AS n_customers,
           CAST(sum(rev) AS BIGINT) AS revenue_cents
    FROM ranked
    GROUP BY 1
    """,
)
def orders_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto 80/95) analysis: customers ranked by lifetime revenue;
    class A = the head covering the first 80% of cumulative revenue,
    B = up to 95%, C = the tail — reported as per-class customer counts
    and revenue. The class boundary test is the pure-integer comparison
    cum·1000 ≤ total·k (no division, no ratio — nothing to tie-break
    across engines), computed on a TOTAL order (revenue desc, custkey
    asc), so the boundary row assignment is deterministic.

    Plan (r10): one custkey-keyed aggregate (the only fact-sized
    shuffle), then the cumulative sum rides
    ``_util.distributed_prefix_sum`` (range buckets + within-bucket
    windows + broadcast offsets — no unpartitioned window even at ~10⁹
    customers) and the grand total is a broadcast 1-row aggregate;
    DECIMAL(38) widening keeps the boundary products overflow-free."""
    o = table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.sum((F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .cast("long")
        .alias("rev")
    )
    big = "decimal(38,0)"
    total = cust.agg(F.sum("rev").cast(big).alias("t"))
    ranked = (
        distributed_prefix_sum(
            cust,
            [F.desc("rev"), F.asc("o_custkey")],
            "rev",
            name="cum",
            inclusive=True,
        )
        .crossJoin(F.broadcast(total))
        .select("rev", "t", F.col("cum").cast(big).alias("cum"))
    )
    cls = (
        F.when(F.col("cum") * 1000 <= F.col("t") * 800, F.lit("A"))
        .when(F.col("cum") * 1000 <= F.col("t") * 950, F.lit("B"))
        .otherwise(F.lit("C"))
    )
    return ranked.groupBy(cls.alias("abc_class")).agg(
        F.count("*").alias("n_customers"),
        F.sum("rev").cast("long").alias("revenue_cents"),
    )


# --- FULL OUTER reconciliation ----------------------------------------------
# The one join type the surface didn't yet exercise first-class: two
# overlapping feeds of the same business object (here: the orders stream
# and a simulated billing extract — deterministic subsets of the orders
# table with injected penny mismatches) reconciled with a FULL OUTER
# JOIN, every key classified matched / amount_mismatch / orders_only /
# billing_only with exact-cents deltas. This is the ops query every
# dual-write or migration runs nightly; at scale it is one key-equi
# full-outer shuffle join, linear in both feeds.


@register(
    "orders_fullouter_recon",
    oracle="""
    WITH a AS (
      SELECT o_orderkey,
             CAST(TRY_CAST(CASE WHEN isfinite(o_totalprice) THEN o_totalprice END AS DECIMAL(10,2)) * 100 AS BIGINT) AS ca
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    b AS (
      SELECT o_orderkey,
             CAST(TRY_CAST(CASE WHEN isfinite(o_totalprice) THEN o_totalprice END AS DECIMAL(10,2)) * 100 AS BIGINT)
               + CASE WHEN o_orderkey % 7 = 0 THEN 1 ELSE 0 END AS cb
      FROM orders WHERE o_orderkey % 3 = 0
    ),
    recon AS (
      SELECT
        CASE WHEN ca IS NULL THEN 'billing_only'
             WHEN cb IS NULL THEN 'orders_only'
             WHEN ca = cb THEN 'matched'
             ELSE 'amount_mismatch' END AS recon_status,
        coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb,
        abs(coalesce(ca, 0) - coalesce(cb, 0)) AS delta
      FROM a FULL OUTER JOIN b USING (o_orderkey)
    )
    SELECT recon_status,
           count(*) AS n_keys,
           CAST(sum(ca) AS BIGINT) AS cents_orders,
           CAST(sum(cb) AS BIGINT) AS cents_billing,
           CAST(sum(delta) AS BIGINT) AS abs_delta_cents
    FROM recon GROUP BY recon_status
    """,
)
def orders_fullouter_recon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER JOIN reconciliation of two order feeds (see block
    comment). The feeds are deterministic subsets (keys ≡ 0 mod 2 vs mod
    3) with a penny injected on keys ≡ 0 mod 7, so all four recon
    classes are populated at every SF."""
    o = table(spark, sf_dir, "orders")
    cents = (dec("o_totalprice") * 100).cast("long")
    a = o.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", cents.alias("ca")
    )
    b = o.where(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        (
            cents
            + F.when(F.col("o_orderkey") % 7 == 0, 1).otherwise(0)
        ).alias("cb"),
    )
    recon = a.join(b, "o_orderkey", "full").select(
        F.when(F.col("ca").isNull(), "billing_only")
        .when(F.col("cb").isNull(), "orders_only")
        .when(F.col("ca") == F.col("cb"), "matched")
        .otherwise("amount_mismatch")
        .alias("recon_status"),
        F.coalesce("ca", F.lit(0)).alias("ca"),
        F.coalesce("cb", F.lit(0)).alias("cb"),
        F.abs(F.coalesce("ca", F.lit(0)) - F.coalesce("cb", F.lit(0))).alias(
            "delta"
        ),
    )
    return recon.groupBy("recon_status").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("ca").cast("bigint").alias("cents_orders"),
        F.sum("cb").cast("bigint").alias("cents_billing"),
        F.sum("delta").cast("bigint").alias("abs_delta_cents"),
    )
