"""Window-function surface (SURVEY.md §2.6).

The reference's closest construct is ORDER BY time DESC + OFFSET/LIMIT
(BigDataLogControl.cs:267-268); these queries provide the full ranking /
offset / frame surface. Window shuffles partition by their key — at scale
the partition key (customer, user) must be high-cardinality, which all of
these are.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ..registry import register
from ..tables import table
from ._util import dec, finite_or_null, int_ratio, money_sum, ms, ts_lit


@register(
    "top_customers_per_nation",
    oracle="""
    SELECT n_name, c_custkey, total_spend, rnk
    FROM (
      SELECT
        n_name,
        c_custkey,
        CAST(round(sum(TRY_CAST(CASE WHEN isfinite(o_totalprice) THEN o_totalprice END AS DECIMAL(10,2))), 2) AS DOUBLE) AS total_spend,
        rank() OVER (
          PARTITION BY n_name
          ORDER BY round(sum(TRY_CAST(CASE WHEN isfinite(o_totalprice) THEN o_totalprice END AS DECIMAL(10,2))), 2) DESC, c_custkey ASC
        ) AS rnk
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN orders ON o_custkey = c_custkey
      GROUP BY n_name, c_custkey
    )
    WHERE rnk <= 3
    """,
)
def top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank() over per-nation spend: agg shuffle on (nation, customer) then
    window shuffle on nation. Rank on the exact decimal (pre-cast) so ties
    are decided on exact values in both engines, with custkey tiebreak."""
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    orders = table(spark, sf_dir, "orders")
    spend = (
        orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "c_custkey")
        .agg(F.round(F.sum(dec("o_totalprice")), 2).alias("spend_dec"))
    )
    w = Window.partitionBy("n_name").orderBy(F.desc("spend_dec"), F.asc("c_custkey"))
    return (
        spend.withColumn("rnk", F.rank().over(w))
        .where(F.col("rnk") <= 3)
        .select(
            "n_name",
            "c_custkey",
            F.col("spend_dec").cast("double").alias("total_spend"),
            "rnk",
        )
    )


@register(
    "customer_order_running_total",
    oracle="""
    SELECT
      o_custkey,
      o_orderkey,
      epoch_ms(date_trunc('milliseconds', o_orderdate)) AS o_orderdate_ms,
      CAST(round(sum(TRY_CAST(CASE WHEN isfinite(o_totalprice) THEN o_totalprice END AS DECIMAL(10,2))) OVER (
        PARTITION BY o_custkey
        ORDER BY o_orderdate ASC NULLS FIRST, o_orderkey ASC
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      ), 2) AS DOUBLE) AS running_total,
      row_number() OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate ASC NULLS FIRST, o_orderkey ASC
      ) AS order_seq
    FROM orders
    WHERE o_custkey <= 30
    """,
)
def customer_order_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative frame (ROWS UNBOUNDED PRECEDING..CURRENT): per-customer
    running spend. Decimal accumulation keeps the prefix sums exact and
    order-independent across engines."""
    orders = table(spark, sf_dir, "orders").where(F.col("o_custkey") <= 30)
    # NULL o_orderdate sorts FIRST in both engines (fuzz 7, class 27:
    # Spark default is NULLS FIRST asc, DuckDB default is NULLS LAST —
    # pinned explicitly on both sides; o_orderkey keeps the total order)
    w = Window.partitionBy("o_custkey").orderBy(
        F.asc_nulls_first("o_orderdate"), F.asc("o_orderkey")
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        ms("o_orderdate").alias("o_orderdate_ms"),
        F.round(F.sum(dec("o_totalprice")).over(w.rowsBetween(Window.unboundedPreceding, 0)), 2)
        .cast("double")
        .alias("running_total"),
        F.row_number().over(w).alias("order_seq"),
    )


@register(
    "order_gaps_lag_lead",
    oracle="""
    SELECT
      o_custkey,
      o_orderkey,
      epoch_ms(date_trunc('milliseconds', o_orderdate)) AS o_orderdate_ms,
      epoch_ms(date_trunc('milliseconds', lag(o_orderdate) OVER w))  AS prev_order_ms,
      epoch_ms(date_trunc('milliseconds', lead(o_orderdate) OVER w)) AS next_order_ms,
      date_diff('day', lag(o_orderdate) OVER w, o_orderdate) AS days_since_prev
    FROM orders
    WHERE o_custkey <= 30
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_orderdate ASC NULLS FIRST, o_orderkey ASC)
    """,
)
def order_gaps_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead navigation: inter-order gaps per customer. datediff on
    date-truncated values is integral — no FP concerns."""
    orders = table(spark, sf_dir, "orders").where(F.col("o_custkey") <= 30)
    # NULL o_orderdate sorts FIRST in both engines (fuzz 7, class 27:
    # Spark default is NULLS FIRST asc, DuckDB default is NULLS LAST —
    # pinned explicitly on both sides; o_orderkey keeps the total order)
    w = Window.partitionBy("o_custkey").orderBy(
        F.asc_nulls_first("o_orderdate"), F.asc("o_orderkey")
    )
    prev_d = F.lag("o_orderdate").over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        ms("o_orderdate").alias("o_orderdate_ms"),
        ms(prev_d).alias("prev_order_ms"),
        ms(F.lead("o_orderdate").over(w)).alias("next_order_ms"),
        F.datediff(F.col("o_orderdate"), prev_d).cast("long").alias("days_since_prev"),
    )


@register(
    "order_value_quartiles",
    oracle="""
    SELECT
      o_orderkey,
      o_orderstatus,
      ntile(4) OVER (
        PARTITION BY o_orderstatus
        -- NULLS FIRST pinned (fuzz 9: NaN price → NULL decimal leaves
        -- the engines' default NULL placement divergent, as with the
        -- fuzz-8 o_orderpriority class below)
        ORDER BY TRY_CAST(CASE WHEN isfinite(o_totalprice) THEN o_totalprice END AS DECIMAL(10,2)) ASC NULLS FIRST, o_orderkey ASC
      ) AS quartile,
      -- NULLS FIRST pinned (fuzz 8: NULL o_orderpriority - Spark ASC
      -- defaults to NULLS FIRST, DuckDB to NULLS LAST)
      dense_rank() OVER (
        PARTITION BY o_orderstatus ORDER BY o_orderpriority ASC NULLS FIRST
      ) AS priority_rank
    FROM orders
    WHERE o_custkey <= 50
    """,
)
def order_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile + dense_rank: distribution bucketing per order status. Ordering
    on exact decimal + unique key keeps tile assignment deterministic."""
    orders = table(spark, sf_dir, "orders").where(F.col("o_custkey") <= 50)
    w_val = Window.partitionBy("o_orderstatus").orderBy(
        dec("o_totalprice").asc(), F.asc("o_orderkey")
    )
    w_pri = Window.partitionBy("o_orderstatus").orderBy(
        F.asc_nulls_first("o_orderpriority")
    )
    return orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.ntile(4).over(w_val).alias("quartile"),
        F.dense_rank().over(w_pri).alias("priority_rank"),
    )


# --- time-window aggregations shared with the streaming module -----------
# (same transformation functions run on streaming frames in
#  bigdatatiler_spark/streaming/ingest.py; batch runs are oracle-checked)

from ..streaming.ingest import session_windows, tumbling_counts  # noqa: E402


@register(
    "events_tumbling_hourly",
    oracle="""
    SELECT
      epoch_ms(date_trunc('milliseconds', date_trunc('hour', ts))) AS window_start_ms,
      event_type,
      count(*) AS n_events,
      round(CAST(sum(TRY_CAST(CASE WHEN (isfinite(value) AND abs(value) < 1e16) THEN value END AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
    FROM events
    WHERE ts IS NOT NULL
    GROUP BY 1, 2
    """,
)
def events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation (F.window == hour truncation for
    aligned windows). Identical code path powers the streaming variant —
    watermark-evicted state there, plain shuffle here."""
    from ..tables import table as _table

    return tumbling_counts(_table(spark, sf_dir, "events"), size="1 hour")


# gaps-and-islands sessions; also the oracle of the streaming twin,
# events_streaming_session_parity
_SESSION_ORACLE = """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTES
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    numbered AS (
      SELECT user_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM flagged
    )
    SELECT
      user_id,
      epoch_ms(date_trunc('milliseconds', min(ts))) AS session_start_ms,
      epoch_ms(date_trunc('milliseconds', max(ts) + INTERVAL 30 MINUTES)) AS session_end_ms,
      count(*) AS n_events
    FROM numbered
    GROUP BY user_id, sess_id
    """


@register("events_session_windows", oracle=_SESSION_ORACLE)
def events_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min inactivity gap) per user — F.session_window
    in batch; the oracle derives identical sessions via gaps-and-islands.
    Boundary semantics (pinned by the hostile-fixture differential): an
    event at EXACTLY last+gap MERGES into the session — Spark's session
    combiner joins on start <= prev_close inclusive — so the oracle's
    new-session test is strictly ``gap > timeout``, not ``>=``."""
    from ..tables import table as _table

    return session_windows(_table(spark, sf_dir, "events"), gap="30 minutes")


@register(
    "events_sliding_counts",
    oracle="""
    SELECT
      epoch_ms(date_trunc('milliseconds', time_bucket(INTERVAL '15 minutes', ts) - k * INTERVAL '15 minutes'))
        AS window_start_ms,
      epoch_ms(date_trunc('milliseconds', time_bucket(INTERVAL '15 minutes', ts) - k * INTERVAL '15 minutes'
               + INTERVAL '1 hour')) AS window_end_ms,
      event_type,
      count(*) AS n_events
    FROM events CROSS JOIN generate_series(0, 3) AS t(k)
    WHERE ts IS NOT NULL
    GROUP BY 1, 2, 3
    """,
)
def events_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour windows every 15 minutes: each event lands in
    size/slide = 4 windows (Spark expands map-side, one shuffle on the
    expanded key — the oracle derives the same 4 epoch-aligned windows
    per event via a generate_series cross join). Shared transformation
    with the streaming variant in streaming/ingest.py."""
    from ..streaming.ingest import sliding_counts
    from ..tables import table as _table

    return sliding_counts(
        _table(spark, sf_dir, "events"), size="1 hour", slide="15 minutes"
    )


@register(
    "order_price_percentiles",
    oracle="""
    SELECT
      o_orderpriority,
      count(DISTINCT o_custkey) AS n_distinct_customers,
      round(quantile_cont(CASE WHEN isfinite(o_totalprice) THEN o_totalprice END, 0.5), 4) AS p50_price,
      round(quantile_cont(CASE WHEN isfinite(o_totalprice) THEN o_totalprice END, 0.9), 4) AS p90_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def order_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles + distinct aggregation per group.
    `percentile` (exact) matches DuckDB's quantile_cont interpolation;
    at 100 TB swap in approx_percentile (t-digest sketch, one pass,
    mergeable) — exact percentile needs a per-group sort. The distinct
    count adds the two-shuffle distinct-agg plan (expand → partial).
    Non-finite prices leave the quantile universe on both engines
    (finite_or_null / isfinite mirror — fuzz 9: Spark's percentile
    sorts NaN greatest, DuckDB's quantile_cont skips it)."""
    o = table(spark, sf_dir, "orders")
    price = finite_or_null(F.col("o_totalprice").cast("double"))
    return o.groupBy("o_orderpriority").agg(
        F.count_distinct(F.col("o_custkey")).alias("n_distinct_customers"),
        F.round(F.percentile(price, F.lit(0.5)), 4).alias("p50_price"),
        F.round(F.percentile(price, F.lit(0.9)), 4).alias("p90_price"),
    )


# --- behavioral analytics: funnel + cohort retention ----------------------
# The funnel is computed in ONE shuffle: per user, the sorted (ts, type)
# event array folds through a 4-slot state struct entirely inside codegen
# (no per-step re-scan). The oracle derives the same strict-order funnel
# via four chained CTEs — an independent formulation, like the
# connected-components recursive-CTE cross-check.
_FUNNEL_STEPS = ("signup", "view", "click", "purchase")


def _funnel_chain(evs, step_ms: int | None = None):
    """Left-to-right funnel fold shared by the unbounded and timed
    funnels (the timed one is this fold with a per-step window; keeping
    ONE copy of the state machine means a semantics fix cannot leave the
    two silently disagreeing). The not-reached sentinel is NULL — no
    integer sentinel is safe (round 4 used 0 and collided with epoch-0;
    its -1 replacement collided with PRE-1970 timestamps, caught by the
    hostile-fixture differential in round 5 — the oracle's min() form
    has no sentinel at all, so only NULL matches it on every input)."""
    per_user = evs.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("t", "ty"))).alias("seq")
    )
    none = F.lit(None).cast("bigint")
    init = F.struct(
        none.alias("t1"), none.alias("t2"), none.alias("t3"), none.alias("t4")
    )
    d = None if step_ms is None else F.lit(step_ms).cast("bigint")

    def step(acc, e):
        t, ty = e["t"], e["ty"]
        t1 = F.when(acc["t1"].isNull() & (ty == _FUNNEL_STEPS[0]), t).otherwise(
            acc["t1"]
        )

        def advance(prev, slot, want):
            cond = (
                acc[slot].isNull()
                & (ty == want)
                & acc[prev].isNotNull()
                & (t > acc[prev])
            )
            if d is not None:
                cond = cond & (t - acc[prev] <= d)
            return F.when(cond, t).otherwise(acc[slot])

        t2 = advance("t1", "t2", _FUNNEL_STEPS[1])
        t3 = advance("t2", "t3", _FUNNEL_STEPS[2])
        t4 = advance("t3", "t4", _FUNNEL_STEPS[3])
        return F.struct(
            t1.alias("t1"), t2.alias("t2"), t3.alias("t3"), t4.alias("t4")
        )

    return per_user.select(F.aggregate("seq", init, step).alias("c"))


def _funnel_report(chain):
    # coalesce: SUM over an EMPTY input is NULL in Spark while the
    # oracle's step counts are COUNT(*) subqueries (0) — a zero-user
    # corpus must report 0 at every step, not NULL (fuzz 13, class 47);
    # the rate stays NULL when n_signup = 0 (int_ratio is zero-den-safe)
    reached = lambda k: F.coalesce(
        F.sum(F.col(f"c.t{k}").isNotNull().cast("bigint")), F.lit(0)
    )
    return chain.agg(
        reached(1).alias("n_signup"),
        reached(2).alias("n_view"),
        reached(3).alias("n_click"),
        reached(4).alias("n_purchase"),
        int_ratio(reached(4), reached(1), 4, "signup_to_purchase_rate_e4"),
    )


@register(
    "events_funnel_conversion",
    oracle="""
    WITH e AS (
      SELECT user_id, epoch_ms(date_trunc('milliseconds', ts)) AS t, event_type FROM events
      WHERE user_id IS NOT NULL
    ),
    s1 AS (SELECT user_id, min(t) AS t1 FROM e
           WHERE event_type = 'signup' GROUP BY user_id),
    s2 AS (SELECT e.user_id, min(t) AS t2 FROM e JOIN s1 USING (user_id)
           WHERE event_type = 'view' AND t > t1 GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, min(t) AS t3 FROM e JOIN s2 USING (user_id)
           WHERE event_type = 'click' AND t > t2 GROUP BY e.user_id),
    s4 AS (SELECT e.user_id, min(t) AS t4 FROM e JOIN s3 USING (user_id)
           WHERE event_type = 'purchase' AND t > t3 GROUP BY e.user_id)
    SELECT
      (SELECT count(*) FROM s1) AS n_signup,
      (SELECT count(*) FROM s2) AS n_view,
      (SELECT count(*) FROM s3) AS n_click,
      (SELECT count(*) FROM s4) AS n_purchase,
      ((SELECT count(*) FROM s4) * 10000)
        // nullif((SELECT count(*) FROM s1), 0)
        AS signup_to_purchase_rate_e4
    """,
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel signup → view → click → purchase: a user
    reaches step k+1 only with an event of that type STRICTLY AFTER the
    timestamp at which they reached step k (first-touch attribution).

    Plan: ONE shuffle on user_id; each user's sorted event array folds
    left-to-right through a (t1..t4) state struct — all inside
    whole-stage codegen, no UDF, no per-step event re-scan (the naive
    formulation scans events once per funnel step; the oracle does
    exactly that, so the two formulations cross-verify). Per-user arrays
    are session-sized, the same boundedness argument as the tile
    gather-and-merge."""
    from ..tables import table as _table

    # anonymous events (NULL user_id) cannot funnel — excluded both
    # engines (the oracle's USING join would drop them asymmetrically)
    evs = (
        _table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select("user_id", ms("ts").alias("t"), F.col("event_type").alias("ty"))
    )
    return _funnel_report(_funnel_chain(evs))



@register(
    "events_weekly_retention",
    oracle="""
    WITH f AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cw FROM events
      GROUP BY user_id
    ),
    act AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
    )
    SELECT
      epoch_ms(date_trunc('milliseconds', f.cw)) AS cohort_week_ms,
      (epoch_ms(date_trunc('milliseconds', a.wk)) - epoch_ms(date_trunc('milliseconds', f.cw))) // 604800000 AS week_offset,
      count(*) AS n_active_users
    FROM act a JOIN f USING (user_id)
    GROUP BY 1, 2
    """,
)
def events_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by the week of their first event;
    for every (cohort week, week offset) the count of cohort members
    active that week — the triangle a growth dashboard plots. Week
    boundaries are Monday-aligned in both engines (date_trunc 'week'),
    and the offset is exact integer division of epoch-ms (week starts
    are aligned multiples apart).

    Plan: two user-keyed shuffles (first-event agg, distinct activity)
    + one user-keyed equi-join + a tiny (weeks x weeks) final agg —
    everything keys on user_id, so the shape survives any corpus scale;
    no windows, no collect."""
    from ..tables import table as _table

    evs = _table(spark, sf_dir, "events")
    f = (
        evs.groupBy("user_id")
        .agg(F.min("ts").alias("first_ts"))
        .select("user_id", ms(F.date_trunc("week", F.col("first_ts"))).alias("cw_ms"))
    )
    act = evs.select(
        "user_id", ms(F.date_trunc("week", F.col("ts"))).alias("wk_ms")
    ).distinct()
    return (
        act.join(f, "user_id")
        .groupBy(
            F.col("cw_ms").alias("cohort_week_ms"),
            ((F.col("wk_ms") - F.col("cw_ms")) / F.lit(604800000))
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(F.count("*").alias("n_active_users"))
    )


@register(
    "events_hourly_gapfill",
    oracle="""
    WITH bounds AS (
      SELECT min(date_trunc('hour', ts)) AS lo,
             least(max(date_trunc('hour', ts)),
                   min(date_trunc('hour', ts)) + INTERVAL '9999 hours') AS hi
      FROM events
    ),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM bounds
    ),
    agg AS (
      SELECT date_trunc('hour', ts) AS h, count(*) AS n FROM events GROUP BY 1
    )
    SELECT
      epoch_ms(date_trunc('milliseconds', s.h)) AS bucket_ms,
      CAST(COALESCE(a.n, 0) AS BIGINT) AS n_events,
      CASE WHEN a.n IS NULL THEN 1 ELSE 0 END AS is_gap
    FROM spine s LEFT JOIN agg a ON s.h = a.h
    """,
)
def events_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly series (the hypertable `time_bucket_gapfill`
    shape): every hour between the corpus min and max gets a row, absent
    hours zero-filled and flagged — what a dashboard or downstream
    anomaly detector needs to distinguish "no data" from "no bucket".

    Plan: the spine is generated IN-PLAN from a 1-row min/max aggregate
    (`sequence` + explode — no driver collect, no literal bounds), then
    broadcast-joined to the hourly aggregate. The spine's cardinality is
    hours-of-history — independent of corpus size, so the shape is
    identical at 100 TB.
    """
    ev = table(spark, sf_dir, "events")
    hour_ms = (F.unix_millis(F.date_trunc("hour", F.col("ts")))).alias("h")
    spine = (
        ev.select(hour_ms)
        .agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
        # spine cap (10k buckets): one corrupt far-future timestamp must
        # not explode the spine into millions of rows (fuzz round 4 —
        # year-9999 event made this a 70M-row generate_series); the
        # oracle mirrors with least(hi, lo + INTERVAL '9999 hours')
        .select(
            F.explode(
                F.sequence(
                    F.col("lo"),
                    F.least(
                        F.col("hi"), F.col("lo") + F.lit(9999 * 3_600_000)
                    ),
                    F.lit(3_600_000),
                )
            ).alias("bucket_ms")
        )
    )
    agg = ev.select(hour_ms).groupBy("h").agg(F.count(F.lit(1)).alias("n"))
    return spine.join(
        agg, spine["bucket_ms"] == agg["h"], "left"
    ).select(
        "bucket_ms",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_events"),
        F.when(F.col("n").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("is_gap"),
    )


@register(
    "events_gapfill_locf",
    oracle="""
    WITH bounds AS (
      SELECT min(date_trunc('hour', ts)) AS lo,
             least(max(date_trunc('hour', ts)),
                   min(date_trunc('hour', ts)) + INTERVAL '9999 hours') AS hi
      FROM events
    ),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM bounds
    ),
    agg AS (
      SELECT date_trunc('hour', ts) AS h,
             CAST(sum(CAST(TRY_CAST(CASE WHEN (isfinite(value) AND abs(value) < 1e16) THEN value END AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1
    ),
    joined AS (
      SELECT s.h, a.cents FROM spine s LEFT JOIN agg a ON s.h = a.h
    )
    SELECT
      epoch_ms(date_trunc('milliseconds', h)) AS bucket_ms,
      CAST(COALESCE(
        last_value(cents IGNORE NULLS)
          OVER (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        0) AS BIGINT) AS value_cents_locf,
      CASE WHEN cents IS NULL THEN 1 ELSE 0 END AS is_gap
    FROM joined
    """,
)
def events_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly value with last-observation-carried-forward —
    the other half of the hypertable gapfill surface (`locf()`): gap
    hours repeat the most recent real observation instead of zeroing,
    the standard treatment for level-style metrics (gauges, balances).

    The LOCF window is GLOBAL-ordered, which would be a scale red flag on
    a fact table — but it runs over the SPINE (hours-of-history rows,
    thousands at a century of data), after the fact-sized work has
    already collapsed into the hourly aggregate. Measures stay exact
    integer cents end-to-end.
    """
    ev = table(spark, sf_dir, "events")
    hour_ms = (F.unix_millis(F.date_trunc("hour", F.col("ts")))).alias("h")
    spine = (
        ev.select(hour_ms)
        .agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
        # spine cap (10k buckets): one corrupt far-future timestamp must
        # not explode the spine into millions of rows (fuzz round 4 —
        # year-9999 event made this a 70M-row generate_series); the
        # oracle mirrors with least(hi, lo + INTERVAL '9999 hours')
        .select(
            F.explode(
                F.sequence(
                    F.col("lo"),
                    F.least(
                        F.col("hi"), F.col("lo") + F.lit(9999 * 3_600_000)
                    ),
                    F.lit(3_600_000),
                )
            ).alias("bucket_ms")
        )
    )
    agg = (
        ev.select(
            hour_ms,
            (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("c"),
        )
        .groupBy("h")
        .agg(F.sum("c").alias("cents"))
    )
    joined = spine.join(agg, spine["bucket_ms"] == agg["h"], "left")
    w = Window.orderBy("bucket_ms").rowsBetween(Window.unboundedPreceding, 0)
    return joined.select(
        "bucket_ms",
        F.coalesce(
            F.last("cents", ignorenulls=True).over(w), F.lit(0)
        ).cast("long").alias("value_cents_locf"),
        F.when(F.col("cents").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("is_gap"),
    )


@register(
    "events_type_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ) AS next_type
      FROM events WHERE ts IS NOT NULL
    ),
    pairs AS (
      SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY 1, 2
    ),
    totals AS (
      SELECT from_type, sum(n) AS row_total FROM pairs GROUP BY 1
    )
    SELECT p.from_type, p.to_type, p.n,
           CAST((p.n * 1000) // t.row_total AS BIGINT) AS p_permille
    FROM pairs p JOIN totals t USING (from_type)
    """,
)
def events_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition matrix over per-user event sequences: for every
    (from_type → to_type) pair, the observed count and the row-normalized
    transition probability in integer per-mille (de-float rule). The
    behavioral-analytics primitive behind next-action prediction and
    anomalous-flow detection.

    Plan: ONE shuffle on user_id for the lead() window (sequences are
    per-user, so the state is user-local — the same key the funnel and
    retention queries shuffle on), then a tiny (|types|², ≤25-row)
    aggregate; the normalizing totals join is broadcast-sized. Ordering
    inside a user is (ts_us, event_id) — a total order, so ties cannot
    reorder between engines."""
    ev = table(spark, sf_dir, "events").where(F.col("ts").isNotNull()).withColumn(
        "ts_us", F.unix_micros("ts")
    )
    w = Window.partitionBy("user_id").orderBy(F.asc("ts_us"), F.asc("event_id"))
    seq = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    )
    pairs = (
        seq.where(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = pairs.groupBy("from_type").agg(F.sum("n").alias("row_total"))
    return (
        pairs.join(F.broadcast(totals), "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            F.expr("(n * 1000) div row_total").alias("p_permille"),
        )
    )


@register(
    "events_time_weighted_value",
    oracle="""
    WITH seq AS (
      SELECT user_id,
             CAST(TRY_CAST(CASE WHEN (isfinite(value) AND abs(value) < 1e16) THEN value END AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
             epoch_ms(date_trunc('milliseconds', ts)) AS t_ms,
             lead(epoch_ms(date_trunc('milliseconds', ts))) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ) AS next_ms
      FROM events WHERE ts IS NOT NULL
    )
    SELECT user_id,
           count(*) AS n_intervals,
           CAST(sum(next_ms - t_ms) AS BIGINT) AS observed_ms,
           -- HUGEINT weighted sum (fuzz 8): |cents| ~1.2e13 x a year-1
           -- .. now holding gap (~6.4e13 ms) overflows INT64 per term;
           -- the weighted SUM is internal only - the emitted average is
           -- bounded by max |cents|
           -- NULL when every interval is sub-ms (observed 0): gap 0 at
           -- ms grain is possible while the us ordering is strict
           CASE WHEN sum(next_ms - t_ms) > 0
                THEN CAST(sum(CAST(cents AS HUGEINT) * (next_ms - t_ms))
                          // sum(next_ms - t_ms) AS BIGINT)
           END AS twa_cents
    FROM seq WHERE next_ms IS NOT NULL
    GROUP BY user_id
    """,
)
def events_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (the hypertable/metrics-store aggregate):
    each observation holds its value until the next one, so the mean is
    weighted by holding time, not by sample count — THE correct average
    for irregularly sampled gauges (a value sampled 100× in one busy
    minute must not dominate a quiet day). Last observation per user has
    no holding interval and drops out (locf semantics at the open end).

    All integer: cents × interval-ms products ride DECIMAL(38,0)/
    HUGEINT (hostile magnitudes overflow BIGINT — fuzz 8), the final
    division is truncating integer division on both engines — nothing
    float anywhere; only the bounded average is emitted. One user-keyed window shuffle
    + one agg, the events_session_windows plan shape."""
    ev = table(spark, sf_dir, "events").where(F.col("ts").isNotNull()).withColumn(
        "ts_us", F.unix_micros("ts")
    )
    w = Window.partitionBy("user_id").orderBy(F.asc("ts_us"), F.asc("event_id"))
    seq = ev.select(
        "user_id",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
        F.unix_millis("ts").alias("t_ms"),
        F.lead(F.unix_millis("ts")).over(w).alias("next_ms"),
    )
    return (
        seq.where(F.col("next_ms").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum(F.col("next_ms") - F.col("t_ms")).alias("observed_ms"),
            # DECIMAL(38,0) weighted sum — see the oracle's HUGEINT note
            F.sum(
                (F.col("cents").cast("decimal(38,0)")
                 * (F.col("next_ms") - F.col("t_ms"))).cast("decimal(38,0)")
            ).alias("_wsum"),
        )
        .withColumn(
            "twa_cents",
            F.expr(
                "CASE WHEN observed_ms > 0"
                " THEN CAST(_wsum div observed_ms AS BIGINT) END"
            ),
        )
        .drop("_wsum")
    )


PATH_LEN = 5  #: leading events kept per session path


def _sessions(ev: DataFrame, *extra_cols: Column) -> DataFrame:
    """(user_id, ts_us, event_id, event_type, *extra_cols, new_sess,
    sess_id): the 30-min gaps-and-islands sessionizer over events ``ev``
    with non-NULL ts, in one user-keyed window pass. In (ts_us, event_id)
    order, a total order, a row starts a session when it is the user's
    first or its lag is MORE than 30 minutes (exactly 30 minutes stays in
    the session, as in events_session_windows); sess_id is the running
    count of starts. The oracles' flagged/numbered CTEs are the same rule."""
    ev = ev.withColumn("ts_us", F.unix_micros("ts"))
    w = Window.partitionBy("user_id").orderBy(F.asc("ts_us"), F.asc("event_id"))
    flagged = ev.select(
        "user_id",
        "ts_us",
        "event_id",
        "event_type",
        *extra_cols,
        F.when(
            F.lag("ts_us").over(w).isNull()
            | (F.col("ts_us") - F.lag("ts_us").over(w) > 30 * 60 * 1_000_000),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    return flagged.withColumn(
        "sess_id",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )


@register(
    "events_session_paths",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTES
                  THEN 1 ELSE 0 END AS new_sess
      FROM events WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ),
    numbered AS (
      SELECT *, sum(new_sess) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM flagged
    ),
    paths AS (
      SELECT user_id, sess_id,
             array_to_string(
               (list(coalesce(event_type, '') ORDER BY epoch_us(ts), event_id))[1:{PATH_LEN}],
               '>') AS path
      FROM numbered GROUP BY 1, 2
    )
    SELECT path, count(*) AS n_sessions FROM paths GROUP BY 1
    """,
)
def events_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top session paths: the first {PATH_LEN} event types of every
     30-min-gap session, joined with '>', counted across the corpus —
    the flow-analysis primitive behind "how do users actually move
    through the product". Sessionization is the gaps-and-islands kernel
    (lag + running sum — the same sessions events_session_windows
    derives); within-session order is (ts_us, event_id), a total order,
    and the path materializes via array_sort over collected structs so
    collection order is irrelevant. Two user-keyed window passes + two
    aggs; path cardinality (≤ |types|^{PATH_LEN}) keeps the final agg
    broadcast-small."""
    numbered = _sessions(table(spark, sf_dir, "events").where(F.col("ts").isNotNull()))
    paths = (
        numbered.groupBy("user_id", "sess_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts_us", "event_id", "event_type"))
            ).alias("seq")
        )
        .select(
            F.array_join(
                F.slice(
                    F.expr("transform(seq, s -> coalesce(s.event_type, ''))"),
                    1,
                    PATH_LEN,
                ),
                ">",
            ).alias("path")
        )
    )
    return paths.groupBy("path").agg(F.count(F.lit(1)).alias("n_sessions"))


@register(
    "events_cohort_ltv",
    oracle="""
    WITH f AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cw FROM events WHERE ts IS NOT NULL
      GROUP BY user_id
    ),
    wk AS (
      SELECT f.cw, (epoch_ms(date_trunc('milliseconds', date_trunc('week', e.ts))) - epoch_ms(date_trunc('milliseconds', f.cw)))
               // 604800000 AS week_offset,
             sum(CAST(TRY_CAST(CASE WHEN (isfinite(e.value) AND abs(e.value) < 1e16) THEN e.value END AS DECIMAL(18,2)) * 100 AS BIGINT)) AS cents
      FROM events e JOIN f USING (user_id) WHERE e.ts IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT epoch_ms(date_trunc('milliseconds', cw)) AS cohort_week_ms,
           week_offset,
           CAST(cents AS BIGINT) AS week_cents,
           CAST(sum(cents) OVER (
             PARTITION BY cw ORDER BY week_offset
             ROWS UNBOUNDED PRECEDING
           ) AS BIGINT) AS cum_cents
    FROM wk
    """,
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: per signup-week cohort, weekly and
    CUMULATIVE revenue by week offset — the LTV triangle next to the
    retention triangle (events_weekly_retention shares the cohort
    derivation). Money is exact cents; the running total is a window
    over the (weeks × weeks)-sized aggregate, never over raw events —
    the cumulative pass costs nothing at any corpus scale."""
    ev = table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    f = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cw")
    )
    wk = (
        ev.join(f, "user_id")
        .groupBy(
            "cw",
            (
                (
                    F.unix_millis(F.date_trunc("week", F.col("ts")))
                    - F.unix_millis(F.col("cw"))
                )
                / F.lit(604_800_000)
            )
            .cast("long")
            .alias("week_offset"),
        )
        .agg(
            F.sum(
                (F.col("value").cast("decimal(18,2)") * 100).cast("long")
            ).alias("week_cents")
        )
    )
    w = (
        Window.partitionBy("cw")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return wk.select(
        F.unix_millis("cw").alias("cohort_week_ms"),
        "week_offset",
        "week_cents",
        F.sum("week_cents").over(w).alias("cum_cents"),
    )


@register(
    "orders_priority_scd2",
    oracle="""
    WITH seq AS (
      SELECT o_custkey, o_orderpriority, o_orderkey,
             epoch_ms(date_trunc('milliseconds', o_orderdate)) AS d_ms,
             CASE WHEN lag(o_orderpriority) OVER w IS NULL
                    OR lag(o_orderpriority) OVER w <> o_orderpriority
                  THEN 1 ELSE 0 END AS chg
      FROM orders
      WHERE o_orderdate IS NOT NULL
      WINDOW w AS (PARTITION BY o_custkey
                   ORDER BY epoch_ms(date_trunc('milliseconds', o_orderdate)), o_orderkey)
    ),
    isl AS (
      SELECT *, sum(chg) OVER (
               PARTITION BY o_custkey
               ORDER BY d_ms, o_orderkey ROWS UNBOUNDED PRECEDING) AS island
      FROM seq
    ),
    spans AS (
      SELECT o_custkey, island,
             min(o_orderpriority) AS o_orderpriority,
             min(d_ms) AS valid_from_ms,
             count(*) AS n_orders
      FROM isl GROUP BY 1, 2
    )
    SELECT o_custkey, o_orderpriority, valid_from_ms,
           lead(valid_from_ms) OVER (
             PARTITION BY o_custkey ORDER BY island
           ) AS valid_to_ms,
           CASE WHEN lead(valid_from_ms) OVER (
                  PARTITION BY o_custkey ORDER BY island) IS NULL
                THEN 1 ELSE 0 END AS is_current,
           n_orders
    FROM spans
    """,
)
def orders_priority_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 interval construction: each customer's order-priority
    history collapsed into [valid_from, valid_to) rows with an
    is_current flag — the slowly-changing-dimension builder every
    warehouse runs over attribute change streams, expressed as
    gaps-and-islands (change flag → running island id → interval agg →
    lead() for the closing edge).

    All three window passes key on o_custkey with the (date_ms,
    o_orderkey) total order, so the whole history of one entity is one
    shuffle partition's work and entities parallelize freely — the
    correct 100 TB shape for entity-history rebuilds.

    An order with NULL o_orderdate has no position on the validity axis
    and is excluded on both engines (fuzz 7, class 27 — without this
    Spark sorts the undated rows FIRST and DuckDB LAST, renumbering
    every island)."""
    orders = table(spark, sf_dir, "orders").where(
        F.col("o_orderdate").isNotNull()
    )
    w = Window.partitionBy("o_custkey").orderBy(F.asc("d_ms"), F.asc("o_orderkey"))
    seq = orders.select(
        "o_custkey",
        "o_orderpriority",
        "o_orderkey",
        ms("o_orderdate").alias("d_ms"),
    ).withColumn(
        "chg",
        F.when(
            F.lag("o_orderpriority").over(w).isNull()
            | (F.lag("o_orderpriority").over(w) != F.col("o_orderpriority")),
            1,
        ).otherwise(0),
    )
    isl = seq.withColumn(
        "island", F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    spans = isl.groupBy("o_custkey", "island").agg(
        F.min("o_orderpriority").alias("o_orderpriority"),
        F.min("d_ms").alias("valid_from_ms"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w2 = Window.partitionBy("o_custkey").orderBy("island")
    lead_from = F.lead("valid_from_ms").over(w2)
    return spans.select(
        "o_custkey",
        "o_orderpriority",
        "valid_from_ms",
        lead_from.alias("valid_to_ms"),
        F.when(lead_from.isNull(), 1).otherwise(0).alias("is_current"),
        "n_orders",
    )


@register(
    "events_trailing_hour_stats",
    oracle="""
    SELECT event_id, user_id,
           count(*) OVER w AS n_trailing,
           CAST(sum(CAST(TRY_CAST(CASE WHEN (isfinite(value) AND abs(value) < 1e16) THEN value END AS DECIMAL(18,2)) * 100 AS BIGINT)) OVER w
             AS BIGINT) AS trailing_cents
    FROM events
    WHERE ts IS NOT NULL
    WINDOW w AS (
      PARTITION BY user_id ORDER BY epoch_ms(date_trunc('milliseconds', ts))
      RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW
    )
    """,
)
def events_trailing_hour_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-hour per-user activity: for EVERY event, the count and
    exact-cents sum of that user's events in the preceding hour — a
    RANGE (time-interval) window frame, the only frame class the engine
    didn't yet exercise (ROWS frames ≠ RANGE frames: RANGE bounds are
    VALUE offsets on the ordering key, so ties and irregular spacing are
    handled by time, not by row position). The rate-limiting /
    burst-detection primitive.

    The frame rides integer epoch-ms (identical frame edges on both
    engines — interval literals vs ms integers can disagree at DST
    boundaries under non-UTC sessions, integers cannot). One user-keyed
    shuffle; frame evaluation is streaming within each partition.
    NULL ts = no position on the frame axis — excluded both engines
    (fuzz 7; the class-19 rule applied to RANGE frames)."""
    ev = table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_millis("ts"))
        .rangeBetween(-3_600_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_trailing"),
        F.sum((F.col("value").cast("decimal(18,2)") * 100).cast("long"))
        .over(w)
        .alias("trailing_cents"),
    )


@register(
    "events_seasonal_backtest",
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             epoch_ms(date_trunc('milliseconds', date_trunc('hour', ts))) AS h_ms,
             sum(CAST(TRY_CAST(CASE WHEN (isfinite(value) AND abs(value) < 1e16) THEN value END AS DECIMAL(18,2)) * 100 AS BIGINT)) AS cents
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ),
    forecast AS (
      SELECT event_type, cents,
             lag(cents, 24) OVER (
               PARTITION BY event_type ORDER BY h_ms
             ) AS fc
      FROM hourly
    )
    SELECT event_type,
           count(*) AS n_hours,
           CAST(sum(abs(cents - fc)) // count(*) AS BIGINT) AS mae_cents,
           CAST(sum(cents - fc) // count(*) AS BIGINT) AS bias_cents
    FROM forecast WHERE fc IS NOT NULL
    GROUP BY event_type
    """,
)
def events_seasonal_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each hour's revenue as
    the same hour yesterday (lag 24 on the hourly series) and score MAE
    and bias per event type — the baseline every real forecaster must
    beat, and the cheapest drift detector for a metrics pipeline. Exact
    integer cents end-to-end; errors aggregate as order-independent
    BIGINT sums with integer-div means.

    Scale: the window runs over the HOURLY AGGREGATE (hours × types
    rows, like the gapfill family), never raw events — one fact shuffle
    for the rollup, then the series logic is free at any corpus size."""
    ev = table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    hourly = (
        ev.select(
            "event_type",
            (F.unix_millis(F.date_trunc("hour", F.col("ts")))).alias("h_ms"),
            (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
        )
        .groupBy("event_type", "h_ms")
        .agg(F.sum("cents").alias("cents"))
    )
    w = Window.partitionBy("event_type").orderBy("h_ms")
    fc = hourly.withColumn("fc", F.lag("cents", 24).over(w)).where(
        F.col("fc").isNotNull()
    )
    return (
        fc.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.sum(F.abs(F.col("cents") - F.col("fc"))).alias("_sae"),
            F.sum(F.col("cents") - F.col("fc")).alias("_se"),
        )
        .select(
            "event_type",
            "n_hours",
            F.expr("_sae div n_hours").alias("mae_cents"),
            F.expr("_se div n_hours").alias("bias_cents"),
        )
    )


@register(
    "events_weekly_seasonality",
    oracle="""
    SELECT
      ((epoch_ms(date_trunc('milliseconds', ts)) // 86400000) + 4) % 7 AS dow,
      (epoch_ms(date_trunc('milliseconds', ts)) // 3600000) % 24 AS hour_utc,
      count(*) AS n_events,
      CAST(sum(CAST(TRY_CAST(CASE WHEN (isfinite(value) AND abs(value) < 1e16) THEN value END AS DECIMAL(18,2)) * 100 AS BIGINT))
        AS BIGINT) AS cents
    FROM events
    GROUP BY 1, 2
    """,
)
def events_weekly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonality heat map: activity and revenue per (day-of-week,
    UTC hour) cell — the load-planning/capacity view every ops dashboard
    opens with, and the seasonal profile the naive backtest
    (events_seasonal_backtest) implicitly models.

    Both time coordinates are pure integer arithmetic on epoch-ms
    (day-of-week via the epoch-day + 4 mod 7 trick — 1970-01-01 was a
    Thursday) — no calendar functions, whose week/weekday numbering
    conventions differ between engines (Spark dayofweek is 1=Sunday,
    DuckDB's is 0=Sunday; integer epochs have no convention to disagree
    on). One map-side-combined shuffle onto a ≤168-cell key."""
    ev = table(spark, sf_dir, "events")
    ems = F.unix_millis("ts")
    return (
        ev.select(
            (((ems / 86_400_000).cast("long") + 4) % 7).alias("dow"),
            ((ems / 3_600_000).cast("long") % 24).alias("hour_utc"),
            (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("c"),
        )
        .groupBy("dow", "hour_utc")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("c").alias("cents"))
    )


@register(
    "events_value_mad_outliers",
    oracle="""
    WITH e AS (
      SELECT event_type,
             CAST(TRY_CAST(CASE WHEN (isfinite(value) AND abs(value) < 1e16) THEN value END AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM events
      WHERE (isfinite(value) AND abs(value) < 1e16)
    ),
    r1 AS (
      SELECT event_type, cents,
             row_number() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM e
    ),
    med AS (
      SELECT event_type, cents AS med, n FROM r1 WHERE rn = (n + 1) // 2
    ),
    dev AS (
      SELECT e.event_type, abs(e.cents - m.med) AS d, m.med, m.n
      FROM e JOIN med m USING (event_type)
    ),
    r2 AS (
      SELECT event_type, d, med, n,
             row_number() OVER (PARTITION BY event_type ORDER BY d) AS rn
      FROM dev
    ),
    mad AS (
      SELECT event_type, d AS mad, med, n FROM r2 WHERE rn = (n + 1) // 2
    )
    SELECT v.event_type,
           m.n AS n_events,
           m.med AS median_cents,
           m.mad AS mad_cents,
           CAST(sum(CASE WHEN v.d > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers
    FROM dev v JOIN mad m USING (event_type)
    GROUP BY v.event_type, m.n, m.med, m.mad
    """,
)
def events_value_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type: median + MAD (median
    absolute deviation) on exact integer cents, flagging |x − med| >
    3·MAD. The median is the LOWER median — the value at rank
    (n+1) div 2 — an actual element, so both engines pick the identical
    integer with no interpolation or percentile-convention dependence
    (the registry's de-float rule applied to order statistics).

    Scale shape: two rank windows partitioned by event_type. Event-type
    cardinality is small, so at 100 TB the per-type window IS the skew
    hazard — the production form replaces each rank pass with the
    histogram-prefix-sum median (groupBy (type, cents) + running sums,
    as doc_length_rank_deciles does for ranks) or the GK sketch
    (sketch_quantile_gk) when ε-approximate quantiles suffice; the
    3·MAD flagging pass is embarrassingly parallel either way. The
    window form is the exact-oracle-checkable statement of the
    semantics."""
    # non-finite values are NULL cents after the loader's canonicalization
    # and must leave the order-statistics universe (NULL ranks differently
    # than it aggregates) — mirrors the oracle's isfinite() filter
    e = table(spark, sf_dir, "events").select(
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    ).where(F.col("cents").isNotNull())
    wr = Window.partitionBy("event_type").orderBy("cents")
    wc = Window.partitionBy("event_type")
    r1 = e.select(
        "event_type",
        "cents",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wc).alias("n"),
    )
    med = r1.where(F.col("rn") == F.expr("(n + 1) div 2")).select(
        "event_type", F.col("cents").alias("med"), "n"
    )
    dev = e.join(med, "event_type").select(
        "event_type", F.abs(F.col("cents") - F.col("med")).alias("d"), "med", "n"
    )
    wd = Window.partitionBy("event_type").orderBy("d")
    mad = (
        dev.select("event_type", "d", F.row_number().over(wd).alias("rn"), "n", "med")
        .where(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("event_type", F.col("d").alias("mad"), "med", "n")
    )
    return (
        dev.select("event_type", "d")
        .join(mad, "event_type")
        .groupBy("event_type", "n", "med", "mad")
        .agg(
            F.sum(F.when(F.col("d") > 3 * F.col("mad"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_outliers")
        )
        .select(
            "event_type",
            F.col("n").alias("n_events"),
            F.col("med").alias("median_cents"),
            F.col("mad").alias("mad_cents"),
            "n_outliers",
        )
    )


@register(
    "lineitem_pit_priority",
    oracle="""
    WITH seq AS (
      SELECT o_custkey, o_orderpriority, o_orderkey,
             epoch_ms(date_trunc('milliseconds', o_orderdate)) AS d_ms,
             CASE WHEN lag(o_orderpriority) OVER w IS NULL
                    OR lag(o_orderpriority) OVER w <> o_orderpriority
                  THEN 1 ELSE 0 END AS chg
      FROM orders
      -- the dimension also excludes NULL o_orderpriority (fuzz 8): an
      -- unknown priority is not a regime - Spark's IGNORE-NULLS as-of
      -- skips it while an interval join would emit it, and a LEADING
      -- null regime made the two forms disagree on probe coverage
      WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
        AND o_orderpriority IS NOT NULL
      WINDOW w AS (PARTITION BY o_custkey
                   ORDER BY epoch_ms(date_trunc('milliseconds', o_orderdate)), o_orderkey)
    ),
    isl AS (
      SELECT *, sum(chg) OVER (
               PARTITION BY o_custkey
               ORDER BY d_ms, o_orderkey ROWS UNBOUNDED PRECEDING) AS island
      FROM seq
    ),
    spans AS (
      SELECT o_custkey, island,
             min(o_orderpriority) AS o_orderpriority,
             min(d_ms) AS valid_from_ms
      FROM isl GROUP BY 1, 2
    ),
    dim AS (
      SELECT o_custkey, o_orderpriority, island, valid_from_ms,
             lead(valid_from_ms) OVER (
               PARTITION BY o_custkey ORDER BY island) AS valid_to_ms
      FROM spans
    ),
    probes AS (
      SELECT l.l_orderkey, l.l_linenumber, o.o_custkey,
             epoch_ms(date_trunc('milliseconds', l.l_shipdate)) AS ship_ms
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_custkey IS NOT NULL
    )
    SELECT p.l_orderkey, p.l_linenumber, p.o_custkey, p.ship_ms,
           d.o_orderpriority AS priority_at_ship
    FROM probes p
    JOIN dim d ON d.o_custkey = p.o_custkey
              AND d.valid_from_ms <= p.ship_ms
              AND (d.valid_to_ms IS NULL OR d.valid_to_ms > p.ship_ms)
    """,
)
def lineitem_pit_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) join to an SCD Type-2 dimension: each
    lineitem ship event retrieves the o_orderpriority regime its
    CUSTOMER was in at ship time — the "what did the dimension say when
    the fact happened" join behind every PIT feature store and
    as-reported reporting. Probes shipping before the customer's first
    interval (the fixture ships some lines before the order date) have
    no covering interval and drop on both engines.

    Spark-first shape: NOT the oracle's interval-predicate join (a
    range join that degrades to per-customer nested loops) but the
    union-and-window as-of trick — dimension starts and probes union
    into one stream keyed by customer, one window pass ordered by
    (t, dim-first, island) gives every probe ``last_value(priority
    IGNORE NULLS)`` = the latest interval start ≤ t; half-open interval
    semantics (zero-width regimes skipped) fall out of the island
    tiebreak. One shuffle on o_custkey; entity histories parallelize
    freely — the identical scale argument as the as-of join
    (operators/asof.py), applied to a *derived* dimension."""
    # NULL o_custkey excluded both engines (fuzz 6): the window would
    # pool all NULL-customer orders into one pseudo-history while the
    # oracle's equality join drops them — the fuzz-2 NULL-key class on
    # the dimension axis.
    orders = table(spark, sf_dir, "orders").where(
        F.col("o_custkey").isNotNull()
    )
    # The DIMENSION additionally excludes NULL o_orderdate (fuzz 7,
    # class 27): an undated priority change cannot anchor a validity
    # interval. PROBES keep those orders — a lineitem's time axis is
    # l_shipdate; its order's date is irrelevant to the probe.
    dated = orders.where(
        F.col("o_orderdate").isNotNull() & F.col("o_orderpriority").isNotNull()
    )
    w = Window.partitionBy("o_custkey").orderBy(F.asc("d_ms"), F.asc("o_orderkey"))
    seq = dated.select(
        "o_custkey",
        "o_orderpriority",
        "o_orderkey",
        ms("o_orderdate").alias("d_ms"),
    ).withColumn(
        "chg",
        F.when(
            F.lag("o_orderpriority").over(w).isNull()
            | (F.lag("o_orderpriority").over(w) != F.col("o_orderpriority")),
            1,
        ).otherwise(0),
    )
    isl = seq.withColumn(
        "island", F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    dim = isl.groupBy("o_custkey", "island").agg(
        F.min("o_orderpriority").alias("prio"),
        F.min("d_ms").alias("t"),
    )
    lineitem = table(spark, sf_dir, "lineitem")
    probes = lineitem.join(
        orders.select("o_orderkey", "o_custkey"),
        lineitem.l_orderkey == orders.o_orderkey,
    ).select(
        "l_orderkey",
        "l_linenumber",
        "o_custkey",
        ms("l_shipdate").alias("t"),
    )
    tagged = dim.select(
        "o_custkey",
        "t",
        F.lit(1).alias("is_dim"),
        "island",
        "prio",
        F.lit(None).cast("long").alias("l_orderkey"),
        F.lit(None).cast("long").alias("l_linenumber"),
    ).unionByName(
        probes.select(
            "o_custkey",
            "t",
            F.lit(0).alias("is_dim"),
            F.lit(None).cast("long").alias("island"),
            F.lit(None).cast("string").alias("prio"),
            F.col("l_orderkey").cast("long"),
            F.col("l_linenumber").cast("long"),
        )
    )
    ws = Window.partitionBy("o_custkey").orderBy(
        F.asc("t"), F.desc("is_dim"), F.asc("island")
    ).rowsBetween(Window.unboundedPreceding, 0)
    pit = tagged.withColumn("pit_prio", F.last("prio", ignorenulls=True).over(ws))
    return (
        pit.where((F.col("is_dim") == 0) & F.col("pit_prio").isNotNull())
        .select(
            "l_orderkey",
            "l_linenumber",
            "o_custkey",
            F.col("t").alias("ship_ms"),
            F.col("pit_prio").alias("priority_at_ship"),
        )
    )


def _daily_users(ev: DataFrame) -> DataFrame:
    """Distinct (epoch-day, user) frame — the shared input of every
    sliding COUNT DISTINCT (floor day-bucketing, matching the oracles'
    floor(epoch_ms/86400000); days×users cardinality, tiny next to raw
    events)."""
    return ev.select(
        F.floor(ms("ts") / F.lit(86400000)).cast("long").alias("day"), "user_id"
    ).distinct()


def _sliding_distinct_days(
    du: DataFrame, width: int, restrict_to_observed: bool = True
) -> DataFrame:
    """(day, n_distinct) over a trailing ``width``-day window by
    map-side fanout: each (day, user) pair contributes to its ≤width
    window-end days, one final distinct-count per day — work scales
    with the daily-distinct frame × width, never the event stream
    (DISTINCT is not frame-decomposable, so no window engine has this).
    ``restrict_to_observed=False`` skips the observed-days semi-filter
    when the caller's own join already drops phantom window-end days."""
    fanned = du.select(
        F.explode(
            F.sequence(F.col("day"), F.col("day") + F.lit(width - 1))
        ).alias("day_end"),
        "user_id",
    )
    if restrict_to_observed:
        days = du.select("day").distinct()
        fanned = fanned.join(days, fanned.day_end == days.day).drop("day")
    return (
        fanned.groupBy(F.col("day_end").alias("day"))
        .agg(F.count_distinct("user_id").alias("n_distinct"))
    )


@register(
    "events_rolling_7d_active_users",
    oracle="""
    WITH du AS (
      SELECT DISTINCT CAST(floor(epoch_ms(date_trunc('milliseconds', ts)) / 86400000) AS BIGINT) AS day,
                      user_id FROM events
    ),
    days AS (SELECT DISTINCT day FROM du)
    SELECT d.day,
           count(DISTINCT u.user_id) AS active_7d
    FROM days d
    JOIN du u ON u.day BETWEEN d.day - 6 AND d.day
    GROUP BY d.day
    """,
)
def events_rolling_7d_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users per day — the sliding-window
    COUNT(DISTINCT) no window-function engine supports directly (DISTINCT
    is not frame-decomposable). Spark-first shape: dedup to (day, user)
    pairs once (one shuffle on a key whose cardinality is days×users,
    ALREADY tiny next to raw events), then each pair fans out map-side to
    the ≤7 window-end days it contributes to (explode of a 7-element
    sequence — no join, no per-day rescan), and one final agg counts
    distinct users per target day. Work is 7× the DAILY-distinct frame,
    not 7× the event stream — at 100 TB the raw-events pass happens
    exactly once. Emitting only days that exist in the data keeps both
    engines' day spines identical. The oracle states the same semantics
    as the textbook self-range-join over daily distincts.
    """
    du = _daily_users(table(spark, sf_dir, "events"))
    return _sliding_distinct_days(du, 7).withColumnRenamed(
        "n_distinct", "active_7d"
    )


@register(
    "events_user_lifecycle",
    oracle="""
    WITH act AS (
      SELECT DISTINCT user_id, epoch_ms(date_trunc('milliseconds', date_trunc('week', ts))) AS wk
      FROM events WHERE ts IS NOT NULL
    ),
    lagged AS (
      SELECT user_id, wk,
             lag(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev
      FROM act
    ),
    weekly AS (
      SELECT wk AS week_ms,
             count(*) AS n_active,
             CAST(sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_new,
             CAST(sum(CASE WHEN prev = wk - 604800000 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_retained,
             CAST(sum(CASE WHEN prev IS NOT NULL AND prev < wk - 604800000
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
      FROM lagged GROUP BY 1
    )
    SELECT w.week_ms, w.n_active, w.n_new, w.n_retained, w.n_resurrected,
           coalesce(p.n_active, 0) - w.n_retained AS n_churned
    FROM weekly w
    LEFT JOIN weekly p ON p.week_ms = w.week_ms - 604800000
    """,
)
def events_user_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: every active (user, week) classified as NEW
    (first-ever week), RETAINED (also active the immediately preceding
    week), or RESURRECTED (returning after ≥1 skipped week), aggregated
    to a per-week lifecycle report with CHURNED = last week's actives
    who didn't retain. The identity n_active = n_new + n_retained +
    n_resurrected holds by construction — the standard DAU/MAU
    growth-accounting decomposition.

    Plan: one distinct on (user, week), one user-partitioned lag window
    (same user_id shuffle granularity the retention/cohort family rides),
    then a week-keyed aggregate whose output is weeks-sized; churn comes
    from a self-join of that tiny weekly frame on week-1 — NOT a lag
    over weeks, so a week entirely missing from the data cannot silently
    shift the comparison row. Nothing downstream of the user shuffle
    scales with the event stream."""
    from ..tables import table as _table

    wk = ms(F.date_trunc("week", F.col("ts")))
    act = (
        _table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
        .select("user_id", wk.alias("wk"))
        .distinct()
    )
    prev = F.lag("wk").over(Window.partitionBy("user_id").orderBy("wk"))
    lagged = act.select("user_id", "wk", prev.alias("prev"))
    week_len = F.lit(604800000).cast("long")
    weekly = lagged.groupBy(F.col("wk").alias("week_ms")).agg(
        F.count("*").alias("n_active"),
        F.sum(F.when(F.col("prev").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_new"),
        F.sum(F.when(F.col("prev") == F.col("wk") - week_len, 1).otherwise(0))
        .cast("long")
        .alias("n_retained"),
        F.sum(
            F.when(
                F.col("prev").isNotNull()
                & (F.col("prev") < F.col("wk") - week_len),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_resurrected"),
    )
    p = weekly.select(
        (F.col("week_ms") + week_len).alias("week_ms"),
        F.col("n_active").alias("prev_active"),
    )
    return (
        weekly.join(F.broadcast(p), "week_ms", "left")
        .select(
            "week_ms",
            "n_active",
            "n_new",
            "n_retained",
            "n_resurrected",
            (F.coalesce(F.col("prev_active"), F.lit(0)) - F.col("n_retained"))
            .cast("long")
            .alias("n_churned"),
        )
    )


#: per-step conversion window for the timed funnel (24h in ms)
_FUNNEL_STEP_MS = 86_400_000


@register(
    "events_funnel_windowed",
    oracle=f"""
    WITH e AS (
      SELECT user_id, epoch_ms(date_trunc('milliseconds', ts)) AS t, event_type FROM events
      WHERE user_id IS NOT NULL
    ),
    s1 AS (SELECT user_id, min(t) AS t1 FROM e
           WHERE event_type = 'signup' GROUP BY user_id),
    s2 AS (SELECT e.user_id, min(t) AS t2 FROM e JOIN s1 USING (user_id)
           WHERE event_type = 'view' AND t > t1
             AND t - t1 <= {_FUNNEL_STEP_MS} GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, min(t) AS t3 FROM e JOIN s2 USING (user_id)
           WHERE event_type = 'click' AND t > t2
             AND t - t2 <= {_FUNNEL_STEP_MS} GROUP BY e.user_id),
    s4 AS (SELECT e.user_id, min(t) AS t4 FROM e JOIN s3 USING (user_id)
           WHERE event_type = 'purchase' AND t > t3
             AND t - t3 <= {_FUNNEL_STEP_MS} GROUP BY e.user_id)
    SELECT
      (SELECT count(*) FROM s1) AS n_signup,
      (SELECT count(*) FROM s2) AS n_view,
      (SELECT count(*) FROM s3) AS n_click,
      (SELECT count(*) FROM s4) AS n_purchase,
      ((SELECT count(*) FROM s4) * 10000)
        // nullif((SELECT count(*) FROM s1), 0)
        AS signup_to_purchase_rate_e4
    """,
)
def events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The timed funnel: same signup → view → click → purchase cascade
    as events_funnel_conversion but each step must land WITHIN 24h of
    reaching the previous step — the product-analytics default (an
    unbounded funnel calls a year-later purchase a conversion; a timed
    one measures the actual activation flow). First-touch anchoring
    makes the semantics well-defined on both engines: step k+1's time
    is the MINIMUM eligible event after step k within the window, which
    is exactly what the left-to-right fold meets first.

    Same single user_id shuffle + in-codegen array fold as the
    unbounded funnel; the oracle's per-step rescan formulation is the
    independent cross-check."""
    from ..tables import table as _table

    # anonymous events (NULL user_id) cannot funnel — excluded both
    # engines (the oracle's USING join would drop them asymmetrically)
    evs = (
        _table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select("user_id", ms("ts").alias("t"), F.col("event_type").alias("ty"))
    )
    return _funnel_report(_funnel_chain(evs, step_ms=_FUNNEL_STEP_MS))



@register(
    "events_dau_mau_stickiness",
    oracle="""
    WITH du AS (
      SELECT DISTINCT CAST(floor(epoch_ms(date_trunc('milliseconds', ts)) / 86400000) AS BIGINT) AS day,
                      user_id FROM events
    ),
    days AS (SELECT DISTINCT day FROM du),
    dau AS (SELECT day, count(*) AS dau FROM du GROUP BY day),
    mau AS (
      SELECT d.day, count(DISTINCT u.user_id) AS mau
      FROM days d
      JOIN du u ON u.day BETWEEN d.day - 27 AND d.day
      GROUP BY d.day
    )
    SELECT d.day, a.dau, m.mau,
           (a.dau * 1000) // m.mau AS stickiness_e3
    FROM days d JOIN dau a USING (day) JOIN mau m USING (day)
    """,
)
def events_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per day — the engagement ratio every growth
    dashboard tracks: daily actives over trailing-28-day actives, on the
    per-mille integer grid (floor-div — no ratio midpoint to disagree
    on). Composes two non-frame-decomposable sliding COUNT DISTINCTs
    the same way as events_rolling_7d_active_users: dedup raw events to
    the (day, user) frame ONCE, fan each pair map-side to its ≤28
    window-end days, aggregate per day — work scales with the
    daily-distinct frame ×28, never the event stream. DAU reuses the
    same deduped frame (width-1 window needs no fanout)."""
    du = _daily_users(table(spark, sf_dir, "events"))
    dau = du.groupBy("day").agg(F.count("*").alias("dau"))
    # phantom window-end days (beyond the last observed day) drop in the
    # inner join with dau — no observed-days semi-filter needed here
    mau = _sliding_distinct_days(du, 28, restrict_to_observed=False)
    return dau.join(mau, "day").select(
        "day",
        "dau",
        F.col("n_distinct").alias("mau"),
        F.expr("(dau * 1000) div n_distinct").alias("stickiness_e3"),
    )


#: recency half-life for decayed engagement (7 days in ms)
_DECAY_HALF_LIFE_MS = 604_800_000


@register(
    "events_decayed_engagement",
    oracle=f"""
    WITH ref AS (SELECT max(epoch_ms(date_trunc('milliseconds', ts))) AS ref_ms FROM events)
    SELECT user_id,
           count(*) AS n_events,
           CAST(sum(CAST(floor(pow(2.0,
                 -CAST(ref_ms - epoch_ms(date_trunc('milliseconds', ts)) AS DOUBLE)
                   / {_DECAY_HALF_LIFE_MS}.0) * 1000000) AS BIGINT))
             AS BIGINT) AS decayed_score_e6,
           max(epoch_ms(date_trunc('milliseconds', ts))) AS last_seen_ms
    FROM events, ref
    GROUP BY user_id
    """,
)
def events_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted engagement score per user: every event
    contributes 2^(−age/half-life) with a 7-day half-life, anchored at
    the corpus max timestamp — the standard time-decay ranking signal
    (Reddit/HN-style hotness, churn-risk scoring) that a plain count
    can't express.

    Determinism follows the TF-IDF micro-floor precedent: each event's
    irrational weight is floored onto the ⌊·e6⌋ integer grid BEFORE
    summation (a cross-libm pow() ulp cannot move a value across a grid
    1e-6 wide, and integer sums are order-independent — a raw float sum
    would differ between Spark's parallel partials and any single-
    threaded oracle). The reference timestamp is a 1-row broadcast
    (whitelisted BNLJ class); the rest is one user-keyed aggregate."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", ms("ts").alias("t")
    )
    ref = F.broadcast(ev.agg(F.max("t").alias("ref_ms")))
    weight_e6 = F.floor(
        F.pow(
            F.lit(2.0),
            -(F.col("ref_ms") - F.col("t")).cast("double")
            / F.lit(float(_DECAY_HALF_LIFE_MS)),
        )
        * 1000000
    ).cast("long")
    return (
        ev.crossJoin(ref)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(weight_e6).cast("long").alias("decayed_score_e6"),
            F.max("t").alias("last_seen_ms"),
        )
    )


# --- first-touch session attribution --------------------------------------
# Marketing-attribution classic: every purchase's revenue is credited to
# the TYPE OF THE FIRST EVENT of its session (30-min inactivity gap —
# the engine-wide session kernel, including the strict-> boundary the
# hostile differential pinned). Sessionization is the gaps-and-islands
# fold on (ts_us, event_id) total order; the first-touch type is the
# array-sorted head per session; revenue is exact integer cents. Two
# user-keyed window passes + one small agg — the session_paths cost
# argument; output is |types| rows.


@register(
    "events_first_touch_attribution",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CAST(TRY_CAST(CASE WHEN (isfinite(value) AND abs(value) < 1e16) THEN value END AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTES
                  THEN 1 ELSE 0 END AS new_sess
      FROM events WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ),
    numbered AS (
      SELECT *, sum(new_sess) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM flagged
    ),
    sess AS (
      SELECT user_id, sess_id,
             (list(event_type ORDER BY epoch_us(ts), event_id))[1]
               AS first_touch,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN cents
                           ELSE 0 END) AS BIGINT) AS purchase_cents,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
                           ELSE 0 END) AS BIGINT) AS n_purchases
      FROM numbered GROUP BY user_id, sess_id
    )
    SELECT first_touch,
           count(*) AS n_sessions,
           CAST(sum(n_purchases) AS BIGINT) AS n_purchases,
           CAST(sum(purchase_cents) AS BIGINT) AS attributed_cents
    FROM sess GROUP BY first_touch
    """,
)
def events_first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue attributed to each session's first event type (see block
    comment). Shares the session kernel and boundary semantics with
    events_session_windows / events_session_paths."""
    numbered = _sessions(
        table(spark, sf_dir, "events").where(F.col("ts").isNotNull()),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    is_purchase = F.col("event_type") == "purchase"
    sess = (
        numbered.groupBy("user_id", "sess_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts_us", "event_id", "event_type"))
            )[0]["event_type"].alias("first_touch"),
            F.sum(F.when(is_purchase, F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("purchase_cents"),
            # explicit otherwise(0), not a bool cast: NULL event_type
            # makes is_purchase NULL, and a session of only NULL-typed
            # events would sum to NULL while the oracle's CASE gives 0
            F.sum(F.when(is_purchase, 1).otherwise(0))
            .cast("bigint")
            .alias("n_purchases"),
        )
    )
    return sess.groupBy("first_touch").agg(
        F.count("*").alias("n_sessions"),
        F.sum("n_purchases").cast("bigint").alias("n_purchases"),
        F.sum("purchase_cents").cast("bigint").alias("attributed_cents"),
    )


# --- interval-union coverage (sweep line) ----------------------------------
# Each event opens a fixed activity interval [t, t+5min); per user the
# engine reports the LENGTH OF THE UNION of those intervals (not the sum
# — overlaps counted once), the number of merged blocks, and the idle
# time inside the observed span. This is the classic sweep-line kernel
# expressed relationally: order intervals by start, compare each start
# to the running max of all PRIOR ends (ROWS ... 1 PRECEDING), and a
# block break is a start strictly past that max (touching intervals —
# start == prior end — merge, half-open semantics). Everything is exact
# integer epoch-ms arithmetic; the (t, event_id) total order makes the
# running max deterministic under ties.

_COVERAGE_WINDOW_MS = 300_000  # 5 minutes


@register(
    "events_interval_coverage",
    oracle=f"""
    WITH iv AS (
      SELECT user_id, event_id, epoch_ms(date_trunc('milliseconds', ts)) AS t,
             epoch_ms(date_trunc('milliseconds', ts)) + {_COVERAGE_WINDOW_MS} AS e
      FROM events WHERE ts IS NOT NULL
    ),
    sw AS (
      SELECT user_id, t, e,
             max(e) OVER (PARTITION BY user_id ORDER BY t, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS rmax
      FROM iv
    )
    SELECT user_id,
           count(*) AS n_intervals,
           CAST(sum(CASE WHEN rmax IS NULL OR t > rmax THEN 1 ELSE 0 END)
                AS BIGINT) AS n_blocks,
           CAST(sum(greatest(e - greatest(t, coalesce(rmax, t)), 0))
                AS BIGINT) AS covered_ms,
           CAST(max(e) - min(t)
                - sum(greatest(e - greatest(t, coalesce(rmax, t)), 0))
                AS BIGINT) AS idle_ms
    FROM sw GROUP BY user_id
    """,
)
def events_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user union length of fixed 5-minute activity intervals (see
    block comment): sweep-line via a running max over PRIOR interval
    ends. Plan: ONE shuffle on user_id shared by the window and the
    final aggregate (same-key window→groupBy reuses the exchange);
    per-user state is a single running max — no self-join, no interval
    explosion, linear at any corpus scale. NULL-ts rows are excluded on
    both engines (Spark orders NULLS FIRST ascending, DuckDB NULLS
    LAST — the one ordering divergence the kernel would otherwise
    expose)."""
    ev = (
        table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .select(
            "user_id",
            "event_id",
            ms("ts").alias("t"),
            (ms("ts") + F.lit(_COVERAGE_WINDOW_MS)).alias("e"),
        )
    )
    w = Window.partitionBy("user_id").orderBy(F.asc("t"), F.asc("event_id"))
    rmax = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    covered = F.greatest(
        F.col("e") - F.greatest(F.col("t"), F.coalesce(rmax, F.col("t"))),
        F.lit(0),
    )
    seg = ev.select(
        "user_id",
        "t",
        "e",
        F.when(rmax.isNull() | (F.col("t") > rmax), 1).otherwise(0).alias("nb"),
        covered.alias("cov"),
    )
    return seg.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum("nb").cast("bigint").alias("n_blocks"),
        F.sum("cov").cast("bigint").alias("covered_ms"),
        (F.max("e") - F.min("t") - F.sum("cov")).cast("bigint").alias("idle_ms"),
    )


# --- linear multi-touch attribution ----------------------------------------
# The counterpart of events_first_touch_attribution: instead of crediting
# a session's purchase revenue wholly to the first touch, LINEAR
# attribution splits it equally across every touchpoint (event) in the
# session. Determinism of the split: the per-touch credit is truncated
# onto the micro-cent grid BEFORE multiplication and summation in exact
# DECIMAL(38,0)/HUGEINT integer arithmetic (fuzz 8: hostile cents make
# pc*1e6 exceed 2^53, so the earlier floor-of-double form was inexact
# AND overflowed), and every downstream aggregate is integer; the
# emitted per-type total is scaled back to whole cents. Anonymous
# (NULL user_id) events are excluded on both engines: sessions are
# per-user by definition and the join-vs-window NULL semantics differ
# (the fuzz round-2 class).


@register(
    "events_linear_attribution",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CAST(TRY_CAST(CASE WHEN (isfinite(value) AND abs(value) < 1e16) THEN value END
                       AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTES
                  THEN 1 ELSE 0 END AS new_sess
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ),
    numbered AS (
      SELECT *, sum(new_sess) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM flagged
    ),
    typed AS (
      SELECT user_id, sess_id, event_type,
             count(*) AS n_touch,
             coalesce(CAST(sum(CASE WHEN event_type = 'purchase'
                                    THEN cents ELSE 0 END) AS BIGINT), 0)
               AS pc_type
      FROM numbered GROUP BY 1, 2, 3
    ),
    sess AS (
      SELECT user_id, sess_id,
             CAST(sum(n_touch) AS BIGINT) AS n_all,
             CAST(sum(pc_type) AS BIGINT) AS pc
      FROM typed GROUP BY 1, 2
    ),
    credited AS (
      -- HUGEINT micro-credits (fuzz 8): pc can reach ~1.2e13 cents, so
      -- pc*1e6 exceeds both 2^53 (the old floor(double) was inexact)
      -- and INT64; truncating // on the exact integer matches Spark's
      -- DECIMAL div
      SELECT t.event_type, t.n_touch,
             t.n_touch * ((CAST(s.pc AS HUGEINT) * 1000000) // s.n_all)
               AS credit
      FROM typed t JOIN sess s USING (user_id, sess_id)
    )
    SELECT event_type,
           CAST(sum(n_touch) AS BIGINT) AS n_touches,
           CAST(sum(credit) // 1000000 AS BIGINT) AS attributed_cents
    FROM credited GROUP BY event_type
    """,
)
def events_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear (equal-credit) multi-touch attribution of session purchase
    revenue across every event type in the session (see block comment).
    Shares the 30-min session kernel with events_first_touch_attribution.

    Plan: the session fold is ONE user-keyed window pass; typed/sess are
    two aggregates on the same (user_id, sess_id) key — the second is a
    partial re-aggregation of the first (no new shuffle key) — and the
    credit join is co-partitioned on that same key, so the whole
    pipeline rides a single user-keyed exchange lineage before the final
    |types|-row rollup. Micro-cent credits stay < 2^63 through sf100
    (total purchase cents × 1e6)."""
    numbered = _sessions(
        table(spark, sf_dir, "events").where(
            F.col("user_id").isNotNull() & F.col("ts").isNotNull()
        ),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    typed = numbered.groupBy("user_id", "sess_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_touch"),
        F.coalesce(
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("cents")).otherwise(
                    0
                )
            ).cast("bigint"),
            F.lit(0),
        ).alias("pc_type"),
    )
    sess = typed.groupBy("user_id", "sess_id").agg(
        F.sum("n_touch").cast("bigint").alias("n_all"),
        F.sum("pc_type").cast("bigint").alias("pc"),
    )
    # exact DECIMAL(38,0) micro-credit — see the oracle's HUGEINT note.
    # NOT `div`: Spark's integral divide returns LONG even for DECIMAL
    # operands and silently wraps past 2^63 (pc*1e6 with n_all=1); the
    # (x - x % n) / n form is the truncating division in pure DECIMAL,
    # matching DuckDB's HUGEINT // on negatives (% keeps dividend sign
    # in both engines)
    per_touch = F.expr(
        "CAST(((CAST(pc AS DECIMAL(38,0)) * 1000000)"
        " - ((CAST(pc AS DECIMAL(38,0)) * 1000000) % n_all)) / n_all"
        " AS DECIMAL(38,0))"
    )
    credited = typed.join(sess, ["user_id", "sess_id"]).select(
        "event_type",
        "n_touch",
        (F.col("n_touch").cast("decimal(38,0)") * per_touch).alias("credit"),
    )
    return credited.groupBy("event_type").agg(
        F.sum("n_touch").cast("bigint").alias("n_touches"),
        F.expr(
            "CAST((sum(credit) - (sum(credit) % 1000000)) / 1000000"
            " AS BIGINT)"
        ).alias("attributed_cents"),
    )


# --- weighted median (weighted quantile kernel) -----------------------------
# The estimator a pricing/mixture pipeline needs that plain
# percentile_approx can't give: the median of l_extendedprice WEIGHTED
# by l_quantity (each line counts quantity-many times). Definition
# pinned exactly on both engines: the smallest cents value whose
# RUNNING weight (inclusive, ordered by (cents, l_orderkey,
# l_linenumber) — a total order) satisfies 2·cumw ≥ totw. All integer:
# cents via the fuzz-4 guard, weights as BIGINT with w > 0 (fuzz 6
# ships zero and NEGATIVE quantities — a non-positive weight is not a
# weight). NULL l_returnflag stays a real group on both engines.
#
# Plan: one shuffle on the group key; the running sum is one window
# pass, the argmin one aggregate — no self-join, no sort beyond the
# window's. At 100 TB: identical shape per group, skew bounded by the
# flag cardinality (3) — this kernel is for moderate-cardinality
# groups; per-key exact medians at extreme cardinality ride the GK
# sketch instead (sketch_quantile_gk).


@register(
    "lineitem_weighted_median_price",
    oracle="""
    WITH w AS (
      SELECT l_returnflag,
             CAST(TRY_CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS DECIMAL(18,2)) * 100
                  AS BIGINT) AS cents,
             CAST(floor(l_quantity) AS BIGINT) AS wq,
             l_orderkey, l_linenumber
      FROM lineitem
      WHERE l_quantity > 0 AND isfinite(l_quantity)
        AND isfinite(l_extendedprice) AND abs(l_extendedprice) < 1e16
    ),
    run AS (
      SELECT l_returnflag, cents, wq,
             sum(wq) OVER (PARTITION BY l_returnflag
                           ORDER BY cents, l_orderkey, l_linenumber
                           ROWS UNBOUNDED PRECEDING) AS cumw,
             sum(wq) OVER (PARTITION BY l_returnflag) AS totw
      FROM w
    )
    SELECT l_returnflag,
           CAST(min(totw) AS BIGINT) AS total_weight,
           CAST(min(CASE WHEN 2 * cumw >= totw THEN cents END) AS BIGINT)
             AS wmedian_cents
    FROM run
    GROUP BY l_returnflag
    """,
)
def lineitem_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median line price per return flag (see block
    comment): running-weight window + argmin aggregate, integer-exact."""
    price = F.col("l_extendedprice")
    # cents-valid universe pinned in the WHERE (both engines): a NULL
    # cents row would still carry weight into cumw while sorting
    # NULLS FIRST here vs LAST in DuckDB
    li = table(spark, sf_dir, "lineitem").where(
        (F.col("l_quantity") > 0)
        & ~F.isnan("l_quantity")
        & ~F.col("l_quantity").isin(float("inf"))
        & ~F.isnan(price)
        & (F.abs(price) < F.lit(1e16))
    )
    cents = (price.cast("decimal(18,2)") * 100).cast("bigint")
    w = li.select(
        "l_returnflag",
        cents.alias("cents"),
        # floor() pinned on BOTH engines before the BIGINT cast: a raw
        # CAST rounds-to-nearest in DuckDB but truncates in Spark, so a
        # fractional quantity would silently desynchronize cumw/totw
        # (ADVICE r6; same family as the trunc-vs-floor class 20)
        F.floor("l_quantity").cast("bigint").alias("wq"),
        "l_orderkey",
        "l_linenumber",
    )
    win = Window.partitionBy("l_returnflag").orderBy(
        "cents", "l_orderkey", "l_linenumber"
    )
    run = w.select(
        "l_returnflag",
        "cents",
        F.sum("wq").over(win.rowsBetween(Window.unboundedPreceding, 0)).alias("cumw"),
        F.sum("wq").over(Window.partitionBy("l_returnflag")).alias("totw"),
    )
    return run.groupBy("l_returnflag").agg(
        F.min("totw").cast("bigint").alias("total_weight"),
        F.min(F.when(2 * F.col("cumw") >= F.col("totw"), F.col("cents")))
        .cast("bigint")
        .alias("wmedian_cents"),
    )
