"""Constraint validation: declarative data-quality checks as aggregates.

The reference trusts its writer (single client, no constraints beyond
the null/blank guards in LogChange.cs:198-206). A 100 TB table fed by
many writers needs the warehouse-standard audit instead (Deequ/dbt-test
class): uniqueness, referential integrity, domain and range rules,
evaluated BEFORE downstream jobs consume a new drop.

Scale shape — three plan classes, nothing else:
- row-level rules (nulls, ranges, domains) fold into ONE map-side
  conditional-sum aggregate regardless of how many rules are declared;
- uniqueness is one key-grouped aggregate;
- referential integrity is an anti-join (broadcast when the parent is a
  dimension — the TPC-H case — shuffle otherwise).
The audit result is a single row of violation counts, so alerting +
history cost nothing; violating ROWS are a filter away using the same
predicates when a count is non-zero.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..registry import register
from ..tables import table
from ._util import ms, stage


def duplicate_key_count(df: DataFrame, keys: tuple[str, ...]) -> DataFrame:
    """1-row frame ``dup_<keys>``: how many key values occur more than
    once (a PRIMARY KEY / UNIQUE constraint as an aggregate)."""
    name = "dup_" + "_".join(keys)
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_n"))
        .agg(F.sum((F.col("_n") > 1).cast("bigint")).alias(name))
        .na.fill({name: 0})
    )


def fk_orphan_count(
    child: DataFrame,
    parent: DataFrame,
    child_key: str,
    parent_key: str,
    broadcast_parent: bool = True,
) -> DataFrame:
    """1-row frame ``orphan_<child_key>``: child rows whose key has no
    parent (FOREIGN KEY as an anti-join; broadcast the dimension side)."""
    p = parent.select(F.col(parent_key).alias(child_key)).distinct()
    if broadcast_parent:
        p = F.broadcast(p)
    return (
        child.join(p, child_key, "left_anti")
        .agg(F.count(F.lit(1)).alias(f"orphan_{child_key}"))
    )


def audit(parts: list[DataFrame]) -> DataFrame:
    """Combine independent 1-row check frames into the single audit row.
    Each cross join's build side is one row — a constant-size broadcast,
    not a data-sized nested loop."""
    return reduce(lambda a, b: a.crossJoin(F.broadcast(b)), parts)


@register(
    "orders_constraint_audit",
    oracle="""
    SELECT
      (SELECT count(*) FROM orders) AS n_rows,
      (SELECT count(*) FROM orders WHERE o_custkey IS NULL) AS null_custkey,
      (SELECT count(*) FROM orders WHERE o_totalprice <= 0) AS nonpos_totalprice,
      (SELECT count(*) FROM orders
        WHERE o_orderstatus NOT IN ('O', 'F', 'P')) AS bad_status,
      (SELECT count(*) FROM (
         SELECT o_orderkey FROM orders GROUP BY 1 HAVING count(*) > 1
       )) AS dup_o_orderkey,
      (SELECT count(*) FROM orders o WHERE NOT EXISTS (
         SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey
       )) AS orphan_o_custkey
    """,
)
def orders_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The constraint audit on orders: not-null + range + domain rules
    (one conditional-sum pass), primary-key uniqueness (one key agg),
    and orders→customer referential integrity (broadcast anti-join) —
    one row of violation counts. The oracle recomputes each count as an
    independent scalar subquery."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    # row count folds into the same single pass as the row-level rules
    rules = {
        "null_custkey": F.col("o_custkey").isNotNull(),
        "nonpos_totalprice": F.col("o_totalprice") > 0,
        "bad_status": F.col("o_orderstatus").isin("O", "F", "P"),
    }
    row_pass = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        # coalesce: SUM over an EMPTY table is NULL in Spark while the
        # oracle's scalar COUNT subqueries give 0 — zero violations over
        # zero rows is 0, not unknown (fuzz 13, class 47)
        *[
            F.coalesce(F.sum((~cond).cast("bigint")), F.lit(0)).alias(nm)
            for nm, cond in rules.items()
        ],
    )
    dup = duplicate_key_count(o, ("o_orderkey",))
    orphan = fk_orphan_count(o, c, "o_custkey", "c_custkey")
    return audit([row_pass, dup, orphan]).select(
        "n_rows",
        "null_custkey",
        "nonpos_totalprice",
        "bad_status",
        "dup_o_orderkey",
        "orphan_o_custkey",
    )


@register(
    "lineitem_constraint_audit",
    oracle="""
    SELECT
      (SELECT count(*) FROM lineitem) AS n_rows,
      -- NaN handling pinned explicitly (fuzz 10): DuckDB's vectorized
      -- scan comparisons disagree with its own scalar path (and with
      -- Spark) on NaN vs range predicates, so each rule states its NaN
      -- semantics: a NaN discount IS a bad discount; a NaN quantity is
      -- unknown, not non-positive
      (SELECT count(*) FROM lineitem
        WHERE NOT isnan(l_quantity) AND l_quantity <= 0) AS nonpos_quantity,
      (SELECT count(*) FROM lineitem
        WHERE isnan(l_discount) OR l_discount < 0 OR l_discount > 1) AS bad_discount,
      (SELECT count(*) FROM (
         SELECT l_orderkey, l_linenumber FROM lineitem
         GROUP BY 1, 2 HAVING count(*) > 1
       )) AS dup_l_orderkey_l_linenumber,
      (SELECT count(*) FROM lineitem l WHERE NOT EXISTS (
         SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey
       )) AS orphan_l_orderkey
    """,
)
def lineitem_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fact-scale audit: same rule classes as orders_constraint_audit
    but the referenced table (orders) is ITSELF fact-sized, so the
    referential-integrity check runs as a SHUFFLE anti-join on the key —
    the plan both sides of a 100 TB star schema actually need (AQE still
    demotes it to broadcast at small SF). Composite-key uniqueness
    ((l_orderkey, l_linenumber) — the TPC-H primary key) rides the same
    key-grouped aggregate shape."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    row_pass = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        # NaN semantics pinned per rule — see the oracle comment (fuzz 10).
        # coalesce: empty-table SUM is NULL vs the oracle's COUNT 0
        # (fuzz 13, class 47)
        F.coalesce(
            F.sum(
                (~F.isnan("l_quantity") & (F.col("l_quantity") <= 0)).cast(
                    "bigint"
                )
            ),
            F.lit(0),
        ).alias("nonpos_quantity"),
        F.coalesce(
            F.sum(
                (
                    F.isnan("l_discount")
                    | (F.col("l_discount") < 0)
                    | (F.col("l_discount") > 1)
                ).cast("bigint")
            ),
            F.lit(0),
        ).alias("bad_discount"),
    )
    dup = duplicate_key_count(li, ("l_orderkey", "l_linenumber"))
    orphan = fk_orphan_count(
        li, o, "l_orderkey", "o_orderkey", broadcast_parent=False
    )
    return audit([row_pass, dup, orphan]).select(
        "n_rows",
        "nonpos_quantity",
        "bad_discount",
        "dup_l_orderkey_l_linenumber",
        "orphan_l_orderkey",
    )


# --- Merkle-style bucket checksums ----------------------------------------
# Anti-entropy / replica validation (the Dynamo/Cassandra Merkle-tree idea
# flattened to one level): two copies of a table — a migrated cluster, a
# replicated region, a format conversion — are compared by BUCKET
# SIGNATURES instead of row-by-row. Each row folds to a 32-bit md5
# signature of its canonical representation; a bucket's signature is the
# SUM of its rows' signatures (order-independent, partition-independent —
# no sort anywhere), so each side computes N_CK_BUCKETS tiny rows and the
# comparison localizes any divergence to the differing buckets, which are
# then re-scanned row-level (bucket-sized IO, not table-sized). Sums
# accumulate in DECIMAL(38,0): overflow-free for any table size without
# ANSI-mode-dependent BIGINT wraparound.

N_CK_BUCKETS = 64


def bucket_checksums(df: DataFrame, key: Column, repr_col: Column) -> DataFrame:
    """(bucket, n_rows, sig_sum) — the one-level Merkle signature frame.
    ``repr_col`` must be a canonical STRING representation whose
    construction is deterministic on both engines (no raw floats)."""
    sig = F.conv(F.substring(F.md5(repr_col), 1, 8), 16, 10).cast("decimal(38,0)")
    return (
        df.select(F.pmod(key, F.lit(N_CK_BUCKETS)).alias("bucket"), sig.alias("sig"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("sig").cast("decimal(38,0)").alias("sig_sum"),
        )
    )


@register(
    "events_bucket_checksums",
    oracle=f"""
    SELECT
      event_id % {N_CK_BUCKETS} AS bucket,
      count(*) AS n_rows,
      CAST(sum(('0x' || substr(md5(
        concat_ws('|', event_id, user_id, event_type,
                  CAST(TRY_CAST(CASE WHEN (isfinite(value) AND abs(value) < 1e16) THEN value END AS DECIMAL(18,2)) * 100 AS BIGINT),
                  epoch_ms(date_trunc('milliseconds', ts)))
      ), 1, 8))::UBIGINT) AS BIGINT) AS sig_sum
    FROM events
    GROUP BY 1
    """,
)
def events_bucket_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table's Merkle signature frame: {N_CK_BUCKETS} buckets
    keyed by event_id, row representation = all columns canonicalized to
    integers/strings (value as exact cents, ts as epoch ms — the no-raw-
    float/no-raw-timestamp registry rules applied to the row repr
    itself). One map-side-combined shuffle on a perfectly uniform key."""
    ev = table(spark, sf_dir, "events")
    rep = F.concat_ws(
        "|",
        F.col("event_id"),
        F.col("user_id"),
        F.col("event_type"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("bigint"),
        F.unix_millis(F.col("ts")),
    )
    return bucket_checksums(ev, F.col("event_id"), rep)


# --- Referential-integrity profile across the whole schema -------------------


def fk_edge_profile(
    child: DataFrame,
    parent: DataFrame,
    child_key: str,
    parent_key: str,
    edge: str,
) -> DataFrame:
    """1-row RI profile of one foreign-key edge: child row/key counts,
    orphaned child rows (FK violation), and unreferenced parents
    (coverage — parents no child points at).

    ``n_unref_parents`` counts unreferenced parent KEYS (the parent set
    is deduped before the join), not parent rows — the two differ only
    when the parent side is not key-unique; NULL keys on either side are
    never counted as parents (a NULL child key is an orphan).

    One pass: child rows collapse to per-key counts first (the only scan
    of the fact side), then the KEY frames full-outer-join and all four
    stats fall out of a single aggregate — no separate anti-join per
    stat. Full-outer cannot broadcast in Spark, so the join is a key
    shuffle on both sides — but of key-cardinality frames, never raw
    fact rows, and AQE handles skewed keys. That trade (one extra
    dimension-keyframe shuffle) buys the unreferenced-parent stat that a
    broadcast anti-join formulation would need a second pass for.
    """
    ck = child.groupBy(F.col(child_key).alias("ck")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    pk = parent.select(F.col(parent_key).alias("pk")).distinct()
    joined = ck.join(pk, ck.ck == pk.pk, "full_outer")
    return joined.agg(
        F.lit(edge).alias("edge"),
        F.coalesce(F.sum("cnt"), F.lit(0)).alias("n_child"),
        F.count("ck").alias("n_child_keys"),
        F.coalesce(
            F.sum(F.when(F.col("pk").isNull(), F.col("cnt"))), F.lit(0)
        ).alias("n_orphans"),
        # pk non-null guard: a NULL child key also produces a row with
        # ck NULL after the full outer join — it is an orphan, never an
        # unreferenced parent
        F.count(
            F.when(F.col("ck").isNull() & F.col("pk").isNotNull(), F.lit(1))
        ).alias("n_unref_parents"),
    )


_FK_EDGES = (
    # (edge label, child table, child key, parent table, parent key)
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
    ("events->customer", "events", "user_id", "customer", "c_custkey"),
)


def _fk_edge_sql(edge: str, ct: str, ck: str, pt: str, pk: str) -> str:
    return f"""
    SELECT '{edge}' AS edge,
           (SELECT count(*) FROM {ct}) AS n_child,
           (SELECT count(DISTINCT {ck}) FROM {ct}) AS n_child_keys,
           (SELECT count(*) FROM {ct} c WHERE NOT EXISTS
              (SELECT 1 FROM {pt} p WHERE p.{pk} = c.{ck})) AS n_orphans,
           (SELECT count(DISTINCT p.{pk}) FROM {pt} p WHERE NOT EXISTS
              (SELECT 1 FROM {ct} c WHERE c.{ck} = p.{pk})) AS n_unref_parents
    """


@register(
    "tpch_fk_orphan_audit",
    oracle="\n    UNION ALL\n".join(
        _fk_edge_sql(e, ct, ck, pt, pk) for e, ct, ck, pt, pk in _FK_EDGES
    ),
)
def tpch_fk_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-wide referential-integrity audit: every declared FK edge of
    the TPC-H-ish schema (plus the cross-domain events.user_id →
    customer edge) profiled for orphans AND unreferenced parents in one
    result. Orphan counts are the FK-violation gate a pipeline runs
    before publishing a snapshot; unreferenced-parent counts are the
    coverage side (e.g. customers with no orders / no events — real,
    non-zero values in this data). The oracle replays each edge as
    independent NOT-EXISTS subqueries — a different formulation than the
    engine's single full-outer key-join pass."""
    frames = [
        fk_edge_profile(
            table(spark, sf_dir, ct), table(spark, sf_dir, pt), ck, pk, e
        )
        for e, ct, ck, pt, pk in _FK_EDGES
    ]
    return reduce(lambda a, b: a.unionByName(b), frames)


# --- distribution-drift monitoring (PSI) ----------------------------------
# Population Stability Index between the first and second half of the
# corpus's time range: the standard production monitor for "did the
# event mix shift?", run before trusting a new data drop or retraining.
# PSI = Σ_types (p - q)·ln(p/q). Determinism discipline (the PMI/bm25
# pattern): counts are Laplace-smoothed (+1 — a type absent from one
# half must not blow up ln), each type's term is ONE identically-
# parenthesized double expression (every IEEE op correctly rounded ⇒
# same bits on both engines), and the term is micro-floored onto the e6
# integer grid BEFORE any cross-type aggregation, so summation order
# can never matter. The time midpoint is integer epoch-ms arithmetic
# derived from the data (no literals to go stale when fixtures
# regenerate).
#
# Scale: two corpus passes collapse to ONE scan with conditional
# aggregation (the CASE WHEN inside the agg); the per-type frame is
# |event types| rows — the drift math is free at any corpus size.


@register(
    "events_type_drift_psi",
    oracle="""
    WITH bounds AS (
      SELECT (min(epoch_ms(date_trunc('milliseconds', ts))) + max(epoch_ms(date_trunc('milliseconds', ts)))) // 2 AS mid FROM events
    ),
    counts AS (
      SELECT event_type,
             CAST(1 + sum(CASE WHEN epoch_ms(date_trunc('milliseconds', ts)) < b.mid THEN 1 ELSE 0 END)
               AS BIGINT) AS n_a,
             CAST(1 + sum(CASE WHEN epoch_ms(date_trunc('milliseconds', ts)) >= b.mid THEN 1 ELSE 0 END)
               AS BIGINT) AS n_b
      FROM events CROSS JOIN bounds b
      GROUP BY event_type
    ),
    tot AS (
      SELECT CAST(sum(n_a) AS BIGINT) AS ta, CAST(sum(n_b) AS BIGINT) AS tb
      FROM counts
    )
    SELECT event_type, n_a, n_b,
           CAST(floor(
             (CAST(n_a AS DOUBLE) / ta - CAST(n_b AS DOUBLE) / tb)
               * ln((CAST(n_a AS DOUBLE) / ta) / (CAST(n_b AS DOUBLE) / tb))
               * 1000000) AS BIGINT) AS psi_term_e6
    FROM counts CROSS JOIN tot
    """,
)
def events_type_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type PSI terms between the first and second half of the
    time range (see block comment; total PSI = sum of terms, left to the
    consumer so the hashed frame stays per-type)."""
    ev = table(spark, sf_dir, "events").select(
        F.unix_millis("ts").alias("t"), "event_type"
    )
    bounds = ev.agg(
        F.expr("(min(t) + max(t)) div 2").alias("mid")
    )
    counts = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("event_type")
        .agg(
            (1 + F.sum(F.when(F.col("t") < F.col("mid"), 1).otherwise(0)))
            .cast("bigint")
            .alias("n_a"),
            (1 + F.sum(F.when(F.col("t") >= F.col("mid"), 1).otherwise(0)))
            .cast("bigint")
            .alias("n_b"),
        )
    )
    tot = counts.agg(
        F.sum("n_a").cast("bigint").alias("ta"),
        F.sum("n_b").cast("bigint").alias("tb"),
    )
    pa = F.col("n_a").cast("double") / F.col("ta")
    pb = F.col("n_b").cast("double") / F.col("tb")
    return counts.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n_a",
        "n_b",
        F.floor((pa - pb) * F.log(pa / pb) * 1_000_000)
        .cast("bigint")
        .alias("psi_term_e6"),
    )


# --- change-point detection (CUSUM) ---------------------------------------
# Classic CUSUM over the hourly revenue series, per event type: the
# cumulative sum of deviations from the series mean peaks (in absolute
# value) at the most likely single change point. ALL-INTEGER: hourly
# cents are exact, the mean is the floored integer mean, deviations and
# their running sum are BIGINT — nothing float touches the hash. The
# window runs over the hours×types aggregate (never raw events), the
# same cost argument as the gapfill/backtest family.


@register(
    "events_cusum_changepoint",
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             epoch_ms(date_trunc('milliseconds', date_trunc('hour', ts))) AS h_ms,
             CAST(sum(CAST(TRY_CAST(CASE WHEN (isfinite(value) AND abs(value) < 1e16) THEN value END AS DECIMAL(18,2)) * 100 AS BIGINT))
               AS BIGINT) AS cents
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type,
             CAST(sum(cents) // count(*) AS BIGINT) AS mean_cents,
             count(*) AS n_hours
      FROM hourly GROUP BY event_type
    ),
    cusum AS (
      SELECT h.event_type, h.h_ms, s.n_hours,
             CAST(sum(h.cents - s.mean_cents) OVER (
               PARTITION BY h.event_type ORDER BY h.h_ms
               ROWS UNBOUNDED PRECEDING
             ) AS BIGINT) AS c
      FROM hourly h JOIN stats s USING (event_type)
    )
    SELECT event_type, n_hours,
           CAST(max(abs(c)) AS BIGINT) AS max_abs_cusum_cents,
           CAST(min(CASE WHEN abs(c) = mx THEN h_ms END) AS BIGINT)
             AS changepoint_ms
    FROM (SELECT *, max(abs(c)) OVER (PARTITION BY event_type) AS mx
          FROM cusum)
    GROUP BY event_type, n_hours
    """,
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single change-point estimate per event type: the hour where the
    CUSUM of (hourly cents − integer mean) peaks in absolute value;
    earliest such hour on ties (min over the argmax set — a total
    order). Emits the peak magnitude as the change evidence."""
    ev = table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    hourly = (
        ev.select(
            "event_type",
            F.unix_millis(F.date_trunc("hour", F.col("ts"))).alias("h_ms"),
            (F.col("value").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("event_type", "h_ms")
        .agg(F.sum("cents").cast("bigint").alias("cents"))
    )
    stats = hourly.groupBy("event_type").agg(
        F.expr("sum(cents) div count(*)").cast("bigint").alias("mean_cents"),
        F.count("*").alias("n_hours"),
    )
    from pyspark.sql import Window as W

    wcum = (
        W.partitionBy("event_type")
        .orderBy("h_ms")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cusum = (
        hourly.join(F.broadcast(stats), "event_type")
        .withColumn(
            "c",
            F.sum(F.col("cents") - F.col("mean_cents")).over(wcum).cast("bigint"),
        )
        .withColumn(
            "mx", F.max(F.abs("c")).over(W.partitionBy("event_type"))
        )
    )
    return cusum.groupBy("event_type", "n_hours").agg(
        F.max(F.abs("c")).cast("bigint").alias("max_abs_cusum_cents"),
        F.min(F.when(F.abs("c") == F.col("mx"), F.col("h_ms")))
        .cast("bigint")
        .alias("changepoint_ms"),
    )


# --- Benford first-digit audit --------------------------------------------
# The classic forensic data-quality check: organically-generated money
# amounts follow Benford's law (P(d) = log10(1 + 1/d)); fabricated or
# system-glitched batches don't. Per first significant digit of
# o_totalprice: observed count, expected count under Benford, and the
# chi-square contribution — each expectation/contribution micro-floored
# onto the integer grid as ONE identically-parenthesized double
# expression (the PMI discipline), so the frame hashes engine-exact.
# One scan, 9-row output; at 100 TB the digit extraction rides any
# existing pass over the column.


@register(
    "orders_benford_audit",
    oracle="""
    WITH cents AS (
      -- universe = POSITIVE INTEGER CENTS, not raw price > 0 (fuzz 11):
      -- a denormal 5e-324 price passes > 0 but rounds to 0 cents, whose
      -- "first digit" is 0 and sends 1/digit to a division by zero —
      -- Benford's law is defined on first SIGNIFICANT digits only
      SELECT CAST(TRY_CAST(CASE WHEN isfinite(o_totalprice) THEN o_totalprice END AS DECIMAL(18,2)) * 100
                  AS BIGINT) AS c
      FROM orders
    ),
    d AS (
      SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM cents WHERE c > 0
    ),
    c AS (
      SELECT digit, count(*) AS observed FROM d GROUP BY digit
    ),
    t AS (SELECT CAST(sum(observed) AS BIGINT) AS n FROM c)
    SELECT digit, observed,
           CAST(floor(n * log10(1.0 + 1.0 / digit)) AS BIGINT)
             AS expected_floor,
           CAST(floor(
             (observed - n * log10(1.0 + 1.0 / digit))
               * (observed - n * log10(1.0 + 1.0 / digit))
               / (n * log10(1.0 + 1.0 / digit)) * 1000000) AS BIGINT)
             AS chi2_term_e6
    FROM c CROSS JOIN t
    """,
)
def orders_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of order totals vs Benford's
    law, with per-digit chi-square contributions (see block comment).
    The first digit comes from the exact integer cents string — no float
    log extraction, so digit assignment is engine-exact."""
    # universe = positive integer cents (fuzz 11) — see the oracle comment
    cents = (
        table(spark, sf_dir, "orders")
        .select(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("c")
        )
        .where(F.col("c") > 0)
    )
    digit = F.substring(F.col("c").cast("string"), 1, 1).cast("bigint")
    c = cents.select(digit.alias("digit")).groupBy("digit").agg(
        F.count("*").alias("observed")
    )
    t = c.agg(F.sum("observed").cast("bigint").alias("n"))
    exp = F.col("n") * F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return c.crossJoin(F.broadcast(t)).select(
        "digit",
        "observed",
        F.floor(exp).cast("bigint").alias("expected_floor"),
        F.floor(
            (F.col("observed") - exp) * (F.col("observed") - exp) / exp * 1_000_000
        )
        .cast("bigint")
        .alias("chi2_term_e6"),
    )


# --- behavioral-diversity entropy -----------------------------------------
# Shannon entropy of each user's event-type distribution — the standard
# behavioral-diversity feature (bot/spam accounts cluster at 0; the
# uniform mixer caps at ln|types|). Same micro-floor discipline: each
# -p·ln p term is one double expression floored to e6 per (user, type)
# row BEFORE the per-user sum, so the aggregate is an order-independent
# integer sum. Two user-keyed aggs; nothing corpus-wide but |types|.


@register(
    "user_type_entropy",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, count(*) AS k
      FROM events GROUP BY user_id, event_type
    ),
    n AS (SELECT user_id, CAST(sum(k) AS BIGINT) AS n FROM c GROUP BY user_id)
    SELECT c.user_id,
           CAST(max(n.n) AS BIGINT) AS n_events,
           count(*) AS n_types,
           CAST(sum(CAST(floor(
             -(CAST(k AS DOUBLE) / n.n) * ln(CAST(k AS DOUBLE) / n.n)
               * 1000000) AS BIGINT)) AS BIGINT) AS entropy_e6
    FROM c JOIN n USING (user_id)
    GROUP BY c.user_id
    """,
)
def user_type_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Shannon entropy (nats, e6-scaled) of the event-type mix,
    with event and distinct-type counts (see block comment)."""
    ev = table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("k"))
    n = c.groupBy("user_id").agg(F.sum("k").cast("bigint").alias("n"))
    p = F.col("k").cast("double") / F.col("n")
    term = F.floor(-p * F.log(p) * 1_000_000).cast("bigint")
    return (
        c.join(n, "user_id")
        .groupBy("user_id")
        .agg(
            F.max("n").cast("bigint").alias("n_events"),
            F.count("*").alias("n_types"),
            F.sum(term).cast("bigint").alias("entropy_e6"),
        )
    )


# --- k-anonymity audit ------------------------------------------------------
# Privacy primitive for training-data release: group the corpus by its
# quasi-identifier tuple (here: event type x ISO day-of-week x hour-of-
# day — the re-identification surface of a usage log) and measure each
# equivalence class's DISTINCT-USER size. A class smaller than k is a
# re-identification risk: publishing it narrows an individual to fewer
# than k candidates. The audit emits every class with its size and a
# 0/1 k-anonymity flag so a release gate can suppress or generalize the
# violating classes. Day-of-week alignment: Spark weekday() (Mon=0)+1
# equals DuckDB isodow() (Mon=1) — dayofweek() disagrees between the
# engines (Sun=1 vs Sun=0) and is avoided.

K_ANON_K = 5


@register(
    "events_k_anonymity",
    oracle=f"""
    SELECT event_type,
           CAST(isodow(ts) AS BIGINT) AS dow,
           CAST(extract(hour FROM ts) AS BIGINT) AS hod,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_rows,
           CAST(CASE WHEN count(DISTINCT user_id) >= {K_ANON_K}
                THEN 1 ELSE 0 END AS BIGINT) AS is_k_anon
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def events_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (k=5, ``K_ANON_K``) over the (event_type, iso-dow, hour)
    quasi-identifier (see block comment). NULL users never count toward
    a class's protection (count DISTINCT skips NULL on both engines) —
    an anonymous row cannot anonymize an identified one.

    Plan: one groupBy on the QI tuple — the distinct-count is Spark's
    partial-aggregating HashAggregate pair, output is |types|x7x24 rows;
    linear at any scale, no window, no join."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type",
        (F.weekday("ts") + 1).cast("bigint").alias("dow"),
        F.hour("ts").cast("bigint").alias("hod"),
    ).agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_rows"),
        F.when(F.count_distinct("user_id") >= K_ANON_K, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("is_k_anon"),
    )


# --- discrete hazard curve ---------------------------------------------------
# Survival analysis over user lifetimes: tenure = weeks between a user's
# first and last active Monday-aligned week. Users observed for exactly
# t weeks "churn at t"; the at-risk set at t is everyone whose tenure
# reached t (a reverse cumulative sum over the tenure histogram — no
# per-user second pass). The discrete hazard h(t) = churned(t)/at_risk(t)
# is emitted per-mille as an exact non-negative integer floor-division
# (truncation == floor for non-negatives, identical in both engines).
# The cumulative window runs over the TENURE HISTOGRAM (≤ corpus span in
# weeks — dimension-sized), not over users.


@register(
    "events_hazard_curve",
    oracle="""
    WITH life AS (
      SELECT user_id,
             (epoch_ms(date_trunc('milliseconds', date_trunc('week', max(ts))))
              - epoch_ms(date_trunc('milliseconds', date_trunc('week', min(ts))))) // 604800000
               AS tenure_weeks
      FROM events GROUP BY user_id
    ),
    churn AS (
      SELECT tenure_weeks, count(*) AS n_churned FROM life GROUP BY 1
    )
    SELECT tenure_weeks,
           CAST(sum(n_churned) OVER rev AS BIGINT) AS n_at_risk,
           CAST(n_churned AS BIGINT) AS n_churned,
           CAST((n_churned * 1000) // (sum(n_churned) OVER rev)
                AS BIGINT) AS hazard_permille
    FROM churn
    WINDOW rev AS (ORDER BY tenure_weeks DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def events_hazard_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete hazard curve of user churn by tenure week (see block
    comment): per tenure t, the at-risk population, the churn count and
    the per-mille hazard rate — the life-table a retention model fits.

    Plan: one user-keyed aggregate (lifespans), one tiny histogram
    aggregate, then an unpartitioned window over the ≤|weeks|-row
    histogram — dimension-sized by construction (a year of data is 52
    rows), the documented exception to the no-global-window rule."""
    ev = table(spark, sf_dir, "events")
    from pyspark.sql import Window

    life = ev.groupBy("user_id").agg(
        (
            (
                ms(F.date_trunc("week", F.max("ts")))
                - ms(F.date_trunc("week", F.min("ts")))
            )
            / F.lit(604800000)
        )
        .cast("bigint")
        .alias("tenure_weeks")
    )
    churn = life.groupBy("tenure_weeks").agg(F.count(F.lit(1)).alias("n_churned"))
    rev = Window.orderBy(F.desc("tenure_weeks")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    at_risk = F.sum("n_churned").over(rev)
    return churn.select(
        "tenure_weeks",
        at_risk.cast("bigint").alias("n_at_risk"),
        F.col("n_churned").cast("bigint").alias("n_churned"),
        F.expr("n_churned * 1000").cast("bigint").alias("_num"),
    ).select(
        "tenure_weeks",
        "n_at_risk",
        "n_churned",
        F.expr("_num div n_at_risk").cast("bigint").alias("hazard_permille"),
    )


# --- chi-square independence audit -------------------------------------------
# Is event type independent of day-of-week? The chi-square contingency
# statistic, per cell, in EXACT integer arithmetic: the textbook term
# (O-E)²/E with E = R·C/N is algebraically (O·N - R·C)² / (R·C·N), which
# needs no rational intermediate — numerator and denominator are exact
# integers (the numerator squares to ~1e24 at sf1, so it rides
# DECIMAL(38,0)/HUGEINT before the truncating integral division lands it
# back in BIGINT; non-negative, so truncation == floor in both engines).
# A drift monitor compares the summed statistic against the chi-square
# critical value for (|types|-1)(7-1) degrees of freedom.


@register(
    "events_chi2_independence",
    oracle="""
    WITH cells AS (
      SELECT event_type, CAST(isodow(ts) AS BIGINT) AS dow,
             count(*) AS o
      FROM events GROUP BY 1, 2
    ),
    r AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
    c AS (SELECT dow, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
    n AS (SELECT CAST(sum(o) AS BIGINT) AS nt FROM cells)
    SELECT cells.event_type, cells.dow, o AS observed,
           CAST((CAST(rt AS HUGEINT) * ct * 100) // nt AS BIGINT)
             AS expected_e2,
           CAST(((CAST(o AS HUGEINT) * nt - CAST(rt AS HUGEINT) * ct)
                 * (CAST(o AS HUGEINT) * nt - CAST(rt AS HUGEINT) * ct)
                 * 1000000)
                // (CAST(rt AS HUGEINT) * ct * nt) AS BIGINT) AS term_e6
    FROM cells
    JOIN r USING (event_type)
    JOIN c USING (dow)
    CROSS JOIN n
    """,
)
def events_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell chi-square contribution for the event-type × iso-dow
    contingency table (see block comment); Σ term_e6 is the statistic.

    Plan: ONE shuffle builds the contingency cells; the row totals are a
    re-aggregation of the cells (|types| rows), the column totals 7
    rows, the grand total 1 row — all three broadcast back onto the
    cells (the 1-row side is the whitelisted BNLJ class). Nothing in
    the plan touches the raw corpus twice."""
    ev = table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", (F.weekday("ts") + 1).cast("bigint").alias("dow")
    ).agg(F.count(F.lit(1)).alias("o"))
    cells = stage(cells)
    r = cells.groupBy("event_type").agg(F.sum("o").cast("bigint").alias("rt"))
    c = cells.groupBy("dow").agg(F.sum("o").cast("bigint").alias("ct"))
    n = cells.agg(F.sum("o").cast("bigint").alias("nt"))
    joined = (
        cells.join(F.broadcast(r), "event_type")
        .join(F.broadcast(c), "dow")
        .crossJoin(F.broadcast(n))
    )
    dec = "decimal(38,0)"
    o, rt, ct, nt = (F.col(x).cast(dec) for x in ("o", "rt", "ct", "nt"))
    diff = o * nt - rt * ct
    return joined.select(
        "event_type",
        "dow",
        F.col("o").alias("observed"),
        (rt * ct * F.lit(100).cast(dec)).cast(dec).alias("_enum"),
        (diff * diff).cast(dec).alias("_d2"),
        (rt * ct * nt).cast(dec).alias("_den"),
        nt.alias("_nt"),
    ).select(
        "event_type",
        "dow",
        "observed",
        F.expr("CAST(_enum div _nt AS BIGINT)").alias("expected_e2"),
        F.expr(
            "CAST((_d2 * CAST(1000000 AS DECIMAL(38,0))) div _den AS BIGINT)"
        ).alias("term_e6"),
    )


# --- integer EWMA (halving recurrence) ---------------------------------------
# Exponentially-weighted smoothing of each event type's hourly volume
# with α = 1/2: s_t = (x_t + s_{t-1}) div 2 — the halving recurrence is
# EXACT integer arithmetic at every step, so a stateful fold that would
# normally be float-ordering-hostile is bit-deterministic in both
# engines. The fold runs over the hour-ordered per-type series (Spark:
# aggregate() over the sorted collected array; DuckDB: list_reduce over
# list(... ORDER BY h) — both seed with the first element). This is the
# smallest correct form of the "custom stateful recurrence" operator
# class (EWMA / Holt-Winters / CUSUM all share the shape; CUSUM has its
# own registered query).


@register(
    "events_ewma_hourly",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ),
    series AS (
      -- arg_max, not a max-hour self-join: an equality join would drop
      -- NULL event_type groups that the Spark groupBy keeps (the fuzz
      -- round-2 NULL-key class)
      SELECT event_type,
             count(*) AS n_buckets,
             list(n ORDER BY h) AS xs,
             CAST(arg_max(n, h) AS BIGINT) AS last_count
      FROM hourly
      GROUP BY event_type
    )
    SELECT event_type, n_buckets, last_count,
           CAST(list_reduce(xs, (acc, x) -> (acc + x) // 2) AS BIGINT)
             AS ewma_half
    FROM series
    """,
)
def events_ewma_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer EWMA (α=1/2) over each event type's hour-ordered volume
    series (see block comment). Counts are non-negative so the truncating
    `div`/`//` IS the mathematical floor in both engines.

    Plan: one shuffle to hourly cells, one |types|-group collect of the
    per-type series (arrays are |hours| long — bounded by corpus span,
    not corpus size), then a zero-shuffle higher-order-function fold
    inside the JVM. At 100 TB the hourly pre-aggregation is what keeps
    the collected arrays small (8760 entries/year/type)."""
    ev = table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).alias("n"))
    series = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("h", "n"))), lambda s: s["n"]
        ).alias("xs"),
        F.max_by("n", "h").cast("bigint").alias("last_count"),
    )
    folded = F.aggregate(
        F.slice(F.col("xs"), 2, F.greatest(F.size("xs") - 1, F.lit(0))),
        F.element_at(F.col("xs"), 1).cast("bigint"),
        # counts are non-negative → floor == the truncating // the oracle
        # uses; (acc+x) stays < 2^53 so the double halving is exact
        lambda acc, x: F.floor((acc + x) / F.lit(2)).cast("bigint"),
    )
    return series.select(
        "event_type",
        "n_buckets",
        "last_count",
        folded.cast("bigint").alias("ewma_half"),
    )


# --- lag-1 autocorrelation (ACF) ---------------------------------------------
# Time-series diagnostic beside CUSUM/PSI/z-score: per event type, the
# Pearson correlation between the hourly-count series and itself shifted
# one hour — the burstiness/persistence readout a forecaster checks
# first. Exact-integer discipline (the lineitem_price_quantity_corr /
# hourly-anomaly precedent): with pairs (x, y) = (n_t, n_{t+1}),
# r = (kΣxy − ΣxΣy) / sqrt((kΣx² − (Σx)²)(kΣy² − (Σy)²)) — every
# aggregate is an exact integer in DECIMAL(38,0)/HUGEINT, the only
# float ops are two correctly-rounded steps (sqrt, divide). Degenerate
# series (either side constant — fuzz class 14) → NULL, guarded on
# both engines from day one.


@register(
    "events_hourly_acf",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ),
    pairs AS (
      SELECT event_type, n AS x,
             lead(n) OVER (PARTITION BY event_type ORDER BY h) AS y
      FROM hourly
    ),
    s AS (
      SELECT event_type,
             count(*) AS k,
             sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
             sum(CAST(x AS HUGEINT) * x) AS sxx,
             sum(CAST(y AS HUGEINT) * y) AS syy,
             sum(CAST(x AS HUGEINT) * y) AS sxy
      FROM pairs WHERE y IS NOT NULL
      GROUP BY event_type
    )
    SELECT event_type,
           CAST(k AS BIGINT) AS n_pairs,
           CASE WHEN k * sxx - sx * sx > 0 AND k * syy - sy * sy > 0
                THEN round(CAST(k * sxy - sx * sy AS DOUBLE)
                     / sqrt(CAST(k * sxx - sx * sx AS DOUBLE)
                            * CAST(k * syy - sy * sy AS DOUBLE)), 4)
           END AS acf1
    FROM s
    """,
)
def events_hourly_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of hourly volumes per event type (see block
    comment). Plan: one (type, hour) aggregate, a type-keyed lead()
    window on the hours-sized frame, then a |types|-row moment
    aggregate — the corpus is touched once."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("h")
    pairs = hourly.select(
        "event_type",
        F.col("n").alias("x"),
        F.lead("n").over(w).alias("y"),
    ).where(F.col("y").isNotNull())
    dec = "decimal(38,0)"
    s = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(dec).alias("k"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum((F.col("x").cast(dec) * F.col("x")).cast(dec)).alias("sxx"),
        F.sum((F.col("y").cast(dec) * F.col("y")).cast(dec)).alias("syy"),
        F.sum((F.col("x").cast(dec) * F.col("y")).cast(dec)).alias("sxy"),
    )
    vx = F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("k") * F.col("syy") - F.col("sy") * F.col("sy")
    cov = F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")
    acf = F.when(
        (vx > 0) & (vy > 0),
        F.round(
            cov.cast("double") / F.sqrt(vx.cast("double") * vy.cast("double")),
            4,
        ),
    )
    return s.select(
        "event_type",
        F.col("k").cast("bigint").alias("n_pairs"),
        acf.alias("acf1"),
    )


@register(
    "events_hourly_trend_ols",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ),
    ranked AS (
      SELECT event_type,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS x,
             n AS y
      FROM hourly
    ),
    s AS (
      SELECT event_type,
             count(*) AS k,
             sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
             sum(CAST(x AS HUGEINT) * x) AS sxx,
             sum(CAST(x AS HUGEINT) * y) AS sxy
      FROM ranked
      GROUP BY event_type
    )
    SELECT event_type,
           CAST(k AS BIGINT) AS n_hours,
           CAST((1000000 * (k * sxy - sx * sy)) // (k * sxx - sx * sx)
             AS BIGINT) AS slope_e6,
           CAST((1000000 * sy) // k AS BIGINT) AS mean_e6
    FROM s
    WHERE k >= 2
    """,
)
def events_hourly_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS trend of hourly event volume per type — the volume-drift
    monitor a 100 TB ingest runs next to the PSI/CUSUM detectors: is
    traffic for a class growing or decaying, and how fast per hour?

    x is the ROW NUMBER of the hour bucket within the type (1..k over
    buckets that HAVE events), not the raw epoch-hour offset: rank keeps
    every moment bounded by the group's bucket count (k^4 < 10^38 up to
    k ~ 10^9 buckets), is gap-insensitive (a year-9999 hostile row shifts
    one rank, not 70M hour units — the gapfill-spine lesson), and the
    slope stays interpretable as events-per-active-hour.

    Exactness: all moments in DECIMAL(38,0)/HUGEINT; slope_e6 and
    mean_e6 are floor-scaled integer ratios via truncating division
    (Spark `div` == DuckDB `//`, identical on negative numerators —
    the int_ratio idiom). Denominator k*sxx - sx^2 is the rank variance,
    strictly positive for k >= 2; k < 2 rows are excluded both engines
    (a one-bucket type has no trend).

    Plan: one (type, hour) partial-agg pair, a type-keyed row_number
    window over the buckets-sized frame, one |types|-row moment
    aggregate — corpus touched once, no join, same shape as
    events_hourly_acf."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).alias("y"))
    w = Window.partitionBy("event_type").orderBy("h")
    ranked = hourly.select(
        "event_type",
        F.row_number().over(w).alias("x"),
        "y",
    )
    dec = "decimal(38,0)"
    s = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(dec).alias("k"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum((F.col("x").cast(dec) * F.col("x")).cast(dec)).alias("sxx"),
        F.sum((F.col("x").cast(dec) * F.col("y")).cast(dec)).alias("sxy"),
    ).where(F.col("k") >= 2)
    return s.select(
        "event_type",
        F.col("k").cast("bigint").alias("n_hours"),
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * (k * sxy - sx * sy))"
            " div (k * sxx - sx * sx) AS BIGINT)"
        ).alias("slope_e6"),
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * sy) div k AS BIGINT)"
        ).alias("mean_e6"),
    )


# --- multi-pattern blocklist filter -----------------------------------------
# The content-policy stage every large text-corpus pipeline runs (the
# C4 "bad words" filter): documents matching ANY of a curated phrase
# blocklist are flagged and gated out of the training mixture. With a
# constant-size blocklist the scan is PURE COLUMNAR — one contains()
# per pattern folded into the same codegen stage as the read, no join,
# no shuffle, no regex compilation per row. At 100 TB this is a map-only
# pass that merges into ingest; a 10^4-entry production blocklist swaps
# the unrolled contains() for one compiled Aho-Corasick pandas_udf with
# the same row-local semantics.
#
# Matching is over the tokenizer normalization (ASCII-only case fold +
# whitespace collapse — text.py's fuzz-9 rule: full-Unicode lower() is
# locale/library-defined), so "Slow   Query" matches "slow query" but
# 'İ'-style Unicode case aliasing never enters the match.  NULL text →
# no matches → gate passes, symmetric via CASE/otherwise on both engines.

#: fixed phrase blocklist, alphabetical (order defines the matched-list
#: rendering); "drop table" never occurs in the corpus — the zero-hit
#: pattern keeps the all-patterns-miss path exercised
BLOCKLIST = ("big table", "drop table", "fast scan", "slow query")

_BL_NORM = (
    "translate(trim(regexp_replace(text, '[ \\t\\n\\r\\x0B\\f]+', ' ', 'g')),"
    " 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')"
)
_BL_FLAGS = ", ".join(
    f"CASE WHEN contains(norm, '{p}') THEN 1 ELSE 0 END AS f{i}"
    for i, p in enumerate(BLOCKLIST)
)
_BL_MATCHED = ", ".join(
    f"CASE WHEN f{i} = 1 THEN '{p}' END" for i, p in enumerate(BLOCKLIST)
)


@register(
    "doc_blocklist_filter",
    oracle=f"""
    WITH n AS (SELECT doc_id, {_BL_NORM} AS norm FROM documents),
    f AS (SELECT doc_id, {_BL_FLAGS} FROM n)
    SELECT doc_id,
           CAST({' + '.join(f'f{i}' for i in range(len(BLOCKLIST)))} AS BIGINT)
             AS n_matched,
           concat_ws(',', {_BL_MATCHED}) AS matched,
           CAST(CASE WHEN {' + '.join(f'f{i}' for i in range(len(BLOCKLIST)))} = 0
                THEN 1 ELSE 0 END AS BIGINT) AS gate_pass
    FROM f
    """,
)
def doc_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase-blocklist content filter: per document, how many blocklist
    phrases match the normalized text, the matched phrases (fixed
    blocklist order, comma-joined — concat_ws skips non-matches
    identically on both engines, fuzz-10 class 42), and the keep gate.
    Map-only columnar scan; see block comment for the 100 TB shape."""
    docs = table(spark, sf_dir, "documents")
    norm = F.translate(
        F.trim(F.regexp_replace("text", r"[ \t\n\r\x0B\f]+", " ")),
        "ABCDEFGHIJKLMNOPQRSTUVWXYZ",
        "abcdefghijklmnopqrstuvwxyz",
    )
    flags = [
        F.when(norm.contains(p), 1).otherwise(0).alias(f"f{i}")
        for i, p in enumerate(BLOCKLIST)
    ]
    f = docs.select("doc_id", *flags)
    n_matched = reduce(
        lambda a, b: a + b, [F.col(f"f{i}") for i in range(len(BLOCKLIST))]
    )
    matched = F.concat_ws(
        ",",
        *[
            F.when(F.col(f"f{i}") == 1, F.lit(p))
            for i, p in enumerate(BLOCKLIST)
        ],
    )
    return f.select(
        "doc_id",
        n_matched.cast("bigint").alias("n_matched"),
        matched.alias("matched"),
        F.when(n_matched == 0, 1).otherwise(0).cast("bigint").alias("gate_pass"),
    )
