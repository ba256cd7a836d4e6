"""Shared helpers for oracle-deterministic relational operators.

Floating-point aggregation order differs between Spark (parallel partial
aggregates) and any single-threaded oracle, so float sums can differ in the
last ulps. The engine therefore aggregates money-like columns in DECIMAL
(exact, order-independent), rounds at decimal precision, and only then
casts to double. With the rounded unscaled value < 2^53 the decimal→double
conversion is a single correctly-rounded step in both Spark (BigDecimal)
and DuckDB — bit-identical results.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: price-like columns (~1e5 magnitude, 2 decimals)
PRICE = "decimal(10,2)"


def ts_lit(s: str) -> Column:
    """Timestamp literal matching the parquet tables' TIMESTAMP_NTZ columns.

    Spark 4 reads the driver's ms-precision parquet timestamps as NTZ;
    comparing against an NTZ literal keeps the predicate directly on the
    physical column, so it pushes down to the parquet scan.
    """
    return F.lit(s).cast("timestamp_ntz")


def ms(col: str | Column) -> Column:
    """Epoch-ms projection of any timestamp flavor (NTZ or LTZ).

    NTZ → LTZ cast interprets wall-clock in the session tz (pinned UTC by
    tune_session), which matches DuckDB's naive-timestamp epoch_ms()
    EXCEPT on sub-millisecond pre-epoch instants: unix_millis FLOORS
    (-1 µs → -1 ms) while epoch_ms TRUNCATES (→ 0 ms). Floor is the
    bucket-correct semantics, so every oracle pins it by wrapping
    epoch_ms(date_trunc('milliseconds', x)) — fuzz 7, class 26. Never
    emit a bare epoch_ms(ts) in an oracle.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_millis(c.cast("timestamp"))
#: rate-like columns (discount/tax, 0.00-0.99)
RATE = "decimal(3,2)"


def dec(col: str | Column, typ: str = PRICE) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(typ)


def one_minus(col: str) -> Column:
    """(1 - rate) as exact decimal — e.g. the TPC-H discount factor."""
    return F.lit(1).cast(RATE) - dec(col, RATE)


def one_plus(col: str) -> Column:
    return F.lit(1).cast(RATE) + dec(col, RATE)


def money_sum(expr: Column, alias: str, ndigits: int = 2) -> Column:
    """Exact decimal sum → round at decimal precision → double."""
    return F.round(F.sum(expr), ndigits).cast("double").alias(alias)


def money_sum0(expr: Column, alias: str, ndigits: int = 2) -> Column:
    """money_sum with an EMPTY-input value of 0 instead of NULL — for
    GLOBAL (ungrouped) revenue aggregates, where a zero-row qualifying
    set means zero revenue, not unknown (fuzz 13, class 47/48; the 0 also
    keeps the pandas dtype engine-identical on degenerate corpora). The
    SQL mirror is coalesce(sum(...), 0). Grouped sums never see an empty
    group, so they keep the plain form."""
    return (
        F.round(F.coalesce(F.sum(expr), F.lit(0)), ndigits)
        .cast("double")
        .alias(alias)
    )


def finite_or_null(col: str | Column) -> Column:
    """NULL out NaN/±Inf — the explicit-universe guard for order-statistics
    and quantile kernels over raw doubles. Spark sorts NaN GREATEST and
    its percentile kernels propagate it, while DuckDB's quantile_* skip
    it, so a non-finite measure must leave the universe symmetrically
    (SQL mirror: CASE WHEN isfinite(x) THEN x END; both engines' quantile
    aggregates then ignore the NULL). Fuzz round 9: NaN o_totalprice /
    l_extendedprice."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(~F.isnan(c) & ~c.isin(float("inf"), float("-inf")), c)


def int_ratio(num: Column, den: Column, scale: int, alias: str) -> Column:
    """floor((num·10^scale) / den) for exact-integer num/den — the SQL
    mirror is ``(num * 10^scale) // nullif(den, 0)``. The double
    intermediate is safe: the product is exact below 2^53, and a rational
    p/q is never within an ulp of an integer it doesn't exactly equal
    (distance ≥ 1/q ≫ ulp for any realistic q), so floor cannot land on
    the wrong side. Zero denominators yield NULL (fuzz 13, class 47):
    under ANSI, / 0 would ERROR on a degenerate input (empty funnel step,
    single-row stratum) where the ratio is simply undefined — the mirror
    is nullif on the oracle side, since DuckDB's // 0 errors the same way.
    """
    n = num if isinstance(num, Column) else F.col(num)
    d = den if isinstance(den, Column) else F.col(den)
    return (
        F.floor(
            (n.cast("double") * F.lit(float(10**scale)))
            / F.when(d != 0, d)
        )
        .cast("bigint")
        .alias(alias)
    )


def nd_zero() -> Column:
    """An arithmetic no-op (+0.0) whose nondeterminism legally blocks
    predicate pushdown — the guide's expensive-UDF trick (§4.4) applied to
    expensive EXPRESSIONS. Adding it inside a computed column keeps a
    ``.where`` on that column from being folded into a join condition,
    where Catalyst would (a) evaluate it for every candidate pair BEFORE
    the cheap id/threshold conjuncts and (b) evaluate it AGAIN in the
    projection for survivors. ``rand(seed) * 0.0`` is exactly +0.0: adding
    it changes no double except -0.0 → +0.0, and every consumer here
    floors/rounds, where the two zeros are indistinguishable."""
    return F.rand(42) * F.lit(0.0)


def ensure_parallelism(df):
    """Repartition ONLY when the input arrives with fewer splits than
    half the cluster's cores — the single-file local-fixture case where
    a per-row-expensive pass (md5 shingle hashing, zip compression)
    would otherwise run one-core (the round-3 aHash lesson). A real
    multi-file corpus already has the splits, and there this is a no-op
    decision: no exchange is added, so no raw-payload shuffle cost at
    scale. Results are always partition-layout-independent (env sweep's
    small_splits variant pins that).

    The decision reads the plan and runs nothing. An exchange-free frame
    has its scan's splits, which its RDD plans from the file listing.
    Under AQE a frame with an exchange gets its partition count only at
    run time (planning its RDD would run the shuffle map stages now, and
    the action would run them again), so it is always repartitioned. In
    the package's queries such a frame is a small ``distinct`` or join
    ahead of a codec stage, which AQE coalesces below ``want`` (checked
    at sf0.001 and sf0.1)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    want = max(par // 2, 2)
    qe = df._jdf.queryExecution()
    few = (qe.executedPlan().nodeName() == "AdaptiveSparkPlan"
           or qe.toRdd().getNumPartitions() < want)
    return df.repartition(par) if few else df


def stage(df: DataFrame, mode: str = "shared") -> DataFrame:
    """Materialize ``df`` and cut its lineage — the package's one staging
    call, so the eager/lazy/reliable decision lives here, not per site.

    - ``"shared"`` (default): eager ``localCheckpoint``, for a frame with
      several consumers. It must materialize BEFORE its consumers: lazy
      materialization races when two consumer jobs start concurrently
      (broadcast-build futures, the two sides of a join) — both recompute
      the uncached subtree, and the first finisher's ``doCheckpoint()``
      truncates the shared lineage mid-flight, killing the other job's
      metric accumulators (the measured dead-accumulator log storm, ~1.6k
      ERROR stack traces per bench run before r13).
    - ``"round"``: lazy ``localCheckpoint``, for a cut whose reads all
      run in one job at a time — an iterative loop's round. The plan is
      truncated at once, but the blocks materialize inside the next
      action instead of a job of their own: one job per round, not two.
      (Under AQE a frame's shuffle map stages still run at call time,
      when its RDD is planned; only the final stage is deferred.)
    - ``"reliable"``: ``checkpoint()`` to the cluster's fault-tolerant
      checkpoint dir (``spark.sparkContext.setCheckpointDir`` —
      HDFS/object store on a real cluster). Reached through the graph
      loops' ``lineage_cut="reliable"``; it refuses to run without a
      checkpoint dir rather than fail rounds in.

    ``localCheckpoint``, not ``persist``: a bare persist accumulates
    CacheManager entries across queries in a long-lived session with no
    unpersist hook, while checkpoint blocks are released once the RDD is
    unreferenced. The tradeoff: executor-local checkpoint blocks are NOT
    recoverable — on a real cluster an executor loss or dynamic-allocation
    decommission fails the query instead of recomputing; ``"reliable"``
    (or an explicit staged table) is the 100 TB-production form of the
    same plan shape."""
    if mode == "shared":
        return df.localCheckpoint(eager=True)
    if mode == "round":
        return df.localCheckpoint(eager=False)
    if mode == "reliable":
        if df.sparkSession.sparkContext.getCheckpointDir() is None:
            raise ValueError(
                "reliable staging needs spark.sparkContext.setCheckpointDir "
                "(a fault-tolerant path on a real cluster)"
            )
        return df.checkpoint()
    raise ValueError(f"stage mode must be 'shared', 'round' or 'reliable', got {mode!r}")


def distributed_rank(df, order_cols, rank_name: str = "rn", n_buckets: int = 32):
    """Exact global ``row_number()`` over ``order_cols`` WITHOUT a
    single-partition sort — the two-phase distributed ranking shared by
    pack_training_sequences and the RFM/ntile family (r9 verdict item 5):

    1. ``repartitionByRange`` on the order columns — RangePartitioner
       boundaries make ``spark_partition_id()`` monotone in the total
       order, and an explicit-N repartition is never AQE-coalesced;
    2. per-bucket row counts (≤ ``n_buckets`` rows, metadata-sized)
       become exclusive start offsets via a triangular broadcast join
       (not an unpartitioned window — the plan carries ZERO
       Exchange SinglePartition nodes);
    3. ``row_number`` windows PARTITIONED BY the bucket (bounded sorts),
       plus the broadcast offset, give the exact global rank.

    ``order_cols`` must be a total order (carry a unique tiebreak) or
    ranks of ties are engine-arbitrary. The range-partitioned frame is
    staged: it has two consumers (counts + ranks) and the cut keeps each
    branch from replaying the upstream lineage."""
    ranged = stage(
        df.repartitionByRange(n_buckets, *order_cols)
        .withColumn("_rb", F.spark_partition_id())
    )
    counts = ranged.groupBy("_rb").agg(F.count(F.lit(1)).alias("_c"))
    offsets = (
        counts.alias("a")
        .join(
            F.broadcast(counts.alias("b")),
            F.col("b._rb") < F.col("a._rb"),
            "left",
        )
        .groupBy(F.col("a._rb").alias("_rb"))
        .agg(F.coalesce(F.sum("b._c"), F.lit(0)).cast("long").alias("_off"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("_rb").orderBy(*order_cols)
    return (
        ranged.withColumn("_wrn", F.row_number().over(w))
        .join(F.broadcast(offsets), "_rb")
        .withColumn(rank_name, (F.col("_off") + F.col("_wrn")).cast("long"))
        .drop("_rb", "_wrn", "_off")
    )


def ntile_from_rank(rn: Column, n: Column, k: int) -> Column:
    """SQL ``ntile(k)`` from an exact global rank and total count — the
    first ``n % k`` tiles carry ``n div k + 1`` rows, the rest
    ``n div k`` (the ANSI definition both engines implement). Pure
    integer arithmetic, so the distributed-rank path reproduces the
    oracle's single-window ntile bit-for-bit."""
    def idiv(a: Column, b: Column) -> Column:
        # exact integer division on the double path: reduce the numerator
        # to an exact multiple first, so the quotient is a representable
        # integer (bare a/b truncation mis-rounds near tile boundaries
        # once counts pass ~1e8)
        return ((a - (a % b)) / b).cast("long")

    nn = n.cast("long")
    base = idiv(nn, F.lit(k))  # n div k
    rem = nn % k
    big_span = rem * (base + 1)  # rows covered by the (base+1)-sized tiles
    return (
        F.when(rn <= big_span, idiv(rn - 1, base + 1) + 1)
        .otherwise(rem + idiv(rn - big_span - 1, F.greatest(base, F.lit(1))) + 1)
        .cast("int")
    )


def distributed_prefix_sum(
    df,
    order_cols,
    value_col: str,
    name: str = "prefix",
    inclusive: bool = False,
    n_buckets: int = 32,
):
    """Exact global running sum of ``value_col`` over ``order_cols``
    WITHOUT a single-partition sort — the sum-prefix sibling of
    ``distributed_rank`` (same three phases: range buckets, triangular
    broadcast offsets over the ≤ ``n_buckets``-row subtotal frame,
    bounded within-bucket windows). ``inclusive=False`` gives the
    exclusive prefix (sum of strictly-preceding rows, 0 for the first);
    ``inclusive=True`` includes the current row. Sums accumulate in
    LONG — callers widen to DECIMAL after if their downstream products
    need it. ``order_cols`` must be a total order."""
    from pyspark.sql import Window

    ranged = stage(
        df.repartitionByRange(n_buckets, *order_cols)
        .withColumn("_rb", F.spark_partition_id())
    )
    subs = ranged.groupBy("_rb").agg(
        F.sum(value_col).cast("long").alias("_c")
    )
    offsets = (
        subs.alias("a")
        .join(
            F.broadcast(subs.alias("b")),
            F.col("b._rb") < F.col("a._rb"),
            "left",
        )
        .groupBy(F.col("a._rb").alias("_rb"))
        .agg(F.coalesce(F.sum("b._c"), F.lit(0)).cast("long").alias("_off"))
    )
    end = 0 if inclusive else -1
    w = (
        Window.partitionBy("_rb")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, end)
    )
    within = F.coalesce(F.sum(value_col).over(w), F.lit(0)).cast("long")
    return (
        ranged.withColumn("_w", within)
        .join(F.broadcast(offsets), "_rb")
        .withColumn(name, (F.col("_off") + F.col("_w")).cast("long"))
        .drop("_rb", "_w", "_off")
    )
