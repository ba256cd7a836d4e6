"""Similarity search over embedding columns.

Two tiers (BASELINE.json north star):
- brute-force cosine top-k — the exact baseline and the verification
  kernel (oracle-checked);
- random-hyperplane LSH bucketing — the approximate scale path: vectors
  hash to sign-pattern buckets, candidate generation is an equi-join on
  the bucket key, and only bucket-mates pay the exact distance. Same
  banding idea as MinHash; at 100 TB the bucket join replaces the
  all-pairs cross join entirely. (An IVF variant would k-means the
  corpus and probe nearest centroids — same join shape.)

All vector math is sequential left-folds in double over built-in array
expressions (zip_with/aggregate) — no UDFs, engine-deterministic, and
whole-stage-codegen'd. Hyperplanes are derived from md5 bits so the LSH
signature is engine-portable and oracle-checkable.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F
from pyspark.sql import types as T

from ..registry import register
from ..tables import table
from ._util import stage

TOP_K = 5
N_QUERIES = 5  # vec_id < 5 act as the query set
LSH_BITS = 8  # sign bits per bucket key
LSH_TABLES = 2  # independent hash tables (recall ≈ 1-(1-p)^T vs p for one)
DIM = 64

# k-means training (coarse quantizer): fixed Lloyd rounds so the oracle can
# replay the identical computation. Centroid update is the *integer* sum of
# member components quantized to a 2^-20 grid — integer addition is
# order-independent, so the trained centroids are bit-identical across
# engines, unlike a float mean whose value depends on summation order.
# Cosine assignment is invariant to centroid scale, so the un-divided sum
# IS the centroid (no mean, no float division anywhere in training).
KMEANS_ITERS = 2
QUANT = 1 << 20


def dot(x: Column, y: Column) -> Column:
    """Sequential-fold double dot product (deterministic across engines).

    Measured r12: KEEP the higher-order fold. An unrolled 64-term
    ``x[i]*y[i]`` chain is ~4× faster inside a whole-stage-codegen'd
    projection, but every heavy consumer of this kernel evaluates it in
    a NON-codegen context (BNLJ join conditions, generated predicates,
    lambda bodies), where each unrolled term re-fetches the array column
    from the joined row and the interpreted tree evaluates ~2× SLOWER
    than this fold (pair kernel A/B at sf0.1: fold 27.5 s vs unrolled
    20.7-43 s single-partition). The real cost driver was parallelism —
    see dedup_embedding_cosine's repartition + pushdown barrier."""
    return F.aggregate(
        F.zip_with(x, y, lambda p, q: p.cast("double") * q.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(x: Column) -> Column:
    return F.sqrt(dot(x, x))


_DOT_QC = (
    "list_reduce([CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)"
    " for i in generate_series(1, 64)], (x, y) -> x + y)"
)


def _self_norm(alias: str) -> str:
    return (
        f"sqrt(list_reduce([CAST({alias}.embedding[i] AS DOUBLE) * "
        f"CAST({alias}.embedding[i] AS DOUBLE)"
        " for i in generate_series(1, 64)], (x, y) -> x + y))"
    )


#: Zero-norm (all-zero) embeddings have UNDEFINED cosine — real corpora
#: contain them (failed encoder rows), and under ANSI mode the division
#: raises DIVIDE_BY_ZERO (found by the hostile-fixture differential,
#: round 5). Every cosine-scoring query therefore operates on the
#: nonzero-norm subset, with the SAME exclusion on both engines: Spark
#: filters ``nrm > 0`` on the norm frame (``nz_base``); DuckDB oracles
#: scan this subquery instead of the raw table. Pure lookup joins that
#: only fetch vectors for already-filtered ids may keep the raw table.
#: NaN guard: DuckDB orders NaN GREATER than everything (NaN > 0 is
#: TRUE) while Spark comparisons on NaN are false — isfinite() makes the
#: two universes identical when a corpus carries NaN embeddings.
#: Fuzz round 4 added the HUGE-COMPONENT class: a finite 1e30 component
#: passes every norm/finiteness probe but overflows the floor(x·1e6)
#: BIGINT quantization the trainers use (DuckDB hard-errors, Spark
#: wraps). The universe therefore also requires every |component| <
#: 1e12 — max-abs < 1e12 ALONE excludes NaN/±Inf too (both engines rank
#: NaN greatest), but the explicit norm probes stay for clarity.
#: Fuzz round 6 added the RAGGED-VECTOR class (divergence class 18):
#: short/empty/NULL embeddings from a failed encoder row. Every oracle
#: already hard-codes the model dimension (generate_series(1, 64) —
#: DuckDB's out-of-range list index is NULL, so ragged rows silently
#: fell out of ITS universe) while Spark's aggregate() walks whatever
#: length arrived, then fixed-index accesses (codes, centroids) crash.
#: The universe therefore requires len(embedding) = DIM EXPLICITLY on
#: both engines — a wrong-dimension vector is an invalid row, exactly
#: like a non-finite one.
#: Fuzz round 9 added the AMBIGUOUS-PK class: the SAME vec_id delivered
#: twice with DIFFERENT embeddings (at-least-once ingest where the retry
#: carried new data). vec_id is the identity every ranking/seed/join in
#: this module tiebreaks or partitions on, so a duplicated id makes those
#: total orders partial — k-means seed selection picked different rows
#: per engine. Conflicting-id rows are QUARANTINED from the universe
#: (count over the otherwise-valid rows = 1): unlike the tiling arbiter
#: (which must keep one payload to reassemble), a similarity index has no
#: principled way to say which of two contradictory vectors IS vec_id N.
_EMB_NZ = (
    "(SELECT * FROM embeddings WHERE len(embedding) = 64"
    " AND isfinite(list_reduce("
    "[CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)"
    " for i in generate_series(1, 64)], (x, y) -> x + y)) AND list_reduce("
    "[CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)"
    " for i in generate_series(1, 64)], (x, y) -> x + y) > 0"
    " AND list_max([abs(CAST(embedding[i] AS DOUBLE))"
    " for i in generate_series(1, 64)]) < 1e12"
    " QUALIFY count(*) OVER (PARTITION BY vec_id) = 1)"
)


def nz_base(e: "DataFrame") -> "DataFrame":
    """(vec_id, embedding, nrm) frame with zero-norm, non-finite,
    huge-component, WRONG-DIMENSION (ragged/empty/NULL — class 18) and
    AMBIGUOUS-PK (duplicated vec_id — fuzz 9) vectors excluded — the
    canonical input of every cosine-scoring ANN query (see _EMB_NZ).
    The ambiguity count runs over the otherwise-valid rows (a duplicate
    whose sibling already failed the finiteness gates is unambiguous),
    mirroring the oracle's QUALIFY placement; one exchange on vec_id,
    which the downstream index build reuses."""
    from pyspark.sql import Window

    max_abs = F.array_max(
        F.transform("embedding", lambda x: F.abs(x.cast("double")))
    )
    valid = (
        e.where(F.col("embedding").isNotNull() & (F.size("embedding") == DIM))
        .select("vec_id", "embedding", norm(F.col("embedding")).alias("nrm"))
        .where(~F.isnan("nrm") & (F.col("nrm") > 0) & (max_abs < F.lit(1e12)))
    )
    n_ids = F.count("*").over(Window.partitionBy("vec_id"))
    return valid.withColumn("_n_ids", n_ids).where(F.col("_n_ids") == 1).drop("_n_ids")


@register(
    "knn_bruteforce_cosine",
    oracle=f"""
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT
        q.vec_id AS query_id,
        c.vec_id AS neighbor_id,
        round({_DOT_QC} / ({_self_norm('q')} * {_self_norm('c')}), 6) AS cosine,
        row_number() OVER (
          PARTITION BY q.vec_id
          ORDER BY round({_DOT_QC} / ({_self_norm('q')} * {_self_norm('c')}), 6) DESC,
                   c.vec_id ASC
        ) AS rank
      FROM {_EMB_NZ} q
      JOIN {_EMB_NZ} c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERIES}
    )
    WHERE rank <= {TOP_K}
    """,
)
def knn_bruteforce_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ANN baseline: brute-force cosine top-k for each query vector.
    Query side broadcasts (it's tiny by construction); ranking on the
    rounded score with vec_id tiebreak gives a total order, so top-k is
    deterministic. At scale this kernel runs per-LSH-bucket, not globally."""
    e = table(spark, sf_dir, "embeddings")
    # staged (r12): base feeds both join sides — one
    # scan + ambiguity window instead of two
    base = stage(nz_base(e))
    q = base.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    c = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    cosine = F.round(
        dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_nrm") * F.col("c_nrm")), 6
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        F.broadcast(q)
        .join(c, F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cosine.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
    )


def _seed(t: int, j: int, i: int) -> str:
    """Hyperplane seed string: table 0 keeps the original 'j|i' namespace
    (dedup_embedding_lsh_blocked's oracle depends on it); further tables
    get an independent namespace."""
    return f"{j}|{i}" if t == 0 else f"t{t}:{j}|{i}"


def lsh_bucket(
    emb: Column | str = "embedding",
    n_bits: int = LSH_BITS,
    dim: int = DIM,
    hash_table: int = 0,
) -> Column:
    """Random-hyperplane LSH bucket key.

    Hyperplane h_j has components in {-1,+1} derived from md5(seed) hex
    digit parity — a deterministic, engine-portable pseudo-random sign
    matrix. Bucket bit j = sign(h_j · v). Returns an n_bits-char '0'/'1'
    string key. ``hash_table`` selects an independent hyperplane family —
    a near-dup pair split by one table's planes collides in another with
    independent probability, so T tables lift pair recall from p to
    1-(1-p)^T at T× index cost (the standard LSH recall knob).

    r12, two measured driver/executor cost fixes with identical values:
    1. The sign matrix is a pure plan-time constant (md5 of a literal
       seed), but expressed through a lambda variable Catalyst evaluated
       all n_bits × dim md5 calls per ROW. The signs are now hashed HERE
       at plan build time (hashlib md5 == engine md5) into boolean
       literals inside the same ±component left-fold — order, casts, and
       the 0.0 seed unchanged, so every bucket key matches the oracles.
    2. The expression is assembled as ONE SQL string per bucket
       (``F.expr``), not ~2k py4j Column calls: plan CONSTRUCTION alone
       cost 1.4 s per index build at 2 tables × 8 bits × 64 dims.
    The fold is kept (not unrolled): measured r12, interpreted folds
    beat unrolled element chains everywhere this runs (see dot())."""
    import hashlib

    # Column inputs only occur as F.col(name) in-tree; the SQL text needs
    # the name. Backticks guard exotic names.
    name = emb if isinstance(emb, str) else "embedding"
    high = ("8", "9", "a", "b", "c", "d", "e", "f")
    bits = []
    for j in range(n_bits):
        signs = ",".join(
            "true"
            if hashlib.md5(_seed(hash_table, j, i).encode()).hexdigest()[0] in high
            else "false"
            for i in range(dim)
        )
        proj = (
            f"aggregate(zip_with(`{name}`, array({signs}),"
            " (v, pos) -> CASE WHEN pos THEN CAST(v AS DOUBLE)"
            " ELSE -CAST(v AS DOUBLE) END),"
            " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        bits.append(f"(CASE WHEN {proj} > 0 THEN '1' ELSE '0' END)")
    return F.expr("concat(" + ", ".join(bits) + ")")


def _lsh_bucket_sql(
    alias: str, n_bits: int = LSH_BITS, dim: int = DIM, hash_table: int = 0
) -> str:
    prefix = "" if hash_table == 0 else f"t{hash_table}:"
    parts = []
    for j in range(n_bits):
        terms = (
            f"[CASE WHEN substr(md5('{prefix}{j}|' || CAST(i - 1 AS VARCHAR)), 1, 1)"
            f" IN ('8','9','a','b','c','d','e','f')"
            f" THEN CAST({alias}.embedding[i] AS DOUBLE)"
            f" ELSE -CAST({alias}.embedding[i] AS DOUBLE) END"
            f" for i in generate_series(1, {dim})]"
        )
        parts.append(
            f"(CASE WHEN list_reduce({terms}, (x, y) -> x + y) > 0"
            " THEN '1' ELSE '0' END)"
        )
    return " || ".join(parts)


@register(
    "ann_lsh_buckets",
    oracle="\n    UNION ALL\n".join(
        f"""
    SELECT {t} AS hash_table, bucket,
           count(*) AS n_vectors, min(vec_id) AS min_vec_id
    FROM (
      SELECT e.vec_id, {_lsh_bucket_sql('e', hash_table=t)} AS bucket
      FROM embeddings e
    )
    GROUP BY bucket
    """
        for t in range(LSH_TABLES)
    ),
)
def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index build: every vector hashed to its random-hyperplane
    bucket in each of LSH_TABLES independent hash tables. Downstream ANN
    = equi-join query (hash_table, bucket) keys against this index, union
    candidates across tables, then the exact kernel within matches. Two
    tables double the index size but lift pair recall from p to
    1-(1-p)², which is what makes 8-bit keys usable at scale; the build
    stays one narrow projection per table + one groupBy shuffle."""
    e = table(spark, sf_dir, "embeddings").alias("e")
    per_table = [
        e.select(
            F.lit(t).alias("hash_table"),
            "vec_id",
            lsh_bucket("embedding", hash_table=t).alias("bucket"),
        )
        for t in range(LSH_TABLES)
    ]
    indexed = per_table[0]
    for frame in per_table[1:]:
        indexed = indexed.unionByName(frame)
    return indexed.groupBy("hash_table", "bucket").agg(
        F.count("*").alias("n_vectors"), F.min("vec_id").alias("min_vec_id")
    )


def _lsh_topk_oracle() -> str:
    per_table = "\n      UNION ALL\n      ".join(
        f"SELECT {t} AS ht, vec_id, {_lsh_bucket_sql('e', hash_table=t)} AS bucket "
        f"FROM {_EMB_NZ} e"
        for t in range(LSH_TABLES)
    )
    return f"""
    WITH idx AS (
      {per_table}
    ),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM idx q
      JOIN idx c ON c.ht = q.ht AND c.bucket = q.bucket
                AND c.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERIES}
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT
        cd.query_id, cd.neighbor_id,
        round({_DOT_QC} / ({_self_norm('q')} * {_self_norm('c')}), 6) AS cosine,
        row_number() OVER (
          PARTITION BY cd.query_id
          ORDER BY round({_DOT_QC} / ({_self_norm('q')} * {_self_norm('c')}), 6) DESC,
                   cd.neighbor_id ASC
        ) AS rank
      FROM cand cd
      JOIN embeddings q ON q.vec_id = cd.query_id
      JOIN embeddings c ON c.vec_id = cd.neighbor_id
    )
    WHERE rank <= {TOP_K}
    """


@register("ann_lsh_topk", oracle=_lsh_topk_oracle())
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN search through the multi-table LSH index: candidates are
    vectors sharing a (hash_table, bucket) key with the query in ANY of
    the LSH_TABLES hyperplane families, deduped, then exact-cosine
    reranked to top-k. This is the query-side complement of
    ann_lsh_buckets and the pure-LSH alternative to the IVF family: no
    training pass, candidate volume ∝ bucket occupancy × tables
    (corpus/2^bits per bucket in expectation), and the whole plan is
    narrow hashing + one equi-join + the per-candidate kernel — no
    all-pairs anywhere."""
    e = table(spark, sf_dir, "embeddings")
    base = stage(nz_base(e))
    per_table = [
        base.select(
            F.lit(t).alias("ht"),
            "vec_id",
            lsh_bucket("embedding", hash_table=t).alias("bucket"),
        )
        for t in range(LSH_TABLES)
    ]
    idx = per_table[0]
    for frame in per_table[1:]:
        idx = idx.unionByName(frame)
    idx = stage(idx)
    q_idx = idx.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "ht", "bucket"
    )
    cand = (
        F.broadcast(q_idx)
        .join(idx, ["ht", "bucket"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    qv = base.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    cv = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    cosine = F.round(
        dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_nrm") * F.col("c_nrm")), 6
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select("query_id", "neighbor_id", cosine.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
    )


@register(
    "embedding_norm_stats",
    oracle=f"""
    SELECT
      label,
      count(*) AS n_vectors,
      round(min({_self_norm('embeddings')}), 6) AS min_norm,
      round(max({_self_norm('embeddings')}), 6) AS max_norm
    FROM embeddings
    GROUP BY label
    """,
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label vector profile (min/max of deterministic per-row norms —
    no cross-row float summation, so exact across engines)."""
    e = table(spark, sf_dir, "embeddings")
    return (
        e.select("label", norm(F.col("embedding")).alias("nrm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.round(F.min("nrm"), 6).alias("min_norm"),
            F.round(F.max("nrm"), 6).alias("max_norm"),
        )
    )


# --- IVF (inverted-file) ANN ---------------------------------------------

N_CELLS = 16  # coarse-quantizer centroids (trained, see kmeans_centroids)


def _cent_dot(alias_e: str, alias_c: str) -> str:
    return (
        f"list_reduce([CAST({alias_e}.embedding[i] AS DOUBLE) * {alias_c}.cent[i]"
        f" for i in generate_series(1, {DIM})], (x, y) -> x + y)"
    )


def _cent_norm(alias_c: str) -> str:
    return (
        f"sqrt(list_reduce([{alias_c}.cent[i] * {alias_c}.cent[i]"
        f" for i in generate_series(1, {DIM})], (x, y) -> x + y))"
    )


TRAIN_CAP = 512  # Lloyd rounds see at most this many vectors (md5-top sample)


def _tsample_sql() -> str:
    """Training corpus: the TRAIN_CAP vectors ranked first by md5(vec_id)
    — a deterministic pseudo-random sample (not the first rows, which
    could share a locality bias). The rank doubles as the seed index:
    rows with rnk ≤ N_CELLS are the seed centroids, so seeds ⊂ sample by
    construction. Below the cap (sf ≤ 0.01) this is the whole corpus."""
    return f"""
      SELECT vec_id, embedding, rnk FROM (
        SELECT vec_id, embedding,
               row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
                 AS rnk
        FROM {_EMB_NZ}
      ) WHERE rnk <= {TRAIN_CAP}
    """


def _seeds_sql() -> str:
    return f"""
      SELECT rnk - 1 AS cell_id,
             [CAST(embedding[i] AS DOUBLE) for i in generate_series(1, {DIM})]
               AS cent
      FROM tsample WHERE rnk <= {N_CELLS}
    """


def _asg_sql(
    cent_cte: str,
    src_filter: str = "",
    n_probe: int = 1,
    src_table: str = _EMB_NZ,
) -> str:
    """Nearest-centroid assignment of ``src_table`` against ``cent_cte``."""
    cos = f"round({_cent_dot('e', 'c')} / ({_self_norm('e')} * {_cent_norm('c')}), 6)"
    return f"""
      SELECT vec_id, cell_id FROM (
        SELECT e.vec_id, c.cell_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {cos} DESC, c.cell_id ASC
               ) AS rn
        FROM {src_table} e CROSS JOIN {cent_cte} c
        {src_filter}
      ) WHERE rn <= {n_probe}
    """


def _cent_update_sql(asg_cte: str) -> str:
    sums = ",\n             ".join(
        f"CAST(sum(CAST(floor(CAST(e.embedding[{i + 1}] AS DOUBLE) * {QUANT})"
        f" AS BIGINT)) AS DOUBLE)"
        for i in range(DIM)
    )
    return f"""
      SELECT a.cell_id,
             [{sums}] AS cent
      FROM {asg_cte} a JOIN tsample e USING (vec_id)
      GROUP BY a.cell_id
    """


def _trained_cents_ctes() -> tuple[str, str]:
    """(CTE chain text, final centroid CTE name) for the k-means rounds."""
    parts = [
        f"tsample AS ({_tsample_sql()})",
        f"seeds AS ({_seeds_sql()})",
    ]
    prev = "seeds"
    for t in range(KMEANS_ITERS):
        parts.append(f"kasg{t} AS ({_asg_sql(prev, src_table='tsample')})")
        parts.append(f"cents{t + 1} AS ({_cent_update_sql(f'kasg{t}')})")
        prev = f"cents{t + 1}"
    return ",\n    ".join(parts), prev


_CENTS_SCHEMA = T.StructType(
    [
        T.StructField("cell_id", T.IntegerType(), False),
        T.StructField("cent_emb", T.ArrayType(T.DoubleType(), False), False),
        T.StructField("cent_nrm", T.DoubleType(), False),
    ]
)

# trained-index memo: (sf_dir, k, iters) → [(cell_id, cent_emb, cent_nrm)].
# An IVF index is built once and queried many times; the centroid table is
# k×DIM doubles of index METADATA (not corpus data), so keeping it on the
# driver is the same move Spark MLlib's KMeansModel makes. Plain Python
# values, never DataFrames: a memo must survive SparkSession restarts
# (pytest spins up several sessions per process).
_INDEX_CACHE: dict[tuple, list[tuple[int, list[float], float]]] = {}


def _py_norm(emb: list[float]) -> float:
    """Driver-side mirror of norm(): the identical sequential left-fold
    (acc + x*x in array order, then sqrt) in IEEE double, so a centroid
    norm computed here is bit-equal to one computed by either engine."""
    acc = 0.0
    for v in emb:
        acc += v * v
    return math.sqrt(acc)


def _cents_frame(
    spark: SparkSession, data: list[tuple[int, list[float], float]]
) -> DataFrame:
    return spark.createDataFrame(data, _CENTS_SCHEMA)


def _sql_double(x: float) -> str:
    """Shortest round-trip decimal as a SQL DOUBLE literal. repr() emits
    the shortest string that parses back to the same IEEE double, and
    Java's Double.parseDouble of that string returns the identical bits,
    so inlining a centroid component as text loses nothing."""
    return repr(float(x)) + "D"


def _cents_lit(data: list[tuple[int, list[float], float]]):
    """The trained centroid table as ONE literal array-of-structs
    expression (r13, guide §2.4/§1.2): the index is k×DIM doubles of
    driver-held metadata, so instead of rebuilding a 16-row DataFrame per
    call (createDataFrame → Python-RDD scan) and folding it through
    agg(collect_list) → BroadcastExchange → crossJoin in every consumer
    plan, the whole table is inlined as a literal — zero scans, zero
    exchanges, zero jobs for the index side of the assignment. Built as
    a single SQL string → one F.expr (one py4j call; the JVM parses it),
    the same move as lsh_bucket's hyperplane inlining (r12)."""
    entries = ", ".join(
        "named_struct('cell_id', {cid}, 'cent_emb', array({emb}),"
        " 'cent_nrm', {nrm})".format(
            cid=int(cid),
            emb=", ".join(_sql_double(v) for v in emb),
            nrm=_sql_double(nrm),
        )
        for cid, emb, nrm in data
    )
    return F.expr(f"array({entries})")


def kmeans_centroids(
    base: DataFrame,
    k: int = N_CELLS,
    iters: int = KMEANS_ITERS,
    cache_key: tuple | None = None,
) -> DataFrame:
    """Train the IVF coarse quantizer: (cell_id, cent_emb, cent_nrm).

    Deterministic, engine-portable Lloyd's: seeds are the k vectors
    ranked first by md5(vec_id) (pseudo-random sample via sort+limit →
    TakeOrderedAndProject, no global sort materialization); each round
    reassigns by rounded cosine (cell_id tiebreak → total order) and
    rebuilds each centroid as the INTEGER sum of member components
    quantized to a 2^-20 grid — integer addition commutes, so the result
    is independent of partitioning/summation order, which is what lets
    DuckDB replay training bit-for-bit. Cosine is scale-invariant, so
    the un-divided sum is the centroid (no float mean anywhere). Cells
    that lose all members drop out (same on both engines).

    Lloyd rounds run on a bounded training sample — the TRAIN_CAP
    vectors ranked first by md5(vec_id) (TakeOrderedAndProject, no global
    sort materialization; seeds are the first k of the same ranking, so
    seeds ⊂ sample). Below the cap the sample IS the corpus, so small-sf
    oracle runs are unchanged; at 100 TB training cost is a constant
    while the *assignment* of the full corpus stays exact. Pass
    ``cache_key`` (any hashable id of the corpus, e.g. the sf_dir) to
    memoize the trained index process-wide: an IVF index is built once
    and queried many times, and the centroid table is k×DIM doubles of
    index metadata, not corpus data.

    r12: the Lloyd rounds themselves run DRIVER-SIDE over the collected
    sample. The old form ran each round as Spark jobs (assignment join +
    a DIM-wide aggregate) over ≤512 rows, paying seconds of per-round
    plan compile/codegen for kilobytes of data — 8-10 s per index build
    at any sf. One TakeOrdered collect of the bounded sample (256 KB at
    the cap — the same O(TRAIN_CAP) driver footprint the per-round
    collects already accepted, the MLlib runAlgorithm move) plus a pure-
    Python Lloyd is 0.4 s. Bit-equality with the old path is pinned by
    tests/test_ann_recall.py::test_py_lloyd_matches_spark_lloyd: the
    cosine fold is the same sequential left-fold, the quantized update
    is order-independent integer addition, and ``_py_round6`` reproduces
    Spark round(x, 6) (BigDecimal-of-shortest-repr, HALF_UP) exactly.

    Scale: corpus-side work is unchanged — full-corpus assignment stays
    the broadcast-centroids narrow map in nearest_cells; only the
    TRAIN_CAP sample ever reaches the driver."""
    return _cents_frame(
        base.sparkSession, kmeans_centroids_data(base, k, iters, cache_key)
    )


def kmeans_centroids_data(
    base: DataFrame,
    k: int = N_CELLS,
    iters: int = KMEANS_ITERS,
    cache_key: tuple | None = None,
) -> list[tuple[int, list[float], float]]:
    """The trained index as raw driver-side data (see kmeans_centroids).
    Query plans pass this straight to nearest_cells, which inlines it as
    a literal (_cents_lit) — no per-call DataFrame reconstruction."""
    full_key = (cache_key, k, iters) if cache_key is not None else None
    data = _INDEX_CACHE.get(full_key) if full_key else None
    if data is None:
        seed_order = (F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        sample = (
            base.select("vec_id", "embedding", "nrm")
            .orderBy(*seed_order)
            .limit(TRAIN_CAP)
            .collect()
        )
        rows = [
            ([float(x) for x in r.embedding], float(r.nrm)) for r in sample
        ]
        data = _py_lloyd(rows, k, iters)
        if full_key:
            _INDEX_CACHE[full_key] = data
    return data


def _py_round6(x: float) -> float:
    """Driver-side mirror of Spark ``round(x, 6)`` on DOUBLE: BigDecimal
    of the shortest decimal repr (Double.toString == Python repr on
    JDK 19+/CPython), setScale(6, HALF_UP), back to double. The ``+ 0.0``
    folds Decimal('-0.000000') to +0.0 — Spark's BigDecimal path has no
    negative zero."""
    from decimal import ROUND_HALF_UP, Decimal

    return (
        float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))
        + 0.0
    )


def _py_lloyd(
    rows: list[tuple[list[float], float]], k: int, iters: int
) -> list[tuple[int, list[float], float]]:
    """Pure-Python Lloyd over the bounded (emb, nrm) sample — the exact
    computation the Spark/DuckDB training CTEs perform, value for value:
    seeds are the first k sample rows; assignment is argmax of the
    ROUNDED cosine (sequential left-fold dot, cell_id tiebreak — a total
    order, and ``-cos`` never mixes ±0.0 because round() yields no -0.0);
    the update is the order-independent integer sum of 2^-20-quantized
    member components. Cells that lose all members drop out."""
    data = [(i, list(emb), _py_norm(emb)) for i, (emb, _) in enumerate(rows[:k])]
    for _ in range(iters):
        sums: dict[int, list[int]] = {}
        for emb, nrm in rows:
            best = None
            for cell_id, cent, cnrm in data:
                acc = 0.0
                for a, b in zip(emb, cent):
                    acc = acc + a * b
                key = (-_py_round6(acc / (nrm * cnrm)), cell_id)
                if best is None or key < best:
                    best = key
            cid = best[1]
            q = [math.floor(x * QUANT) for x in emb]
            if cid in sums:
                s = sums[cid]
                for i, v in enumerate(q):
                    s[i] += v
            else:
                sums[cid] = q
        data = sorted(
            (cid, [float(v) for v in s], _py_norm([float(v) for v in s]))
            for cid, s in sums.items()
        )
    return data


def nearest_cells(base: DataFrame, cents, n_probe: int = 1) -> DataFrame:
    """(vec_id, cell_id): each vector's ``n_probe`` nearest centroids by
    rounded cosine (cell_id-asc tiebreak → total order → deterministic).

    ``base`` carries (vec_id, embedding, nrm); ``cents`` (k rows) folds
    into ONE broadcast row of centroid structs, so assignment is a
    single narrow projection per vector — all k cosines, the sort, and
    the top-n_probe selection happen inside one codegen'd array
    expression with NO join, NO window, NO shuffle. That matters twice:
    each k-means round stops paying a row_number exchange over
    corpus × k rows, and at 100 TB the inverted-list build touches the
    corpus exactly once before the downstream per-cell shuffle.
    collect_list's order doesn't matter: array_sort on (−cos, cell_id)
    structs yields the same total order from any permutation.

    ``cents`` may be the centroid DataFrame or the raw driver-side list
    (kmeans_centroids_data). The list form inlines the index as a
    literal (_cents_lit): the 1-row agg + BroadcastExchange + crossJoin
    disappear from the plan and assignment is a pure narrow projection —
    same values, bit for bit (r13)."""
    if isinstance(cents, list):
        cents_col = _cents_lit(cents)
        src = base
    else:
        cent_row = F.broadcast(
            cents.agg(
                F.collect_list(F.struct("cell_id", "cent_emb", "cent_nrm")).alias(
                    "_cents"
                )
            )
        )
        cents_col = F.col("_cents")
        src = base.crossJoin(cent_row)
    scored = F.transform(
        cents_col,
        lambda c: F.struct(
            (
                -F.round(
                    dot(F.col("embedding"), c["cent_emb"])
                    / (F.col("nrm") * c["cent_nrm"]),
                    6,
                )
            ).alias("neg_cos"),
            c["cell_id"].alias("cell_id"),
        ),
    )
    top = F.slice(F.array_sort(scored), 1, n_probe)
    return (
        src.select("vec_id", F.explode(top).alias("t"))
        .select("vec_id", F.col("t.cell_id").alias("cell_id"))
    )


_KMEANS_CTES, _FINAL_CENTS = _trained_cents_ctes()


@register(
    "ann_ivf_topk",
    oracle=f"""
    WITH {_KMEANS_CTES},
    cells AS ({_asg_sql(_FINAL_CENTS)}),
    qcells AS (
      SELECT vec_id AS query_id, cell_id FROM cells WHERE query_id < {N_QUERIES}
    )
    SELECT query_id, neighbor_id, cell_id, cosine, rank FROM (
      SELECT
        qc.query_id, cand.vec_id AS neighbor_id, qc.cell_id,
        round({_DOT_QC} / ({_self_norm('q')} * {_self_norm('c')}), 6) AS cosine,
        row_number() OVER (
          PARTITION BY qc.query_id
          ORDER BY round({_DOT_QC} / ({_self_norm('q')} * {_self_norm('c')}), 6) DESC,
                   cand.vec_id ASC
        ) AS rank
      FROM qcells qc
      JOIN cells cand ON cand.cell_id = qc.cell_id AND cand.vec_id <> qc.query_id
      JOIN embeddings q ON q.vec_id = qc.query_id
      JOIN embeddings c ON c.vec_id = cand.vec_id
    )
    WHERE rank <= {TOP_K}
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (nprobe=1): corpus partitioned into N_CELLS inverted lists
    by nearest TRAINED centroid (kmeans_centroids — md5-seeded sample +
    fixed Lloyd rounds, engine-deterministic so the oracle replays the
    same index); each query searches only its own cell. Plan: broadcast
    centroids → narrow assignment → equi-join on cell_id → exact kernel
    per cell. Candidates drop ~N_CELLS× vs brute force; recall trades
    off via nprobe (join against the n nearest cells instead of 1) and
    is pinned vs the brute-force kernel in tests/test_ann_recall.py."""
    e = table(spark, sf_dir, "embeddings")
    base = stage(nz_base(e))
    cents = kmeans_centroids_data(base, cache_key=("ivf", sf_dir))
    cells = nearest_cells(base, cents)
    qcells = cells.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "cell_id"
    )
    q = base.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    cand = cells.join(
        base.select("vec_id", F.col("embedding").alias("c_emb"), F.col("nrm").alias("c_nrm")),
        "vec_id",
    ).select(F.col("vec_id").alias("neighbor_id"), "cell_id", "c_emb", "c_nrm")
    cosine = F.round(
        dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_nrm") * F.col("c_nrm")), 6
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        F.broadcast(qcells.join(q, "query_id"))
        .join(cand, "cell_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "cell_id", cosine.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
    )


N_PROBE = 2  # cells searched per query in the multi-probe variant


_QPROBE_SQL = _asg_sql(
    _FINAL_CENTS, src_filter=f"WHERE e.vec_id < {N_QUERIES}", n_probe=N_PROBE
)


@register(
    "ann_ivf_multiprobe",
    oracle=f"""
    WITH {_KMEANS_CTES},
    cells AS ({_asg_sql(_FINAL_CENTS)}),
    qprobes AS (
      SELECT vec_id AS query_id, cell_id FROM ({_QPROBE_SQL})
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT
        qp.query_id, cand.vec_id AS neighbor_id,
        round({_DOT_QC} / ({_self_norm('q')} * {_self_norm('c')}), 6) AS cosine,
        row_number() OVER (
          PARTITION BY qp.query_id
          ORDER BY round({_DOT_QC} / ({_self_norm('q')} * {_self_norm('c')}), 6) DESC,
                   cand.vec_id ASC
        ) AS rank
      FROM qprobes qp
      JOIN cells cand ON cand.cell_id = qp.cell_id AND cand.vec_id <> qp.query_id
      JOIN embeddings q ON q.vec_id = qp.query_id
      JOIN embeddings c ON c.vec_id = cand.vec_id
    )
    WHERE rank <= {TOP_K}
    """,
)
def ann_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (trained centroids) with nprobe=2: each query searches its
    two nearest cells, recovering neighbors that fell just across a cell
    boundary (the standard recall knob — candidates scale linearly with
    nprobe while staying ~corpus/N_CELLS per probe). Same plan as
    nprobe=1 plus one more row per query in the probe table; candidates
    from both probes rank in a single window."""
    e = table(spark, sf_dir, "embeddings")
    base = stage(nz_base(e))
    cents = kmeans_centroids_data(base, cache_key=("ivf", sf_dir))
    qprobes = nearest_cells(
        base.where(F.col("vec_id") < N_QUERIES), cents, n_probe=N_PROBE
    ).select(F.col("vec_id").alias("query_id"), "cell_id")
    cells = nearest_cells(base, cents)
    q = base.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    cand = cells.join(
        base.select(
            "vec_id", F.col("embedding").alias("c_emb"), F.col("nrm").alias("c_nrm")
        ),
        "vec_id",
    ).select(F.col("vec_id").alias("neighbor_id"), "cell_id", "c_emb", "c_nrm")
    cosine = F.round(
        dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_nrm") * F.col("c_nrm")), 6
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        F.broadcast(qprobes.join(q, "query_id"))
        .join(cand, "cell_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cosine.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
    )


@register(
    "embedding_kmeans_cells",
    oracle=f"""
    WITH {_KMEANS_CTES},
    cells AS ({_asg_sql(_FINAL_CENTS)})
    SELECT cell_id,
           count(*)    AS n_vectors,
           min(vec_id) AS min_vec_id,
           max(vec_id) AS max_vec_id
    FROM cells
    GROUP BY cell_id
    """,
)
def embedding_kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus clustering as a first-class output: every vector's trained
    k-means cell, profiled per cell. This is the op a training pipeline
    runs for mixture balancing / topic-aware sampling / curriculum
    buckets — the same trained index the ANN queries probe, read as a
    partition of the corpus instead of a search structure. Narrow
    broadcast assignment + one k-group aggregate; with the index memo
    warm this touches the corpus exactly once."""
    e = table(spark, sf_dir, "embeddings")
    base = nz_base(e)
    cents = kmeans_centroids_data(base, cache_key=("ivf", sf_dir))
    return (
        nearest_cells(base, cents)
        .groupBy("cell_id")
        .agg(
            F.count("*").alias("n_vectors"),
            F.min("vec_id").alias("min_vec_id"),
            F.max("vec_id").alias("max_vec_id"),
        )
    )


# --- embedding-space benchmark decontamination ----------------------------
# The semantic sibling of dedup.decontaminate_ngram_overlap: n-gram
# containment catches verbatim eval leakage; embedding cosine catches
# PARAPHRASED leakage (reworded benchmark items that share no shingles).
# The benchmark role is vec_id mod EMB_BENCH_MOD so the oracle replays
# the split; a real run swaps in the eval suite's embedding table.
EMB_BENCH_MOD = 50
EMB_DECONTAM_THRESHOLD = 0.35  # flag corpus vectors this close to any benchmark item


@register(
    "decontaminate_embedding_cosine",
    oracle=f"""
    WITH bench AS (
      SELECT vec_id, embedding FROM {_EMB_NZ} WHERE vec_id % {EMB_BENCH_MOD} = 0
    ),
    corpus AS (
      SELECT vec_id, embedding FROM {_EMB_NZ} WHERE vec_id % {EMB_BENCH_MOD} <> 0
    ),
    scored AS (
      SELECT c.vec_id,
             b.vec_id AS bench_id,
             round(list_reduce(
                     [CAST(b.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)
                      for i in generate_series(1, 64)], (x, y) -> x + y)
                   / ({_self_norm('b')} * {_self_norm('c')}), 6) AS cosine
      FROM corpus c JOIN bench b ON true
    ),
    best AS (
      SELECT vec_id, bench_id, cosine,
             row_number() OVER (
               PARTITION BY vec_id ORDER BY cosine DESC, bench_id ASC
             ) AS rn
      FROM scored
      WHERE cosine >= {EMB_DECONTAM_THRESHOLD}
    )
    SELECT vec_id, bench_id, cosine FROM best WHERE rn = 1
    """,
)
def decontaminate_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination: flag corpus vectors whose cosine
    to ANY benchmark vector clears the threshold, reporting the closest
    benchmark item (cosine-desc, bench_id-asc total order). Catches
    paraphrased eval leakage that n-gram containment misses.

    Scale shape: the benchmark side is eval-suite-sized (KBs vs 100 TB),
    so it BROADCASTS and scoring is a map-only pass over the corpus —
    per corpus vector, the max-cosine benchmark item folds inside one
    codegen'd expression over the broadcast list, no shuffle at all for
    the scoring; the only exchange is whatever consumes the output. At
    larger benchmark sizes the LSH/IVF bucketing kernels above replace
    the dense scan, same as the ANN query path."""
    e = table(spark, sf_dir, "embeddings")
    # staged (r12): base feeds the broadcast benchmark agg
    # AND the corpus scoring pass — one scan + ambiguity window, not two
    base = stage(nz_base(e))
    is_bench = F.col("vec_id") % EMB_BENCH_MOD == 0
    bench_row = F.broadcast(
        base.where(is_bench).agg(
            F.collect_list(F.struct("vec_id", "embedding", "nrm")).alias("_bench")
        )
    )
    # per corpus vector: score every benchmark struct, keep the best above
    # threshold — array expression, so the whole pass is shuffle-free
    scored = F.filter(
        F.transform(
            "_bench",
            lambda b: F.struct(
                (-F.round(
                    dot(F.col("embedding"), b["embedding"])
                    / (F.col("nrm") * b["nrm"]),
                    6,
                )).alias("neg_cos"),
                b["vec_id"].alias("bench_id"),
            ),
        ),
        lambda s: -s["neg_cos"] >= F.lit(EMB_DECONTAM_THRESHOLD),
    )
    best = F.slice(F.array_sort(scored), 1, 1)
    return (
        base.where(~is_bench)
        .crossJoin(bench_row)
        .select("vec_id", F.explode(best).alias("t"))
        .select(
            "vec_id",
            F.col("t.bench_id").alias("bench_id"),
            (-F.col("t.neg_cos")).alias("cosine"),
        )
    )


# --- Binary quantization: sign-bit codes + Hamming shortlist -----------------
#
# The fourth ANN family beside LSH buckets, IVF lists, and PQ codes: quantize
# every vector to its 64 sign bits (1 bit/dim — a 32× reduction vs float32),
# scan CODES ONLY with popcount Hamming distance to build a per-query
# shortlist, then fetch the float vectors for the shortlist alone and rerank
# by exact cosine. Sign-bit Hamming approximates angular distance (the
# simplest SRP-LSH estimator: P[bit differs] = θ/π per Charikar's SimHash
# construction), so the shortlist concentrates the true top-k with high
# probability while the scan stays integer-only.
BQ_SHORTLIST = 20  # Hamming candidates per query before the exact rerank


def bq_word(emb: Column, word: int) -> Column:
    """One 32-bit sign word of the binary code, as a BIGINT.

    Bit i of word w is set iff embedding[w*32 + i] > 0. Two 32-bit words
    (not one 64-bit word) keep every packed value positive, so the packed
    integers are sign-free in BIGINT on both engines and XOR/popcount
    semantics can't diverge on two's-complement edge cases.
    """
    lo = word * 32
    acc = None
    for i in range(32):
        term = (
            F.when(F.element_at(emb, lo + i + 1) > F.lit(0.0), F.lit(1 << i))
            .otherwise(F.lit(0))
            .cast("bigint")
        )
        acc = term if acc is None else acc + term
    return acc


def _bq_word_sql(alias: str, word: int) -> str:
    lo = word * 32
    return (
        f"CAST(list_sum([CASE WHEN {alias}.embedding[i] > 0"
        f" THEN (CAST(1 AS BIGINT) << (i - {lo + 1})) ELSE CAST(0 AS BIGINT) END"
        f" for i in generate_series({lo + 1}, {lo + 32})]) AS BIGINT)"
    )


def _bq_oracle() -> str:
    ham = "CAST(bit_count(xor(q.w0, c.w0)) + bit_count(xor(q.w1, c.w1)) AS BIGINT)"
    return f"""
    WITH codes AS (
      SELECT vec_id, {_bq_word_sql('e', 0)} AS w0, {_bq_word_sql('e', 1)} AS w1
      FROM {_EMB_NZ} e
    ),
    short AS (
      SELECT query_id, neighbor_id, hamming FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {ham} AS hamming,
               row_number() OVER (
                 PARTITION BY q.vec_id ORDER BY {ham} ASC, c.vec_id ASC
               ) AS hrank
        FROM codes q JOIN codes c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < {N_QUERIES}
      ) WHERE hrank <= {BQ_SHORTLIST}
    )
    SELECT query_id, neighbor_id, hamming, cosine, rank FROM (
      SELECT s.query_id, s.neighbor_id, s.hamming,
             round({_DOT_QC} / ({_self_norm('q')} * {_self_norm('c')}), 6) AS cosine,
             row_number() OVER (
               PARTITION BY s.query_id
               ORDER BY round({_DOT_QC} / ({_self_norm('q')} * {_self_norm('c')}), 6)
                        DESC, s.neighbor_id ASC
             ) AS rank
      FROM short s
      JOIN embeddings q ON q.vec_id = s.query_id
      JOIN embeddings c ON c.vec_id = s.neighbor_id
    ) WHERE rank <= {TOP_K}
    """


@register("ann_hamming_binary_topk", oracle=_bq_oracle())
def ann_hamming_binary_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via binary quantization: sign-bit codes, popcount-Hamming
    shortlist, exact cosine rerank on shortlist rows only.

    Scale shape (the reason this family exists at 100 TB): the first pass
    reads NOTHING but (vec_id, w0, w1) — 20 bytes/vector vs 256 for the
    float32 embedding — and its kernel is two XOR+popcount integer ops,
    whole-stage-codegen'd, no float math. Only BQ_SHORTLIST rows per query
    ever fetch the real vector for the rerank join. The query side
    broadcasts (tiny by construction); ranking orders carry vec_id
    tiebreaks, so both stages are totally ordered and deterministic.
    """
    e = table(spark, sf_dir, "embeddings")
    # staged (r12): the nz_base universe (scan + ambiguity
    # window) feeds FOUR plan branches here (both Hamming sides + both
    # rerank sides) — cut it so it computes once (9 scans → 1 in the
    # audited plan)
    nzb = stage(nz_base(e))
    codes = nzb.select(
        "vec_id",
        bq_word(F.col("embedding"), 0).alias("w0"),
        bq_word(F.col("embedding"), 1).alias("w1"),
    )
    q = codes.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("w0").alias("q0"),
        F.col("w1").alias("q1"),
    )
    c = codes.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("w0").alias("c0"),
        F.col("w1").alias("c1"),
    )
    hamming = (
        F.bit_count(F.col("q0").bitwiseXOR(F.col("c0")))
        + F.bit_count(F.col("q1").bitwiseXOR(F.col("c1")))
    ).cast("bigint")
    wh = Window.partitionBy("query_id").orderBy(
        F.asc("hamming"), F.asc("neighbor_id")
    )
    short = (
        F.broadcast(q)
        .join(c, F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", hamming.alias("hamming"))
        .withColumn("hrank", F.row_number().over(wh))
        .where(F.col("hrank") <= BQ_SHORTLIST)
        .drop("hrank")
    )
    vecs = nzb
    qv = vecs.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    cv = vecs.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    cosine = F.round(
        dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_nrm") * F.col("c_nrm")), 6
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        short.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select("query_id", "neighbor_id", "hamming", cosine.alias("cosine"))
        .withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= TOP_K)
    )


# --- per-dimension feature statistics ----------------------------------------
# The feature-stats pass an embedding pipeline runs before training or
# drift monitoring: per vector dimension, count / mean / variance / min /
# max. De-float discipline for the moments: every element is floored
# onto the 1e-6 grid FIRST (one correctly-rounded multiply, identical in
# both engines), then all moments are EXACT integer arithmetic — the sum
# of squares and the variance numerator n·Σx² − (Σx)² are computed in
# DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) and divided with truncating
# integral division (non-negative by Cauchy-Schwarz, so truncation ==
# floor in both engines), landing back in BIGINT. A raw float sum would
# differ between Spark's parallel partials and any single-threaded
# oracle; this never sums a float.


@register(
    "embedding_dimension_stats",
    oracle="""
    WITH el AS (
      SELECT unnest(range(len(embedding))) AS dim, unnest(embedding) AS xf
      FROM embeddings
    ),
    fin AS (
      SELECT dim, CAST(floor(CAST(xf AS DOUBLE) * 1000000) AS BIGINT) AS xe6
      FROM el WHERE isfinite(xf) AND abs(xf) < 1e3
    ),
    agg AS (
      SELECT dim, count(*) AS n,
             sum(CAST(xe6 AS HUGEINT)) AS s1,
             sum(CAST(xe6 AS HUGEINT) * xe6) AS s2,
             min(xe6) AS mn, max(xe6) AS mx
      FROM fin GROUP BY dim
    ),
    v AS (
      SELECT dim, n, s1, mn, mx,
             CAST((n * s2 - s1 * s1)
                  // (CAST(n AS HUGEINT) * n) AS BIGINT) AS var_e12
      FROM agg
    )
    SELECT CAST(dim AS BIGINT) AS dim, n,
           CAST(floor(CAST(s1 AS DOUBLE) / n) AS BIGINT) AS mean_e6,
           var_e12,
           CAST(floor(sqrt(CAST(var_e12 AS DOUBLE))) AS BIGINT) AS std_e6,
           mn AS min_e6, mx AS max_e6
    FROM v
    """,
)
def embedding_dimension_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension moments of the embedding corpus (see block comment)
    — the drift-monitoring baseline and normalization input.

    Plan: posexplode expands 64× map-side, then ONE partial-aggregating
    HashAggregate pair onto 64 groups — each map task pre-reduces to 64
    rows before the exchange, so the shuffle moves |partitions|·64 rows
    regardless of corpus size. The low group cardinality is exactly the
    case partial aggregation exists for; no window, no join, no skew
    (every row fans to all 64 keys uniformly)."""
    emb = table(spark, sf_dir, "embeddings").select(
        F.posexplode("embedding").alias("dim", "xf")
    )
    x = F.col("xf").cast("double")
    # |x| < 1e3 bounds |xe6| < 1e9, so the worst-case variance numerator
    # n*s2 - s1^2 <= n^2 * max(xe6)^2 = n^2 * 1e18 stays inside
    # DECIMAL(38,0)/HUGEINT for n < 1e10 rows per dimension (~2.5 PB of
    # fp32 at dim 64) — the REAL worst-case bound, stated so it is
    # auditable (ADVICE r6: the previous 1e9 bound's claimed >=1e8-row
    # headroom was wrong — n*s2 alone reaches 1e38 at n ~ 1e4).
    # Real embedding components are O(1); 1e3 loses nothing.
    fin = emb.where(
        ~F.isnan(x)
        & ~x.isin(float("inf"), float("-inf"))
        & (F.abs(x) < F.lit(1e3))
    ).select(
        F.col("dim").cast("bigint").alias("dim"),
        F.floor(x * F.lit(1_000_000.0)).cast("bigint").alias("xe6"),
    )
    agg = fin.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("xe6").cast("decimal(38,0)")).alias("s1"),
        F.sum(
            (F.col("xe6").cast("decimal(38,0)") * F.col("xe6")).cast(
                "decimal(38,0)"
            )
        ).alias("s2"),
        F.min("xe6").alias("mn"),
        F.max("xe6").alias("mx"),
    )
    v = agg.select(
        "dim",
        "n",
        "s1",
        "mn",
        "mx",
        F.expr(
            "CAST((CAST(n AS DECIMAL(38,0)) * s2 - s1 * s1)"
            " div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)"
        ).alias("var_e12"),
    )
    return v.select(
        "dim",
        "n",
        F.floor(F.col("s1").cast("double") / F.col("n"))
        .cast("bigint")
        .alias("mean_e6"),
        "var_e12",
        F.floor(F.sqrt(F.col("var_e12").cast("double")))
        .cast("bigint")
        .alias("std_e6"),
        F.col("mn").alias("min_e6"),
        F.col("mx").alias("max_e6"),
    )


# --- SemDeDup: semantic dedup within k-means cells ---------------------------
# SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the corpus
# embeddings with k-means, then prune near-duplicate SEMANTICS by
# intra-cluster cosine — paraphrases and templated rewrites that exact /
# MinHash dedup can't see. Clustering is what makes it tractable: the
# pair join runs per cell (corpus²/k in the balanced case, and the cells
# come free from the trained IVF quantizer this module already builds),
# never all-pairs. Keep rule: FIRST-arrival canonical — a vector is
# pruned when some SMALLER vec_id in its cell clears the threshold, and
# the emitted row names its best witness (max cosine, min-id tiebreak),
# mirroring dedup_incremental_minhash's dup_of shape.
SEMDEDUP_THRESHOLD = 0.35  # synthetic 64-d fixture scale; ~0.95+ on real text embeddings

_SEM_DOT = (
    "list_reduce([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)"
    " for i in generate_series(1, 64)], (x, y) -> x + y)"
)
_SEM_NRM_A = (
    "sqrt(list_reduce([CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)"
    " for i in generate_series(1, 64)], (x, y) -> x + y))"
)
_SEM_NRM_B = (
    "sqrt(list_reduce([CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)"
    " for i in generate_series(1, 64)], (x, y) -> x + y))"
)


@register(
    "dedup_semantic_cells",
    oracle=f"""
    WITH {_KMEANS_CTES},
    cells AS ({_asg_sql(_FINAL_CENTS)}),
    m AS (
      SELECT c.vec_id, c.cell_id, e.embedding
      FROM cells c JOIN {_EMB_NZ} e USING (vec_id)
    ),
    pairs AS (
      SELECT b.vec_id AS vec_id, a.vec_id AS dup_of, b.cell_id,
             round({_SEM_DOT} / ({_SEM_NRM_A} * {_SEM_NRM_B}), 6) AS cosine
      FROM m a JOIN m b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
      WHERE round({_SEM_DOT} / ({_SEM_NRM_A} * {_SEM_NRM_B}), 6)
              >= {SEMDEDUP_THRESHOLD}
    )
    SELECT vec_id, cell_id, dup_of, cosine FROM (
      SELECT vec_id, cell_id, dup_of, cosine,
             row_number() OVER (
               PARTITION BY vec_id ORDER BY cosine DESC, dup_of ASC
             ) AS rn
      FROM pairs
    ) WHERE rn = 1
    """,
)
def dedup_semantic_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup prune list (see block comment): every vector whose
    k-means cell holds a smaller-id vector with cosine ≥ threshold, with
    its cell and best witness. Plan: broadcast-centroid assignment
    (zero shuffle) → one equi-join on cell_id with the vec_id_1 < vec_id_2
    triangle → exact cosine kernel on the within-cell candidates only →
    per-vector top-1 window keyed by vec_id. At 100 TB the cell join is
    the IVF inverted-list shape — corpus²/k pairs in the balanced case,
    and cells are bounded by the same occupancy reporting the LSH bucket
    audit provides for MinHash."""
    e = table(spark, sf_dir, "embeddings")
    # staged (r12): base feeds the assignment AND the
    # vector-lookup join below — one scan + ambiguity window, not two
    base = stage(nz_base(e))
    cents = kmeans_centroids_data(base, cache_key=("ivf", sf_dir))
    cells = nearest_cells(base, cents)
    # staged: m feeds BOTH sides of the cell self-join — without
    # the cut the nz_base window + assignment join replay per side
    # (13 exchanges audited; 6 with the cut)
    m = stage(cells.join(base.select("vec_id", "embedding", "nrm"), "vec_id"))

    _dot = dot  # shared fold kernel

    a = m.select(
        F.col("cell_id"),
        F.col("vec_id").alias("dup_of"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    b = m.select(
        F.col("cell_id"),
        F.col("vec_id").alias("vec_id"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    # nd_zero pushdown barrier (r12, measured): without it the threshold
    # WHERE folds into the SMJ join condition and the 64-term fold runs
    # there for every ordered cell-mate pair AND again in the projection
    # for survivors (the dedup_embedding_cosine pathology). +0.0 is an
    # arithmetic no-op; round() is unchanged by it.
    from ._util import nd_zero

    cosine = F.round(
        (_dot(F.col("emb_a"), F.col("emb_b")) + nd_zero())
        / (F.col("nrm_a") * F.col("nrm_b")),
        6,
    )
    pairs = (
        a.join(b, ["cell_id"])
        .where(F.col("dup_of") < F.col("vec_id"))
        .select("vec_id", "cell_id", "dup_of", cosine.alias("cosine"))
        .where(F.col("cosine") >= SEMDEDUP_THRESHOLD)
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("dup_of"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "cell_id", "dup_of", "cosine")
    )
