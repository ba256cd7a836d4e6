"""Product quantization (PQ) ANN with asymmetric distance computation.

The memory-bounded leg of the ANN family (similarity.py covers LSH and
IVF): at 100 TB the corpus' float32 embeddings (DIM×4 B/vector) dominate
storage and shuffle width, and brute-force/IVF candidates still drag full
vectors through the exact kernel. PQ stores each vector as M small codes
(here 4 bytes replaces 256 — a 64× compression) and scores queries against
codes only; full vectors are touched just once at encode time.

Shape (Jégou et al., "Product Quantization for Nearest Neighbor Search",
IEEE TPAMI 2011):
1. split each vector into M=4 subvectors of 16 dims;
2. per subspace, a KSUB=16-entry codebook; a vector's code in subspace m
   is its nearest codeword by squared L2;
3. a query is NOT encoded (asymmetric): it precomputes its exact distance
   to all M×KSUB codewords (the ADC table — 64 numbers, broadcast), and a
   candidate's approximate distance is the sum of M table lookups.

Determinism: every arithmetic step is exact integer math. Components are
quantized on a 2^-10 grid *by a power-of-two scale* — float·1024 is an
exponent shift, so the quantization itself is error-free in IEEE double —
and all distances are Σ of integer squares (exact BIGINT, order-independent
addition). No float division, rounding, or summation-order hazard reaches
the comparison hash, and DuckDB replays the whole index bit-for-bit.

The registered query draws its codebooks from the md5-ranked sample (the
same deterministic sampling that seeds the IVF quantizer). Production
training would run the per-subspace Lloyd loop (`kmeans_centroids` is the
engine's deterministic k-means; pointing it at subvector slices is the
k-means-per-subspace of the paper) — codebook quality is orthogonal to the
plan shape being exercised, and the sampled codebook keeps the cross-engine
oracle to one CTE instead of M×rounds. Recall vs the exact brute-force
kernel is pinned in tests/test_ann_recall.py.

Plan: codebook is index metadata (M·KSUB·DSUB ints, driver-held like
MLlib's KMeansModel and the IVF centroid memo); encode is broadcast-
codebook × narrow map (argmin inside one codegen'd array expression — no
join, no shuffle); scoring joins the 5-row query ADC tables by broadcast,
so the only wide operation is the final per-query top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..registry import register
from ..tables import table
from ._util import stage

M = 4  #: subspaces
DSUB = 16  #: dims per subspace (M * DSUB == similarity.DIM)
KSUB = 16  #: codewords per subspace
QS = 1024  #: 2^10 quantization grid — power of two ⇒ exact in double
TOP_K = 5
N_QUERIES = 5
SHORTLIST = 100  #: ADC candidates per query that reach the exact rerank


def _quantized(emb):
    """float32 array → exact integer grid (BIGINT array)."""
    return F.transform(emb, lambda x: F.floor(x.cast("double") * F.lit(float(QS))))


def _d2(a, b):
    """Exact integer squared L2 between two equal-length BIGINT arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _codebook_row(base: DataFrame):
    """One broadcast row: the flattened codebook as an array of
    (sub, code, cwq) structs. Codewords are the subvector slices of the
    KSUB vectors ranked first by md5(vec_id) — the engine's standard
    deterministic pseudo-random sample."""
    sample = (
        base.orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(KSUB)
        .select(
            (
                F.row_number().over(
                    Window.orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
                )
                - 1
            ).alias("code"),
            _quantized(F.col("embedding")).alias("q"),
        )
    )
    entries = sample.select(
        F.explode(F.sequence(F.lit(0), F.lit(M - 1))).alias("sub"),
        "code",
        "q",
    ).select(
        "sub",
        "code",
        F.slice(F.col("q"), F.col("sub") * DSUB + 1, DSUB).alias("cwq"),
    )
    return F.broadcast(
        entries.agg(F.collect_list(F.struct("sub", "code", "cwq")).alias("_cb"))
    )


def encode_pq(base: DataFrame, cb: DataFrame | None = None) -> DataFrame:
    """(vec_id, codes): each vector's M nearest-codeword codes.

    All M argmins run inside one narrow projection against the broadcast
    codebook row — array_sort on (d2, code) structs gives a total order
    (exact integer distances; code breaks genuine ties), so the encoding
    is deterministic from any partitioning. Pass a prebuilt codebook row
    to share it with other consumers in the same plan (r13)."""
    if cb is None:
        cb = _codebook_row(base)

    def best(sub: int):
        scored = F.transform(
            F.filter("_cb", lambda c: c["sub"] == F.lit(sub)),
            lambda c: F.struct(
                _d2(F.slice("__q", sub * DSUB + 1, DSUB), c["cwq"]).alias("d2"),
                c["code"].alias("code"),
            ),
        )
        return F.element_at(F.array_sort(scored), 1)["code"]

    return (
        base.crossJoin(cb)
        .withColumn("__q", _quantized(F.col("embedding")))
        .select("vec_id", F.array(*[best(m) for m in range(M)]).alias("codes"))
    )


def _oracle() -> str:
    qemb = (
        "[CAST(floor(CAST(embedding[i] AS DOUBLE) * 1024) AS BIGINT) "
        "for i in generate_series(1, 64)]"
    )
    d2 = (
        "list_reduce([ (q.q[{off} + i] - cb.cwq[i]) * (q.q[{off} + i] - cb.cwq[i]) "
        "for i in generate_series(1, 16)], (x, y) -> x + y)"
    ).format(off="cb.sub * 16")
    return f"""
    WITH quant AS (
      SELECT vec_id, {qemb} AS q FROM (SELECT * FROM embeddings WHERE len(embedding) = 64 AND isfinite(list_reduce([CAST(embedding[i] AS DOUBLE) for i in generate_series(1, 64)], (x, y) -> x + y)) AND list_max([abs(CAST(embedding[i] AS DOUBLE)) for i in generate_series(1, 64)]) < 1e12 QUALIFY count(*) OVER (PARTITION BY vec_id) = 1)
    ),
    ranked AS (
      SELECT vec_id, q,
             row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
               AS rnk
      FROM quant
    ),
    codebook AS (
      SELECT m.sub, rnk - 1 AS code,
             q[m.sub * 16 + 1 : m.sub * 16 + 16] AS cwq
      FROM ranked, (SELECT unnest(generate_series(0, 3)) AS sub) m
      WHERE rnk <= 16
    ),
    codes AS (
      SELECT vec_id, sub, code FROM (
        SELECT q.vec_id, cb.sub, cb.code,
               row_number() OVER (
                 PARTITION BY q.vec_id, cb.sub
                 ORDER BY {d2} ASC, cb.code ASC
               ) AS rn
        FROM quant q CROSS JOIN codebook cb
      ) WHERE rn = 1
    ),
    dtab AS (
      SELECT q.vec_id AS query_id, cb.sub, cb.code, {d2} AS d
      FROM quant q CROSS JOIN codebook cb
      WHERE q.vec_id < {N_QUERIES}
    ),
    adc AS (
      SELECT d.query_id, c.vec_id AS neighbor_id,
             sum(d.d) AS adc_d2q
      FROM codes c
      JOIN dtab d ON d.sub = c.sub AND d.code = c.code
      WHERE c.vec_id <> d.query_id
      GROUP BY d.query_id, c.vec_id
    ),
    shortlist AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (
                 PARTITION BY query_id ORDER BY adc_d2q ASC, neighbor_id ASC
               ) AS rn
        FROM adc
      ) WHERE rn <= {SHORTLIST}
    )
    SELECT query_id, neighbor_id, d2q, rank FROM (
      SELECT s.query_id, s.neighbor_id,
             list_reduce([ (q.q[i] - c.q[i]) * (q.q[i] - c.q[i])
                           for i in generate_series(1, 64)],
                         (x, y) -> x + y) AS d2q,
             row_number() OVER (
               PARTITION BY s.query_id
               ORDER BY list_reduce([ (q.q[i] - c.q[i]) * (q.q[i] - c.q[i])
                                      for i in generate_series(1, 64)],
                                    (x, y) -> x + y) ASC,
                        s.neighbor_id ASC
             ) AS rank
      FROM shortlist s
      JOIN quant q ON q.vec_id = s.query_id
      JOIN quant c ON c.vec_id = s.neighbor_id
    ) WHERE rank <= {TOP_K}
    """


@register("ann_pq_adc_topk", oracle=_oracle())
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC top-k, the full production pipeline: queries (vec_id <
    N_QUERIES) score the ENTIRE corpus through 4-code representations and
    per-query broadcast ADC tables, keep a SHORTLIST of the closest
    candidates by approximate distance, and only those reach the exact
    rerank (d2q — exact squared L2 on the 2^-10 integer grid). Scale:
    the full-corpus pass shuffles 4 B of codes per row instead of 256 B
    of floats, and the expensive exact kernel touches queries×SHORTLIST
    rows, not queries×corpus. Both distances are exact BIGINT sums —
    nothing float-ordered reaches the hash."""
    e = table(spark, sf_dir, "embeddings")
    # finite-vector universe: PQ quantization floors each component, so a
    # NaN/Inf component is undecodable (DuckDB cannot even cast NaN to
    # BIGINT); zero vectors are FINE for L2 codes, so this is isfinite,
    # not the cosine family's nonzero-norm filter. Probe = component sum.
    _comp_sum = F.aggregate(
        "embedding", F.lit(0.0), lambda a, v: a + v.cast("double")
    )
    # fuzz round 4: a finite huge component (1e30) still overflows the
    # floor(x·1024) BIGINT quantization — bound max |component| too
    _max_abs = F.array_max(
        F.transform("embedding", lambda x: F.abs(x.cast("double")))
    )
    # fuzz round 6 (class 18): ragged/empty/NULL vectors are invalid —
    # the oracle's fixed-index universe drops them silently, the fixed-
    # offset PQ slicing crashes on them
    from .similarity import DIM

    # fuzz round 9 (ambiguous PK): a vec_id delivered twice with different
    # embeddings breaks the codebook-seed ranking's total order (it ties
    # on both md5(vec_id) and vec_id) — quarantine, as in similarity.nz_base
    from pyspark.sql import Window

    base = e.where(
        F.col("embedding").isNotNull() & (F.size("embedding") == DIM)
    ).select(
        "vec_id", "embedding", _comp_sum.alias("_cs"), _max_abs.alias("_ma")
    ).where(
        ~F.isnan("_cs")
        & (F.abs("_cs") != float("inf"))
        & (F.col("_ma") < F.lit(1e12))
    ).withColumn(
        "_n_ids", F.count("*").over(Window.partitionBy("vec_id"))
    ).where(F.col("_n_ids") == 1).select("vec_id", "embedding")
    # staged (r13, guide §2.4): base feeds SIX branches (encode probe,
    # codebook sample ×2 via ReuseExchange, query-side dtab, rerank
    # lookup ×2) — one scan + ambiguity window instead of replays
    base = stage(base)
    cb = _codebook_row(base)
    codes = encode_pq(base, cb)
    # per-query ADC lookup table: map (sub*KSUB + code) → exact distance
    dtab = (
        base.where(F.col("vec_id") < N_QUERIES)
        .crossJoin(cb)
        .withColumn("__q", _quantized(F.col("embedding")))
        .select(
            F.col("vec_id").alias("query_id"),
            F.map_from_entries(
                F.transform(
                    "_cb",
                    lambda c: F.struct(
                        (c["sub"] * KSUB + c["code"]).alias("k"),
                        _d2(
                            # slice() is 1-based and needs a plain int start
                            # per sub — fold over the struct's own sub field
                            F.slice("__q", c["sub"] * DSUB + 1, DSUB),
                            c["cwq"],
                        ).alias("v"),
                    ),
                )
            ).alias("dmap"),
        )
    )
    scored = (
        codes.join(F.broadcast(dtab), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.aggregate(
                F.zip_with(
                    "codes",
                    F.sequence(F.lit(0), F.lit(M - 1)),
                    lambda c, m: F.element_at(F.col("dmap"), m * KSUB + c),
                ),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("adc_d2q"),
        )
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.asc("adc_d2q"), F.asc("neighbor_id")
    )
    shortlist = (
        scored.withColumn("rn", F.row_number().over(w_adc))
        .where(F.col("rn") <= SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    # exact rerank: only queries×SHORTLIST rows touch full vectors again
    quant = base.select("vec_id", _quantized(F.col("embedding")).alias("q"))
    rerank = (
        F.broadcast(shortlist)
        .join(
            quant.select(F.col("vec_id").alias("query_id"), F.col("q").alias("qq")),
            "query_id",
        )
        .join(
            quant.select(F.col("vec_id").alias("neighbor_id"), F.col("q").alias("cq")),
            "neighbor_id",
        )
        .select("query_id", "neighbor_id", _d2(F.col("qq"), F.col("cq")).alias("d2q"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("d2q"), F.asc("neighbor_id"))
    return (
        rerank.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "d2q", "rank")
    )
