"""Hybrid retrieval: dense (embedding cosine) + lexical (shingle Jaccard)
candidate lists fused by reciprocal-rank fusion (RRF) — the standard
RAG-retrieval shape (documents.doc_id aligns 1:1 with embeddings.vec_id
in the test corpus, mirroring a real corpus with one embedding per doc).

Both sides are existing engine kernels: the dense side is the exact
cosine kernel (broadcast query block × corpus, per-query window rank —
the per-bucket kernel of the LSH/IVF paths), the lexical side reuses the
dedup shingle frame with a Jaccard score (candidate set bounded by
``jaccard > 0``, which at scale becomes the inverted-index equi-join of
decontaminate/minhash rather than a broadcast NLJ). RRF needs only the
two INTEGER ranks — 1/(k+rank) sums of two terms in a fixed order — so
the fused score is engine-deterministic without any float-aggregation
caveat.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..registry import register
from ..tables import table
from ._util import stage
from .dedup import _SHINGLED_SQL, _shingled
from .similarity import N_QUERIES, _DOT_QC, _EMB_NZ, _self_norm, dot, norm, nz_base
from .text import _NORM_SQL, _norm_col

LEX_K = 10  # lexical candidates per query
EMB_K = 10  # dense candidates per query
RRF_K = 60  # the standard RRF dampening constant
FUSED_K = 5  # fused results per query


@register(
    "hybrid_search_rrf",
    oracle=f"""
    WITH {_SHINGLED_SQL},
    lex AS (
      SELECT query_id, doc_id, lex_rank FROM (
        SELECT q.doc_id AS query_id, c.doc_id AS doc_id,
               row_number() OVER (
                 PARTITION BY q.doc_id
                 ORDER BY round(
                   CAST(len(list_intersect(q.sh, c.sh)) AS DOUBLE)
                     / (len(q.sh) + len(c.sh) - len(list_intersect(q.sh, c.sh))),
                   6) DESC,
                 c.doc_id ASC
               ) AS lex_rank
        FROM shingled q
        JOIN shingled c ON c.doc_id <> q.doc_id
        WHERE q.doc_id < {N_QUERIES} AND len(list_intersect(q.sh, c.sh)) > 0
      ) WHERE lex_rank <= {LEX_K}
    ),
    emb AS (
      SELECT query_id, doc_id, emb_rank FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round({_DOT_QC} / ({_self_norm('q')} * {_self_norm('c')}), 6) DESC,
                          c.vec_id ASC
               ) AS emb_rank
        FROM {_EMB_NZ} q
        JOIN {_EMB_NZ} c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < {N_QUERIES}
      ) WHERE emb_rank <= {EMB_K}
    ),
    fused AS (
      SELECT
        coalesce(lex.query_id, emb.query_id) AS query_id,
        coalesce(lex.doc_id, emb.doc_id) AS doc_id,
        coalesce(lex.lex_rank, 0) AS lex_rank,
        coalesce(emb.emb_rank, 0) AS emb_rank,
        round(
          coalesce(CAST(1 AS DOUBLE) / ({RRF_K} + lex.lex_rank), 0)
            + coalesce(CAST(1 AS DOUBLE) / ({RRF_K} + emb.emb_rank), 0),
          6) AS rrf_score
      FROM lex FULL OUTER JOIN emb
        ON lex.query_id = emb.query_id AND lex.doc_id = emb.doc_id
    )
    SELECT query_id, doc_id, lex_rank, emb_rank, rrf_score, fused_rank FROM (
      SELECT *, row_number() OVER (
               PARTITION BY query_id ORDER BY rrf_score DESC, doc_id ASC
             ) AS fused_rank
      FROM fused
    ) WHERE fused_rank <= {FUSED_K}
    """,
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: per query doc, fuse the dense cosine top-{EMB_K}
    and the lexical Jaccard top-{LEX_K} by RRF
    (sum of 1/({RRF_K}+rank) over the lists containing the doc) and keep
    the fused top-{FUSED_K}.

    Scale shape: the query block broadcasts on both sides (queries are
    request-sized, never corpus-sized); each side ranks inside its own
    per-query window over candidate rows only; the fusion join keys on
    (query_id, doc_id) over ≤ queries×(LEX_K+EMB_K) rows — driver-tiny.
    At 100 TB the two candidate generators swap to their indexed
    siblings (LSH buckets / IVF cells, shingle inverted index) without
    touching the fusion."""
    # dense side — exact cosine kernel, rank ≤ EMB_K
    e = table(spark, sf_dir, "embeddings")
    # staged (r12): base feeds both dense-side join
    # branches — one scan + ambiguity window instead of two
    base = stage(nz_base(e))
    q = base.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    c = base.select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    cosine = F.round(
        dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_nrm") * F.col("c_nrm")), 6
    )
    w_emb = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("doc_id"))
    emb = (
        F.broadcast(q)
        .join(c, F.col("doc_id") != F.col("query_id"))
        .select("query_id", "doc_id", cosine.alias("cosine"))
        .withColumn("emb_rank", F.row_number().over(w_emb))
        .where(F.col("emb_rank") <= EMB_K)
        .select("query_id", "doc_id", "emb_rank")
    )

    # lexical side — shingle Jaccard, rank ≤ LEX_K. Staged (r12): sh
    # feeds the broadcast query side AND the probe side — one
    # shingle pass instead of two.
    sh = stage(_shingled(spark, sf_dir))
    q_sh = sh.where(F.col("doc_id") < N_QUERIES).select(
        F.col("doc_id").alias("query_id"), F.col("sh").alias("q_sh")
    )
    inter = F.size(F.array_intersect("q_sh", "sh"))
    jac = F.round(
        inter.cast("double") / (F.size("q_sh") + F.size("sh") - inter), 6
    )
    w_lex = Window.partitionBy("query_id").orderBy(F.desc("jac"), F.asc("doc_id"))
    lex = (
        F.broadcast(q_sh)
        .join(sh, F.col("doc_id") != F.col("query_id"))
        .where(inter > 0)
        .select("query_id", "doc_id", jac.alias("jac"))
        .withColumn("lex_rank", F.row_number().over(w_lex))
        .where(F.col("lex_rank") <= LEX_K)
        .select("query_id", "doc_id", "lex_rank")
    )

    # fusion — RRF over the two rank lists (request-sized). Raw ranks are
    # staged under fresh names first: computing the score from a column
    # re-aliased in the SAME select would resolve against the lateral
    # (coalesced) alias and turn an absent rank into 1/(k+0).
    fused = (
        lex.join(emb, ["query_id", "doc_id"], "full_outer")
        .select(
            "query_id",
            "doc_id",
            F.col("lex_rank").alias("_lr"),
            F.col("emb_rank").alias("_er"),
        )
        .select(
            "query_id",
            "doc_id",
            F.coalesce("_lr", F.lit(0)).alias("lex_rank"),
            F.coalesce("_er", F.lit(0)).alias("emb_rank"),
            F.round(
                F.coalesce(F.lit(1.0) / (RRF_K + F.col("_lr")), F.lit(0.0))
                + F.coalesce(F.lit(1.0) / (RRF_K + F.col("_er")), F.lit(0.0)),
                6,
            ).alias("rrf_score"),
        )
    )
    w_f = Window.partitionBy("query_id").orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    return (
        fused.withColumn("fused_rank", F.row_number().over(w_f))
        .where(F.col("fused_rank") <= FUSED_K)
    )


# --- BM25 ranked retrieval ------------------------------------------------
# Okapi BM25 (Robertson et al.) — the corpus-statistics lexical scorer the
# Jaccard side of hybrid_search_rrf deliberately isn't: term rarity (idf),
# within-doc saturation (k1) and length normalization (b) instead of plain
# set overlap.
BM25_K1 = 1.2
BM25_B = 0.75
_K1P1 = 2.2  #: k1 + 1, as an explicit literal so both engines parse the
#: same double instead of folding 1.2 + 1 at different precisions
_B1M = 0.25  #: 1 - b (exact in binary)
BM25_TOPK = 5
_BM25_QUANT = 1_000_000

_BM25_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split({{norm}}, ' ') AS toks FROM documents
),
tf AS (
  SELECT doc_id, tok, count(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY 1, 2
),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
stats AS (
  SELECT count(*) AS n_docs, sum(dl) / count(*) AS avgdl FROM dl
),
dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
qterms AS (SELECT doc_id AS query_id, tok FROM tf WHERE doc_id < {{nq}}),
scored AS (
  SELECT q.query_id, c.doc_id,
         CAST(sum(CAST(floor(
           ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1)
             * (c.tf * {_K1P1})
             / (c.tf + {BM25_K1} * ({_B1M} + {BM25_B} * d.dl / s.avgdl))
             * {_BM25_QUANT}) AS BIGINT)) AS BIGINT) AS bm25_micro
  FROM qterms q
  JOIN tf c ON c.tok = q.tok AND c.doc_id <> q.query_id
  JOIN dfreq f ON f.tok = q.tok
  JOIN dl d ON d.doc_id = c.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
)
SELECT query_id, doc_id, bm25_micro, rank FROM (
  SELECT *, row_number() OVER (
           PARTITION BY query_id ORDER BY bm25_micro DESC, doc_id ASC
         ) AS rank
  FROM scored
) WHERE rank <= {BM25_TOPK}
"""


@register(
    "bm25_topk",
    oracle=_BM25_ORACLE.format(norm=_NORM_SQL, nq=N_QUERIES),
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-{BM25_TOPK} per query doc (vec_id-aligned query block,
    like the dense kernels): candidates come from the inverted-index
    equi-join on the term (only docs sharing a query term are scored —
    never all-pairs), corpus statistics (df, avgdl) are one vocab-keyed
    agg and one broadcast scalar row.

    Determinism: +,-,*,/ are IEEE-correctly-rounded so identical double
    inputs give identical results in both engines; the one libm step
    (idf's ln) is guarded by flooring each per-term score to integer
    MICRO-units before the per-doc sum (order-independent BIGINT adds —
    the doc_unigram_logprob discipline). Constants are spelled as the
    same literals on both sides ({_K1P1}, {_B1M}) so no engine folds
    1.2+1 differently."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split(_norm_col(), " ")).alias("tok"))
    # four consumers (dl, dfreq, qterms, candidate join) — materialize the
    # postings frame once instead of re-running the explode+agg per branch
    # (split normalization measured: no win here — the agg pipeline, not
    # the explode, bounds this query)
    tf = stage(toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf")))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = F.broadcast(
        dl.agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
        )
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    # query-term df block: request-sized after the broadcast-filter join
    qterms = tf.where(F.col("doc_id") < N_QUERIES).select(
        F.col("doc_id").alias("query_id"), "tok"
    )
    qdf = F.broadcast(qterms.join(dfreq, "tok"))
    cand = (
        qdf.join(tf, "tok")
        .where(F.col("doc_id") != F.col("query_id"))
        .join(dl, "doc_id")
        .crossJoin(stats)
    )
    idf = F.ln(
        (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        + F.lit(1)
    )
    term_score = (
        idf
        * (F.col("tf") * F.lit(_K1P1))
        / (
            F.col("tf")
            + F.lit(BM25_K1)
            * (F.lit(_B1M) + F.lit(BM25_B) * F.col("dl") / F.col("avgdl"))
        )
        * F.lit(_BM25_QUANT)
    )
    scored = (
        cand.select(
            "query_id",
            "doc_id",
            F.floor(term_score).cast("bigint").alias("s"),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("s").alias("bm25_micro"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("bm25_micro"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= BM25_TOPK)
        .select("query_id", "doc_id", "bm25_micro", "rank")
    )


# ── trigram-indexed substring search ────────────────────────────────────

#: literal search patterns (pg_trgm-style workload: "find every doc
#: containing this exact phrase"); no LIKE metacharacters by construction
TRIGRAM_PATTERNS = (
    "merge batch part",
    "vector stream join",
    "slow filter value",
    "big vector table",
)
#: posting lists intersected per pattern — the k rarest trigrams bound
#: the candidate stream (pg_trgm's selectivity heuristic, exact here)
TRIGRAM_N_RARE = 3


def _char_trigrams(col: str):
    """Distinct character 3-grams of a string column — pure codegen
    (sequence + transform + array_distinct), no Python in the scan."""
    return F.array_distinct(
        F.expr(
            f"transform(sequence(1, greatest(length({col}) - 2, 0)),"
            f" i -> substring({col}, i, 3))"
        )
    )


def _trigram_oracle() -> str:
    vals = ", ".join(f"('{p}')" for p in TRIGRAM_PATTERNS)
    return f"""
    SELECT p.pattern, d.doc_id
    FROM (VALUES {vals}) p(pattern)
    JOIN documents d ON d.text LIKE '%' || p.pattern || '%'
    """


@register("doc_trigram_search", oracle=_trigram_oracle())
def doc_trigram_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring search through a trigram inverted index (pg_trgm /
    Lucene-wildcard shape): docs → distinct character-trigram postings;
    each pattern intersects the posting lists of its ``TRIGRAM_N_RARE``
    RAREST trigrams (rarity = exact document frequency, ties by trigram
    text — deterministic); survivors are verified with an exact
    ``contains``. Complete by construction: a doc containing the pattern
    contains every one of its trigrams, so intersecting any subset never
    drops a match — the rarest-k choice only shrinks the candidate
    stream. The DuckDB oracle is the brute-force ``LIKE '%p%'`` scan —
    an independent formulation of the same predicate.

    Scale shape: ONE corpus pass feeds everything index-side — the
    pattern trigrams broadcast into the exploded postings stream as a
    map-side filter BEFORE any aggregation, so both the per-pattern DF
    stats and the candidate intersection aggregate the (persisted)
    pattern-relevant slice, never a corpus-wide trigram vocabulary
    (first cut aggregated the full vocabulary and re-scanned the corpus
    for candidates — 2 scans + a vocab shuffle, caught at 4.3 s/sf0.1).
    Verification is the only second scan, a broadcast hash join probing
    candidate docs. Nothing all-pairs, nothing driver-side.
    """
    docs = table(spark, sf_dir, "documents")
    return trigram_search(docs, TRIGRAM_PATTERNS)


def _trigram_candidates(docs: DataFrame, patterns, n_rare: int = TRIGRAM_N_RARE):
    """(pattern, doc_id) candidates: docs containing all ``n_rare``
    rarest trigrams of each pattern (rarity = exact doc frequency,
    ties by trigram text)."""
    pat_rows = [
        (p, tg)
        for p in patterns
        for tg in sorted({p[i : i + 3] for i in range(len(p) - 2)})
    ]
    pats = docs.sparkSession.createDataFrame(pat_rows, ["pattern", "tg"])
    from ._util import ensure_parallelism

    # split-normalize before the ~500×-row explode (no-op on a corpus
    # that already has splits; see ensure_parallelism)
    postings = ensure_parallelism(docs).select(
        "doc_id", F.explode(_char_trigrams("text")).alias("tg")
    )
    hits = stage(postings.join(F.broadcast(pats), "tg"))
    tgdf = hits.groupBy("pattern", "tg").agg(F.count("*").alias("df"))
    w = Window.partitionBy("pattern").orderBy(F.asc("df"), F.asc("tg"))
    rare = F.broadcast(
        tgdf.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= n_rare)
        .groupBy("pattern")
        .agg(F.collect_set("tg").alias("tgs"), F.count("*").alias("n_rare"))
        .select("pattern", F.explode("tgs").alias("tg"), "n_rare")
    )
    return (
        hits.join(rare, ["pattern", "tg"])
        .groupBy("pattern", "doc_id", "n_rare")
        .agg(F.count("*").alias("n_hit"))
        .where(F.col("n_hit") == F.col("n_rare"))
        .select("pattern", "doc_id")
    )


def trigram_search(docs: DataFrame, patterns, n_rare: int = TRIGRAM_N_RARE):
    """Index-accelerated exact substring search (see doc_trigram_search)."""
    cand = _trigram_candidates(docs, patterns, n_rare)
    return (
        docs.join(F.broadcast(cand), "doc_id")
        .where(F.contains("text", F.col("pattern")))
        .select("pattern", "doc_id")
    )


# --- positional proximity search ------------------------------------------
# The positional-index retrieval primitive (phrase/NEAR queries): an
# inverted index that keeps token POSITIONS, so "t1 NEAR/k t2" resolves
# as a per-document join between the two tokens' position lists with a
# min-|Δpos| aggregate — never a rescan of text. The query pair here is
# derived from the corpus itself (the two most frequent tokens, ranked
# by (count DESC, token ASC) — deterministic and regeneration-proof);
# a real deployment parameterizes it.
#
# Scale shape: the positional postings frame is (doc_id, tok, pos) —
# built map-side by posexplode in the same pass as any other index; the
# query selects TWO postings lists (token-pruned immediately after the
# explode), so the per-doc join is bounded by those tokens' occurrence
# counts, not document length. At 100 TB the postings persist
# token-bucketed (co-located equi-join per query term); the vocab-sized
# frequency window below is an index-build cost, not a query cost.

NEAR_WINDOW = 3  #: max |Δpos| for the within-window flag


@register(
    "doc_phrase_proximity",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks FROM documents
    ),
    pos AS (
      SELECT doc_id, unnest(toks) AS tok,
             unnest(generate_series(1, len(toks))) AS p
      FROM t
    ),
    freq AS (SELECT tok, count(*) AS c FROM pos GROUP BY tok),
    q AS (
      SELECT tok, rn FROM (
        SELECT tok, row_number() OVER (ORDER BY c DESC, tok ASC) AS rn
        FROM freq
      ) WHERE rn <= 2
    ),
    p1 AS (SELECT doc_id, p FROM pos JOIN q USING (tok) WHERE q.rn = 1),
    p2 AS (SELECT doc_id, p FROM pos JOIN q USING (tok) WHERE q.rn = 2)
    SELECT p1.doc_id,
           CAST(count(DISTINCT p1.p) AS BIGINT) AS n_t1,
           CAST(count(DISTINCT p2.p) AS BIGINT) AS n_t2,
           CAST(min(abs(p1.p - p2.p)) AS BIGINT) AS min_dist,
           CAST(min(abs(p1.p - p2.p)) <= {NEAR_WINDOW} AS INT) AS within_window
    FROM p1 JOIN p2 USING (doc_id)
    GROUP BY p1.doc_id
    """,
)
def doc_phrase_proximity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR/{NEAR_WINDOW} proximity over the positional index for the
    corpus's two most frequent tokens: per document containing both,
    their occurrence counts, the minimum position distance, and the
    within-window flag (see block comment for the scale shape)."""
    docs = table(spark, sf_dir, "documents")
    pos = (
        docs.select("doc_id", F.split(_norm_col(), " ").alias("toks"))
        .select("doc_id", F.posexplode("toks").alias("p0", "tok"))
        .select("doc_id", "tok", (F.col("p0") + 1).alias("p"))
    )
    freq = pos.groupBy("tok").agg(F.count("*").alias("c"))
    wq = Window.orderBy(F.desc("c"), F.asc("tok"))
    q = (
        freq.withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= 2)
        .select("tok", "rn")
    )
    hits = pos.join(F.broadcast(q), "tok")
    p1 = hits.where(F.col("rn") == 1).select("doc_id", F.col("p").alias("p1"))
    p2 = hits.where(F.col("rn") == 2).select("doc_id", F.col("p").alias("p2"))
    dist = F.abs(F.col("p1") - F.col("p2"))
    return (
        p1.join(p2, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.count_distinct("p1").cast("bigint").alias("n_t1"),
            F.count_distinct("p2").cast("bigint").alias("n_t2"),
            F.min(dist).cast("bigint").alias("min_dist"),
            (F.min(dist) <= NEAR_WINDOW).cast("int").alias("within_window"),
        )
    )
