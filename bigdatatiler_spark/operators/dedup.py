"""Deduplication operators for training-data pipelines.

Five dedup families, each a first-class engine operator (BASELINE.json
north star), all expressed Spark-first over the ``documents`` /
``embeddings`` tables:

- exact        — content-hash groupBy (normalize → md5 → groupBy)
- minhash LSH  — shingle → K minhash signatures → banded bucket join →
                 exact-Jaccard verification of candidates
- simhash      — 32-bit rotation-free fingerprint from token hashes
- n-gram Jaccard — blocked all-pairs word-set similarity
- embedding cosine — near-dup pairs above a cosine threshold

Scale design (100 TB): the LSH band join IS the scale path — candidate
generation is an equi-join on (band_id, band_key), linear in corpus size,
never all-pairs; only candidates pay the exact-Jaccard verification.
``band_pairs`` (the candidate rule) and ``verified_pairs`` (the e6
Jaccard check) are the one candidate and verify path: the MinHash
queries, graph.py's band edges and the streaming near-dedup fold all
call them. Their DuckDB twins are the oracle fragments: the
``shingled`` CTE (``_SHINGLED_SQL``), ``minhash_bands_sql`` (``sigs``
and ``bands``), ``band_pairs_sql`` (``cand``) and ``verified_pairs_sql``
(``verified``); every band-derived oracle here, in graph.py and in
linkgraph.py is built from them. The blocked Jaccard and brute-force
cosine variants are the small-side / verification kernels; their
docstrings note the LSH/IVF upgrade path.
All hashing is md5-based (not Spark's murmur3 `F.hash`) so signatures are
engine-independent and oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..registry import register
from ..tables import table
from ._util import int_ratio, stage
from .text import _NORM_SQL, _norm_col

# MinHash parameters: K hashes, B bands of R=2 rows → catches pairs with
# Jaccard ≳ (1/B)^(1/R) ≈ 0.35; verification threshold keeps true near-dups.
MINHASH_BANDS = 8
MINHASH_THRESHOLD = 0.6
NGRAM_THRESHOLD = 0.9
COSINE_THRESHOLD = 0.45
BLOCKED_COSINE_THRESHOLD = 0.35  # blocked variant keeps a fatter tail (bucketing already prunes)

#: hard input bound for the exact all-pairs kernels — above this, refuse and
#: point at the LSH-blocked sibling rather than launch an O(n²) join
EXACT_PAIRS_MAX_INPUT = 50_000


def _shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh): distinct word 3-shingles of the normalized text."""
    return shingle_frame(table(spark, sf_dir, "documents"))


def shingle_frame(docs: DataFrame) -> DataFrame:
    """Frame-level shingling — same transform as ``_shingled`` but over
    an arbitrary (doc_id, text, ...) frame, so streaming micro-batches
    (streaming/parity.py's near-dedup) shingle identically to the batch
    path."""
    from ._util import ensure_parallelism

    # split-normalize before the per-shingle md5 fan-out, which every
    # MinHash consumer pays (no-op on a corpus that already has splits;
    # see ensure_parallelism)
    d = ensure_parallelism(docs).select(
        "doc_id", F.split(_norm_col(), " ").alias("toks")
    ).where(F.size("toks") >= 3)
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size("toks") - 3),
            lambda i: F.concat_ws(" ", F.slice("toks", i + 1, 3)),
        )
    )
    return d.select("doc_id", shingles.alias("sh"))


# The shared oracle CTEs (``shingled`` here, ``sigs`` and ``bands`` in
# minhash_bands_sql) are MATERIALIZED: DuckDB otherwise inlines a CTE at
# every reference, so each band, join side and recursion step re-hashed
# every shingle.
_SHINGLED_SQL = f"""
  norm AS (
    SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks FROM documents
  ),
  shingled AS MATERIALIZED (
    SELECT doc_id,
           list_distinct([array_to_string(toks[i:i+2], ' ')
                          for i in generate_series(1, len(toks) - 2)]) AS sh
    FROM norm WHERE len(toks) >= 3
  )
"""


@register(
    "dedup_exact",
    oracle=f"""
    SELECT
      md5({_NORM_SQL}) AS content_hash,
      count(*)         AS n_docs,
      min(doc_id)      AS canonical_doc_id,
      min(n_chars)     AS min_chars
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: whitespace/case-normalize → md5 → hash-groupBy keeping
    the smallest doc_id as canonical. One shuffle on the 128-bit hash —
    uniformly distributed, skew-free at any scale."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(F.md5(_norm_col()).alias("content_hash"), "doc_id", "n_chars")
        .groupBy("content_hash")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("canonical_doc_id"),
            F.min("n_chars").alias("min_chars"),
        )
    )


# Signature family: K = 16 min-hashes from only 4 md5 calls per shingle —
# md5's 32 hex chars slice into 4 independent 32-bit (8-hex) sub-hashes,
# so group g, slice j gives signature s_{4g+j} = min over shingles of
# substr(md5(g|s), 8j+1, 8). Hash work drops 4× vs one md5 per signature
# with the same banding quality (32-bit sub-keys, 64-bit band keys).
MINHASH_GROUPS = 4
MINHASH_SLICES = 4


def _sig_indices() -> list[tuple[int, int, int]]:
    """(k, group, slice) for each of the K signatures."""
    return [
        (g * MINHASH_SLICES + j, g, j)
        for g in range(MINHASH_GROUPS)
        for j in range(MINHASH_SLICES)
    ]


def minhash_bands_sql() -> str:
    """DuckDB CTEs ``sigs`` + ``bands`` over the ``shingled`` CTE."""
    hash_cols = ",\n           ".join(
        f"[md5('{g}|' || s) for s in sh] AS h{g}" for g in range(MINHASH_GROUPS)
    )
    sig_cols = ",\n           ".join(
        f"list_sort([substr(h, {8 * j + 1}, 8) for h in h{g}])[1] AS s{k}"
        for k, g, j in _sig_indices()
    )
    band_selects = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, {j} AS band_id, md5(s{2 * j} || s{2 * j + 1}) AS band_key FROM sigs"
        for j in range(MINHASH_BANDS)
    )
    return f"""
    hashed AS (
      SELECT doc_id,
           {hash_cols}
      FROM shingled
    ),
    sigs AS MATERIALIZED (
      SELECT doc_id,
           {sig_cols}
      FROM hashed
    ),
    bands AS MATERIALIZED (
      {band_selects}
    )"""


def band_pairs_sql(source: str = "bands") -> str:
    """DuckDB CTE ``cand(doc_id_1, doc_id_2)``: the oracle twin of
    ``band_pairs`` over a (doc_id, band_id, band_key) CTE named
    ``source`` (the capped oracle passes its ``capped`` CTE)."""
    return f"""
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
      FROM {source} a
      JOIN {source} b ON a.band_id = b.band_id AND a.band_key = b.band_key
                  AND a.doc_id < b.doc_id
    )"""


def verified_pairs_sql() -> str:
    """DuckDB CTE ``verified(doc_id_1, doc_id_2, jaccard_e6)``: the
    oracle twin of ``verified_pairs`` — the ``cand`` pairs whose e6
    shingle Jaccard over the ``shingled`` CTE reaches MINHASH_THRESHOLD."""
    jaccard = (
        "(len(list_intersect(x.sh, y.sh)) * 1000000)"
        " // len(list_distinct(list_concat(x.sh, y.sh)))"
    )
    return f"""
    verified AS (
      SELECT c.doc_id_1, c.doc_id_2, {jaccard} AS jaccard_e6
      FROM cand c
      JOIN shingled x ON c.doc_id_1 = x.doc_id
      JOIN shingled y ON c.doc_id_2 = y.doc_id
      WHERE {jaccard} >= {int(MINHASH_THRESHOLD * 1000000)}
    )"""


def minhash_sigs(sh: DataFrame) -> DataFrame:
    """(doc_id, s0..s15) signature frame from a (doc_id, sh) shingle
    frame — the per-shingle md5s are computed once into arrays, then
    every signature is a cheap substring-min over those arrays (no
    repeated hashing across the K signatures)."""
    hash_cols = [
        F.transform(
            "sh",
            (lambda prefix: lambda s: F.md5(F.concat(F.lit(prefix), s)))(f"{g}|"),
        ).alias(f"h{g}")
        for g in range(MINHASH_GROUPS)
    ]
    hashed = sh.select("doc_id", *hash_cols)
    sig_cols = [
        F.array_min(
            F.transform(
                f"h{g}",
                (lambda off: lambda h: F.substring(h, off, 8))(8 * j + 1),
            )
        ).alias(f"s{k}")
        for k, g, j in _sig_indices()
    ]
    return hashed.select("doc_id", *sig_cols)


def minhash_bands(sh: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_key) from a (doc_id, sh) shingle frame.

    Shared candidate-generation kernel for dedup_minhash_lsh and the
    connected-components clustering."""
    sigs = minhash_sigs(sh)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(j).alias("band_id"),
                F.md5(F.concat(F.col(f"s{2 * j}"), F.col(f"s{2 * j + 1}"))).alias(
                    "band_key"
                ),
            )
            for j in range(MINHASH_BANDS)
        ]
    )
    return sigs.select("doc_id", F.explode(band_structs).alias("b")).select(
        "doc_id", "b.band_id", "b.band_key"
    )


def band_pairs(bands: DataFrame) -> DataFrame:
    """(doc_id_1, doc_id_2), doc_id_1 < doc_id_2: the distinct LSH
    candidate pairs of a (doc_id, band_id, band_key) frame — docs that
    share any bucket. Pairs that share several bands collapse to one
    row. The one candidate rule of the MinHash path (the oracles'
    ``cand`` CTE). Its self-join reads ``bands`` twice."""
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_1"), F.col("b.doc_id").alias("doc_id_2")
        )
        .distinct()
    )


def verified_pairs(cand: DataFrame, sh: DataFrame) -> DataFrame:
    """(doc_id_1, doc_id_2, jaccard_e6): the ``cand`` pairs whose exact
    shingle Jaccard reaches MINHASH_THRESHOLD. ``sh`` is the (doc_id, sh)
    shingle frame; it is read once per side."""
    pairs = cand.join(
        sh.select(F.col("doc_id").alias("doc_id_1"), F.col("sh").alias("sh1")),
        "doc_id_1",
    ).join(
        sh.select(F.col("doc_id").alias("doc_id_2"), F.col("sh").alias("sh2")),
        "doc_id_2",
    )
    # integer Jaccard on the e6 grid — the rounded-double form is the
    # midpoint-tie class (union sizes of 2^7·5^b land exactly on half
    # boundaries); the threshold compares on the same grid
    jaccard = int_ratio(
        F.size(F.array_intersect("sh1", "sh2")),
        F.size(F.array_union("sh1", "sh2")),
        6,
        "jaccard_e6",
    )
    return pairs.select("doc_id_1", "doc_id_2", jaccard).where(
        F.col("jaccard_e6") >= int(MINHASH_THRESHOLD * 1000000)
    )


# ── band-bucket blowup guard (r9 verdict item 6) ────────────────────────
# The 10× scaling study measured the minhash plan at 3.89× wall under a
# pathologically self-similar replica: every near-identical doc lands in
# the SAME (band_id, band_key) bucket, and a bucket of occupancy m emits
# m(m-1)/2 candidate pairs — one adversarial bucket (template spam, a
# boilerplate flood) turns the banded join quadratic at 100 TB. The cap
# bounds any bucket to BAND_BUCKET_CAP members via a DETERMINISTIC
# within-bucket sample (smallest md5(band_key||doc_id) first — uniform,
# engine-reproducible, and stable across runs), so worst-case candidates
# per bucket fall from m²/2 to cap²/2 while every kept member is an
# unbiased draw. Overflow handling is sample-within-bucket by design:
# members of a capped bucket are near-dups of EACH OTHER, so the kept
# sample still wires the duplicate cluster together through its other
# (uncapped) band buckets, and downstream connected components recover
# the full cluster; escalation-to-exact is the dedup_exact md5 path that
# already runs beside LSH. The registered dedup_minhash_lsh keeps
# cap=None (oracle-exact); dedup_minhash_bucket_audit makes occupancy
# and cap engagement a first-class, oracle-checked report, and
# tests/test_dedup_guards.py pins the cap engaging on a hostile
# all-near-identical corpus.
BAND_BUCKET_CAP = 64


def capped_bands(bands: DataFrame, cap: int = BAND_BUCKET_CAP) -> DataFrame:
    """Bound every (band_id, band_key) bucket to ``cap`` members (see
    block comment). One bucket-partitioned window — O(m log m) sort per
    bucket, never the m² pair join the cap exists to prevent."""
    w = Window.partitionBy("band_id", "band_key").orderBy(
        F.md5(F.concat(F.col("band_key"), F.col("doc_id").cast("string"))),
        F.col("doc_id"),
    )
    return (
        bands.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= cap)
        .drop("_rk")
    )


def _bucket_audit_oracle() -> str:
    return f"""
    WITH {_SHINGLED_SQL},
    {minhash_bands_sql()},
    occ AS (
      SELECT band_id, band_key, count(*) AS m
      FROM bands GROUP BY band_id, band_key
    )
    SELECT band_id,
           count(*) AS n_buckets,
           max(m) AS max_occupancy,
           CAST(sum(CASE WHEN m > {BAND_BUCKET_CAP} THEN 1 ELSE 0 END)
             AS BIGINT) AS overflow_buckets,
           CAST(sum((m * (m - 1)) // 2) AS BIGINT) AS pairs_uncapped,
           CAST(sum((least(m, {BAND_BUCKET_CAP})
                * (least(m, {BAND_BUCKET_CAP}) - 1)) // 2) AS BIGINT)
             AS pairs_capped
    FROM occ GROUP BY band_id
    """


@register("dedup_minhash_bucket_audit", oracle=_bucket_audit_oracle())
def dedup_minhash_bucket_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-band LSH bucket telemetry: bucket count, worst occupancy, how
    many buckets the BAND_BUCKET_CAP guard would cap, and the candidate
    pair count before/after the cap — the audit a 100 TB run reads
    BEFORE trusting the banded join's cost model (one adversarial bucket
    is invisible in aggregate timings until it is the whole stage). All
    integers from one groupBy over the bands frame; never materializes a
    pair."""
    occ = (
        minhash_bands(_shingled(spark, sf_dir))
        .groupBy("band_id", "band_key")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    capped = F.least(F.col("m"), F.lit(BAND_BUCKET_CAP))
    return occ.groupBy("band_id").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("m").alias("max_occupancy"),
        F.sum((F.col("m") > BAND_BUCKET_CAP).cast("long")).alias(
            "overflow_buckets"
        ),
        F.sum(F.expr("(m * (m - 1)) div 2")).alias("pairs_uncapped"),
        F.sum(
            F.expr(
                f"(least(m, {BAND_BUCKET_CAP})"
                f" * (least(m, {BAND_BUCKET_CAP}) - 1)) div 2"
            )
        ).alias("pairs_capped"),
    )


def _minhash_oracle() -> str:
    return f"""
    WITH {_SHINGLED_SQL},
    {minhash_bands_sql()},
    {band_pairs_sql()},
    {verified_pairs_sql()}
    SELECT doc_id_1, doc_id_2, jaccard_e6 FROM verified
    """


@register("dedup_minhash_lsh", oracle=_minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dedup: shingle → K=16 md5-minhash signatures →
    8 bands × 2 rows → equi-join on (band_id, band_key) for candidates →
    exact Jaccard ≥ 0.6 verification.

    The band join is the 100 TB path: candidates ∝ true near-dups, not
    corpus², and the join key is a uniform hash (no skew). md5 (not
    murmur3) keeps signatures engine-portable.

    The shingle frame feeds three plan branches (bands + both sides of
    the verification join) and the band frame two (self-join) — both are
    staged so shingling/minhashing runs once, not 3×/2× (and the lineage
    cut keeps every consumer's plan flat); at 100 TB these become staged
    intermediate tables (write once, read per branch)."""
    sh = stage(_shingled(spark, sf_dir))
    return verified_pairs(band_pairs(stage(minhash_bands(sh))), sh)


def _capped_minhash_oracle() -> str:
    return f"""
    WITH {_SHINGLED_SQL},
    {minhash_bands_sql()},
    capped AS (
      SELECT doc_id, band_id, band_key FROM (
        SELECT doc_id, band_id, band_key,
               row_number() OVER (
                 PARTITION BY band_id, band_key
                 ORDER BY md5(band_key || CAST(doc_id AS VARCHAR)), doc_id
               ) AS rk
        FROM bands
      ) WHERE rk <= {BAND_BUCKET_CAP}
    ),
    {band_pairs_sql("capped")},
    {verified_pairs_sql()}
    SELECT doc_id_1, doc_id_2, jaccard_e6 FROM verified
    """


@register("dedup_minhash_lsh_capped", oracle=_capped_minhash_oracle())
def dedup_minhash_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION form of the MinHash+LSH near-dedup at 100 TB: the
    band frame passes through ``capped_bands`` (BAND_BUCKET_CAP guard —
    see the blowup-guard block comment) before the candidate self-join,
    so no adversarial bucket can go quadratic. On honest corpora the cap
    never engages and the output equals ``dedup_minhash_lsh`` exactly;
    the oracle replays the identical deterministic within-bucket sample,
    so the driver hash stays exact EVEN when the cap engages."""
    # both frames are read twice (bands self-join, sh re-joined per side)
    sh = stage(_shingled(spark, sf_dir))
    return verified_pairs(band_pairs(stage(capped_bands(minhash_bands(sh)))), sh)


# Incoming-batch split for the incremental variant: every 10th doc plays
# the "new arrivals" role, the rest are the already-indexed corpus.
INCREMENTAL_BATCH_MOD = 10


def _incremental_oracle() -> str:
    # its own candidate join: new × old, not the symmetric self-join
    return f"""
    WITH {_SHINGLED_SQL},
    {minhash_bands_sql()},
    cand AS (
      SELECT DISTINCT n.doc_id AS doc_id_1, o.doc_id AS doc_id_2
      FROM bands n
      JOIN bands o ON n.band_id = o.band_id AND n.band_key = o.band_key
      WHERE n.doc_id % {INCREMENTAL_BATCH_MOD} = 0
        AND o.doc_id % {INCREMENTAL_BATCH_MOD} <> 0
    ),
    {verified_pairs_sql()}
    SELECT doc_id, dup_of, jaccard_e6 FROM (
      SELECT doc_id_1 AS doc_id, doc_id_2 AS dup_of, jaccard_e6,
             row_number() OVER (
               PARTITION BY doc_id_1 ORDER BY jaccard_e6 DESC, doc_id_2 ASC
             ) AS rn
      FROM verified
    ) WHERE rn = 1
    """


@register("dedup_incremental_minhash", oracle=_incremental_oracle())
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time dedup: match an incoming batch against the already-
    indexed corpus WITHOUT rescoring the corpus against itself — for each
    new doc, its best corpus near-dup (Jaccard ≥ 0.6), or no row if it's
    novel.

    This is the shape a training pipeline actually runs day to day: the
    corpus's band index (minhash_bands output) is a persisted table built
    once and appended to; each arriving batch computes ITS bands only and
    equi-joins the index on (band_id, band_key). Cost per ingest is
    O(batch × bands + collisions) — corpus size only enters through
    bucket occupancy, never a corpus×corpus term, and the batch side of
    the join broadcasts when the batch is small. Here both roles are
    carved from the documents table (doc_id mod {INCREMENTAL_BATCH_MOD})
    so the oracle can replay the split."""
    sh = stage(_shingled(spark, sf_dir))
    bands = stage(minhash_bands(sh))
    is_batch = F.col("doc_id") % INCREMENTAL_BATCH_MOD == 0
    cand = (
        bands.where(is_batch)
        .alias("n")
        .join(
            bands.where(~is_batch).alias("o"),
            (F.col("n.band_id") == F.col("o.band_id"))
            & (F.col("n.band_key") == F.col("o.band_key")),
        )
        .select(
            F.col("n.doc_id").alias("doc_id_1"), F.col("o.doc_id").alias("doc_id_2")
        )
        .distinct()
    )
    w = Window.partitionBy("doc_id_1").orderBy(F.desc("jaccard_e6"), F.asc("doc_id_2"))
    return (
        verified_pairs(cand, sh)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("doc_id_1").alias("doc_id"),
            F.col("doc_id_2").alias("dup_of"),
            "jaccard_e6",
        )
    )


# Benchmark-set split for decontamination: every 53rd doc plays the held-
# out eval set; a coprime-to-10 modulus keeps it independent of the
# incremental-batch split above.
DECONTAM_BENCH_MOD = 53
DECONTAM_THRESHOLD = 0.1  # flag docs with ≥ 10% benchmark-shingle containment


def _decontam_oracle() -> str:
    return f"""
    WITH {_SHINGLED_SQL},
    bgrams AS (
      SELECT DISTINCT unnest(sh) AS gram FROM shingled
      WHERE doc_id % {DECONTAM_BENCH_MOD} = 0
    ),
    corpus AS (
      SELECT doc_id, sh FROM shingled WHERE doc_id % {DECONTAM_BENCH_MOD} <> 0
    ),
    overlap AS (
      SELECT g.doc_id, count(*) AS n_overlap
      FROM (SELECT doc_id, unnest(sh) AS gram FROM corpus) g
      JOIN bgrams b USING (gram)
      GROUP BY g.doc_id
    )
    SELECT c.doc_id,
           len(c.sh) AS n_grams,
           o.n_overlap,
           (o.n_overlap * 1000000) // len(c.sh) AS contamination_e6
    FROM corpus c JOIN overlap o USING (doc_id)
    WHERE (o.n_overlap * 1000000) // len(c.sh) >= {int(DECONTAM_THRESHOLD * 1000000)}
    """


@register("decontaminate_ngram_overlap", oracle=_decontam_oracle())
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs whose shingle set is
    mostly contained in the held-out benchmark set's n-grams — the
    eval-leakage check every serious pretraining pipeline runs (n-gram
    CONTAINMENT, not symmetric Jaccard: a short benchmark prompt buried
    in a long doc must still flag).

    Scale shape: the benchmark side is tiny by nature (eval suites are
    KBs against a 100 TB corpus), so its distinct-gram set BROADCASTS;
    the corpus side is one explode → broadcast-hash semi-match → per-doc
    partial count — no corpus shuffle except the doc_id aggregate, which
    map-side combines. Here the benchmark role is doc_id mod
    {DECONTAM_BENCH_MOD} so the oracle replays the split."""
    sh = stage(_shingled(spark, sf_dir))
    is_bench = F.col("doc_id") % DECONTAM_BENCH_MOD == 0
    bgrams = (
        sh.where(is_bench).select(F.explode("sh").alias("gram")).distinct()
    )
    # n_grams rides through the aggregate key (constant per doc_id), so
    # the corpus is exploded and shuffled exactly once — no second join
    # back against the shingle frame.
    overlap = (
        sh.where(~is_bench)
        .select("doc_id", F.size("sh").alias("n_grams"), F.explode("sh").alias("gram"))
        .join(F.broadcast(bgrams), "gram")
        .groupBy("doc_id", "n_grams")
        .agg(F.count("*").alias("n_overlap"))
    )
    contamination = int_ratio(
        F.col("n_overlap"), F.col("n_grams"), 6, "contamination_e6"
    )
    return (
        overlap.select("doc_id", "n_grams", "n_overlap", contamination)
        .where(F.col("contamination_e6") >= int(DECONTAM_THRESHOLD * 1000000))
    )


def _simhash_oracle() -> str:
    bit_cols = ",\n           ".join(
        "list_sum([CASE WHEN substr(h, {pos}, 1) IN ('8','9','a','b','c','d','e','f')"
        " THEN 1 ELSE -1 END for h in hashes]) AS b{j}".format(pos=j + 1, j=j)
        for j in range(32)
    )
    value = " + ".join(f"(CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(32))
    return f"""
    WITH norm AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks FROM documents
    ),
    hashed AS (
      SELECT doc_id, [md5(t) for t in toks] AS hashes FROM norm
    ),
    bits AS (
      SELECT doc_id,
           {bit_cols}
      FROM hashed
    )
    SELECT doc_id, CAST({value} AS BIGINT) AS simhash
    FROM bits
    """


@register("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints: 32-bit signature where bit j is the sign of
    sum_tokens(±1) keyed off md5 hex digit j's high bit. Near-dup docs
    (small token-set deltas) land at small Hamming distance; bucketing on
    bit-ranges gives the scale path (same banding trick as LSH). Pure
    array expressions — token hashes computed once per doc, no explode, no
    shuffle for the fingerprint itself."""
    docs = table(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id",
        F.transform(F.split(_norm_col(), " "), lambda t: F.md5(t)).alias("hashes"),
    )
    # ONE fold with a 32-wide accumulator (r12, measured 3.3 → 2.4 s at
    # sf0.1): the previous shape ran 32 separate interpreted aggregate()
    # folds, each re-walking the whole hash array per doc. The digit
    # high-bit test is `>= '8'` — md5() emits lowercase hex, where
    # {8,9,a..f} are exactly the code points ≥ '8' — bit-identical to the
    # isin() form (0 mismatches over the corpus, oracle-pinned).
    sums = F.aggregate(
        "hashes",
        F.array_repeat(F.lit(0), 32),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(1), F.lit(32)),
                lambda i: F.when(
                    F.substring(h, i, 1) >= F.lit("8"), 1
                ).otherwise(-1),
            ),
            lambda x, y: x + y,
        ),
    )
    bits = hashed.select("doc_id", sums.alias("s"))
    value = None
    for j in range(32):
        term = F.when(
            F.element_at(F.col("s"), j + 1) > 0, F.lit(1 << j)
        ).otherwise(F.lit(0))
        value = term if value is None else value + term
    return bits.select("doc_id", value.cast("bigint").alias("simhash"))


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang, source,
             list_distinct(string_split({_NORM_SQL}, ' ')) AS toks
      FROM documents
    )
    SELECT
      a.doc_id AS doc_id_1,
      b.doc_id AS doc_id_2,
      a.lang,
      a.source,
      (len(list_intersect(a.toks, b.toks)) * 1000000)
        // len(list_distinct(list_concat(a.toks, b.toks))) AS jaccard_e6
    FROM d a
    JOIN d b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE (len(list_intersect(a.toks, b.toks)) * 1000000)
            // len(list_distinct(list_concat(a.toks, b.toks)))
          >= {int(NGRAM_THRESHOLD * 1000000)}
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked n-gram (word-set) Jaccard with a length-bucketed block key.

    Blocking key = (lang, source, floor(log2(|distinct tokens|))) with
    ±1-bucket probing — the quadratic term is bounded by the size of a
    (lang, source, length-octave) cell, not a whole (lang, source) block,
    so block size no longer grows with the corpus' largest language.

    The length filter is lossless: Jaccard ≥ 0.9 forces the token-set
    sizes within ratio 1/0.9 < 2, so a qualifying pair spans at most one
    factor-2 bucket boundary. Probing is an equi-join — the probe side
    replicates each doc to buckets {b−1, b, b+1} and the build side keys
    on its own bucket, so every candidate pair matches on exactly one key
    (no dedup pass needed) and the shuffle stays hash-partitioned. The
    oracle remains plain all-pairs-per-(lang, source); the driver's hash
    compare is what proves the bucketing drops no qualifying pair.
    floor(log2(n)) on integer n is exact in IEEE double on both engines
    (only powers of two have integer log2, where log2 is exact)."""
    from ._util import ensure_parallelism, nd_zero

    docs = table(spark, sf_dir, "documents")
    # split-normalize BEFORE the pair join: a single-file local corpus
    # arrives as one split, and the broadcast-join probe side inherits the
    # scan's partitioning — without this every candidate pair's set
    # intersection ran on ONE core (r12, measured; the round-3 aHash
    # lesson). No-op decision on a real multi-file corpus.
    # staged: d feeds both join sides — one tokenize pass (and one
    # repartition) instead of two
    d = stage(
        ensure_parallelism(docs)
        .select(
            "doc_id",
            "lang",
            "source",
            F.array_distinct(F.split(_norm_col(), " ")).alias("toks"),
        )
        .withColumn("lb", F.floor(F.log2(F.size("toks"))))
    )
    a = d.alias("a")
    b = d.select(
        F.col("doc_id").alias("doc_id_2"),
        F.col("lang").alias("lang_b"),
        F.col("source").alias("source_b"),
        F.col("toks").alias("toks_b"),
        F.explode(
            F.array(F.col("lb") - 1, F.col("lb"), F.col("lb") + 1)
        ).alias("lb_probe"),
    )
    # nd_zero pushdown barrier (r12, measured): without it the threshold
    # WHERE folds into the join condition, where the intersect/union set
    # ops run for every hash-matched pair BEFORE the cheap doc_id<
    # conjunct and run AGAIN in the projection for survivors — three set
    # walks per emitted pair. With the barrier the join keeps only the
    # cheap conjuncts and the Jaccard runs once per ordered candidate.
    jaccard = int_ratio(
        F.size(F.array_intersect("toks", "toks_b")) + nd_zero(),
        F.size(F.array_union("toks", "toks_b")),
        6,
        "jaccard_e6",
    )
    return (
        a.join(
            b,
            (F.col("lang") == F.col("lang_b"))
            & (F.col("source") == F.col("source_b"))
            & (F.col("lb") == F.col("lb_probe"))
            & (F.col("doc_id") < F.col("doc_id_2")),
        )
        .select(
            F.col("doc_id").alias("doc_id_1"),
            "doc_id_2",
            "lang",
            "source",
            jaccard,
        )
        .where(F.col("jaccard_e6") >= int(NGRAM_THRESHOLD * 1000000))
    )


_DOT64 = (
    "list_reduce([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)"
    " for i in generate_series(1, 64)], (x, y) -> x + y)"
)
_NORM_A = (
    "sqrt(list_reduce([CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)"
    " for i in generate_series(1, 64)], (x, y) -> x + y))"
)
_NORM_B = (
    "sqrt(list_reduce([CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)"
    " for i in generate_series(1, 64)], (x, y) -> x + y))"
)


# oracle universe = _EMB_NZ verbatim (fuzz 6: the inline copy here had
# drifted — no max-abs bound, no len=64 — the same drift class fuzz 4
# found on dedup_embedding_lsh_blocked; the Spark side is nz_base)
from .similarity import _EMB_NZ as _EMB_NZ_SQL  # noqa: E402


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    SELECT
      a.vec_id AS vec_id_1,
      b.vec_id AS vec_id_2,
      round({_DOT64} / ({_NORM_A} * {_NORM_B}), 6) AS cosine
    FROM {_EMB_NZ_SQL} a
    JOIN {_EMB_NZ_SQL} b ON a.vec_id < b.vec_id
    WHERE round({_DOT64} / ({_NORM_A} * {_NORM_B}), 6) >= {COSINE_THRESHOLD}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: pairs with cosine ≥ threshold. Brute-force
    all-pairs here (verification kernel); the scale path buckets vectors
    with random-hyperplane LSH first (see similarity.py) so the pair join
    is band-blocked exactly like MinHash. Dot/norm are sequential
    left-folds in double — deterministic and engine-identical.

    Guarded: all-pairs is O(n²) by construction, so this kernel refuses
    inputs past ``EXACT_PAIRS_MAX_INPUT`` vectors instead of silently
    launching a corpus² nested-loop join on a real corpus — use
    ``dedup_embedding_lsh_blocked`` (same threshold family, bucketed
    equi-join) as the production path. The count gate is one
    metadata-only parquet job, not a collect of data rows."""
    e = table(spark, sf_dir, "embeddings")
    n = e.count()
    if n > EXACT_PAIRS_MAX_INPUT:
        raise ValueError(
            f"dedup_embedding_cosine is the exact verification kernel and is "
            f"capped at {EXACT_PAIRS_MAX_INPUT} vectors (got {n}); run "
            f"dedup_embedding_lsh_blocked for corpus-scale near-dup detection"
        )

    from .similarity import dot as _dot

    # the shared cosine universe — fuzz 6 found this was ANOTHER inline
    # drift (zero-norm only; ragged/huge-component vectors leaked in):
    # both sides now use nz_base/_EMB_NZ verbatim
    from .similarity import nz_base

    withnorm = nz_base(e)
    # r12 measured fix (33 → ~1 s at sf0.1), two independent pathologies:
    # 1. AQE coalesces nz_base's tiny post-window shuffle (2000 rows,
    #    <1 MB) to ONE partition, so the O(n²) nested-loop stage ran on
    #    one core. An explicit-N repartition of the STREAM side is never
    #    AQE-coalesced (the distributed_rank lesson); n² work now spreads
    #    over every core. The build side stays broadcast — repartitioning
    #    metadata-sized rows costs nothing at any scale.
    par = spark.sparkContext.defaultParallelism
    a = withnorm.repartition(par).select(
        F.col("vec_id").alias("vec_id_1"),
        F.col("embedding").alias("emb_1"),
        F.col("nrm").alias("nrm_1"),
    )
    b = withnorm.select(
        F.col("vec_id").alias("vec_id_2"),
        F.col("embedding").alias("emb_2"),
        F.col("nrm").alias("nrm_2"),
    )
    # 2. The WHERE on the computed cosine was pushed into the BNLJ join
    #    condition, evaluating the 64-element fold for all n² ordered
    #    pairs and AGAIN in the projection for the n²/2 survivors (3
    #    fold evaluations per emitted pair). `+ rand(42)*0.0` is an
    #    arithmetic no-op (adds +0.0; any -0.0 dot it could flip rounds
    #    into the filtered-out range) whose nondeterminism legally blocks
    #    the pushdown (the guide's expensive-UDF trick, applied to an
    #    expensive expression): the join condition keeps only the cheap
    #    id comparison and the fold runs ONCE per candidate pair.
    cosine = F.round(
        (_dot(F.col("emb_1"), F.col("emb_2")) + F.rand(42) * F.lit(0.0))
        / (F.col("nrm_1") * F.col("nrm_2")),
        6,
    )
    return (
        a.join(b, F.col("vec_id_1") < F.col("vec_id_2"))
        .select("vec_id_1", "vec_id_2", cosine.alias("cosine"))
        .where(F.col("cosine") >= COSINE_THRESHOLD)
    )


def _lsh_blocked_oracle() -> str:
    from .similarity import _EMB_NZ, _lsh_bucket_sql

    return f"""
    WITH bucketed AS (
      SELECT e.vec_id, e.embedding, {_lsh_bucket_sql('e')} AS bucket
      FROM {_EMB_NZ} e
    )
    SELECT
      a.vec_id AS vec_id_1,
      b.vec_id AS vec_id_2,
      a.bucket,
      round({_DOT64} / ({_NORM_A} * {_NORM_B}), 6) AS cosine
    FROM bucketed a
    JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE round({_DOT64} / ({_NORM_A} * {_NORM_B}), 6) >= {BLOCKED_COSINE_THRESHOLD}
    """


@register("dedup_embedding_lsh_blocked", oracle=_lsh_blocked_oracle())
def dedup_embedding_lsh_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup, LSH-blocked — the 100 TB path for
    dedup_embedding_cosine: vectors hash to random-hyperplane sign
    buckets, the pair join becomes an equi-join on the bucket key, and
    only bucket-mates pay the exact cosine. Candidate count scales with
    bucket occupancy (corpus/2^bits per bucket in expectation), not
    corpus²; recall recovers via multi-probe or a second hash table, the
    same band trick as MinHash."""
    from .similarity import lsh_bucket, nz_base

    e = table(spark, sf_dir, "embeddings")

    from .similarity import dot as _dot  # shared fold kernel

    # both sides of the self-join read this frame — stage it so the 8
    # hyperplane projections per vector run once. The universe is the
    # SHARED nz_base (zero-norm, non-finite, huge-component vectors
    # excluded) — an inline copy of the filter here silently drifted
    # from the oracle's _EMB_NZ when fuzz round 4 added the
    # huge-component bound (948 vs 233 rows on hostile content).
    bucketed = stage(
        nz_base(e).select(
            "vec_id",
            "embedding",
            "nrm",
            lsh_bucket("embedding").alias("bucket"),
        )
    )
    a = bucketed.select(
        F.col("vec_id").alias("vec_id_1"),
        F.col("embedding").alias("emb_1"),
        F.col("nrm").alias("nrm_1"),
        "bucket",
    )
    b = bucketed.select(
        F.col("vec_id").alias("vec_id_2"),
        F.col("embedding").alias("emb_2"),
        F.col("nrm").alias("nrm_2"),
        F.col("bucket").alias("bucket_2"),
    )
    # nd_zero pushdown barrier (r12, measured): without it the threshold
    # WHERE folds into the join condition AHEAD of the vec_id< conjunct —
    # every bucket-mate pair paid the 64-term fold in BOTH orders, and
    # survivors paid it again in the projection (the exact pathology the
    # r12 dedup_embedding_cosine fix documented). +0.0 is an arithmetic
    # no-op; round() is unchanged by it.
    from ._util import nd_zero

    cosine = F.round(
        (_dot(F.col("emb_1"), F.col("emb_2")) + nd_zero())
        / (F.col("nrm_1") * F.col("nrm_2")),
        6,
    )
    return (
        a.join(
            b,
            (F.col("bucket") == F.col("bucket_2"))
            & (F.col("vec_id_1") < F.col("vec_id_2")),
        )
        .select("vec_id_1", "vec_id_2", "bucket", cosine.alias("cosine"))
        .where(F.col("cosine") >= BLOCKED_COSINE_THRESHOLD)
    )


@register(
    "dedup_edit_distance",
    oracle="""
    SELECT a.p_partkey AS key_1, b.p_partkey AS key_2,
           levenshtein(a.p_name, b.p_name) AS dist
    FROM part a
    JOIN part b
      ON a.p_type = b.p_type AND a.p_brand = b.p_brand
     AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 2
    """,
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy matching: near-identical names (Levenshtein
    1-2) within a blocking key. Completes the dedup family with the
    string-metric member — minhash/simhash catch token-level overlap,
    edit distance catches character-level typos. Blocking on
    (p_type, p_brand) bounds the candidate set to within-block pairs —
    the same candidate-generation discipline as the LSH dedups: never
    corpus², and the block key is the join key, so the self-join
    shuffles each side once. distance 0 (exact dupes) is excluded —
    that's dedup_exact's job; the key inequality halves the pairs.

    Per-pair cost is bounded two ways, both distance-preserving: a
    length-difference guard (|len a − len b| ≤ 2 is implied by dist ≤ 2)
    rejects pairs before any DP runs, and the surviving pairs use
    Spark's thresholded levenshtein(l, r, 2) — banded O(n·k) with early
    exit instead of the full O(n²) matrix. The result set is unchanged,
    so the oracle (full levenshtein) still hash-matches."""
    cols = ("p_partkey", "p_name", "p_type", "p_brand")
    a = table(spark, sf_dir, "part").select(*cols)
    b = (
        table(spark, sf_dir, "part")
        .select(*cols)
        .toDF(*(f"{c}_2" for c in cols))
    )
    len_guard = (
        F.abs(F.length("p_name") - F.length("p_name_2")) <= F.lit(2)
    )
    # nd_zero pushdown barrier (r12, measured): without it the BETWEEN
    # filter folds into the join condition AHEAD of the cheap conjuncts —
    # the banded DP ran twice (>=1, <=2) for every block-mate pair BEFORE
    # the id/length guards pruned anything, and once more in the
    # projection for survivors. With the barrier the join keeps only the
    # cheap guards and the DP runs once per guarded pair. floor(int+0.0)
    # is the identical integer.
    from ._util import nd_zero

    dist = F.floor(
        F.levenshtein(F.col("p_name"), F.col("p_name_2"), 2) + nd_zero()
    ).cast("int")
    return (
        a.join(
            b,
            (F.col("p_type") == F.col("p_type_2"))
            & (F.col("p_brand") == F.col("p_brand_2"))
            & (F.col("p_partkey") < F.col("p_partkey_2"))
            & len_guard,
        )
        .select(
            F.col("p_partkey").alias("key_1"),
            F.col("p_partkey_2").alias("key_2"),
            dist.alias("dist"),
        )
        .where(F.col("dist").between(1, 2))
    )


# --- exact set-similarity join via prefix filtering -----------------------
# The deterministic complement to MinHash banding: for Jaccard ≥ t, two
# shingle sets MUST share a token among each one's first
# |d| - ceil(t·|d|) + 1 tokens in any fixed global order (rarest-first
# maximizes pruning) — so joining on PREFIX tokens only generates every
# qualifying pair with NO false negatives (banding is probabilistic and
# can miss), while the rarest-first order keeps candidate fan-out near
# the theoretical minimum. Threshold 3/5 keeps every comparison in
# integers: prefix length (3n+4) div 5, size bound 5·min ≥ 3·max,
# verification 5·|A∩B| ≥ 3·|A∪B| — no float ever reaches the hash.
PREFIX_JACCARD_NUM = 3
PREFIX_JACCARD_DEN = 5


def _prefix_filter_oracle() -> str:
    tn, td = PREFIX_JACCARD_NUM, PREFIX_JACCARD_DEN
    return f"""
    WITH {_SHINGLED_SQL},
    tok AS (
      SELECT doc_id, len(sh) AS n, unnest(sh) AS t FROM shingled
    ),
    freq AS (SELECT t, count(*) AS cnt FROM tok GROUP BY t),
    ordered AS (
      SELECT doc_id, n, t,
             row_number() OVER (
               PARTITION BY doc_id ORDER BY cnt ASC, t ASC
             ) AS pos
      FROM tok JOIN freq USING (t)
    ),
    prefix AS (
      SELECT doc_id, n, t FROM ordered
      WHERE pos <= n - (({tn}*n + {td - 1}) // {td}) + 1
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
      FROM prefix a JOIN prefix b
        ON a.t = b.t AND a.doc_id < b.doc_id
       AND {td} * least(a.n, b.n) >= {tn} * greatest(a.n, b.n)
    )
    SELECT c.doc_id_1, c.doc_id_2,
           len(list_intersect(x.sh, y.sh)) AS n_common,
           len(list_distinct(list_concat(x.sh, y.sh))) AS n_union
    FROM cand c
    JOIN shingled x ON c.doc_id_1 = x.doc_id
    JOIN shingled y ON c.doc_id_2 = y.doc_id
    WHERE {td} * len(list_intersect(x.sh, y.sh))
          >= {tn} * len(list_distinct(list_concat(x.sh, y.sh)))
    """


@register("dedup_prefix_filter_jaccard", oracle=_prefix_filter_oracle())
def dedup_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard ≥ {PREFIX_JACCARD_NUM}/{PREFIX_JACCARD_DEN} pairs via
    prefix filtering (PPJoin-style): guaranteed-complete candidate
    generation, unlike MinHash banding's probabilistic recall — run this
    where misses are unacceptable (compliance-grade dedup), banding where
    cheapest-possible candidates win.

    Scale shape: token frequencies are one vocab-keyed aggregate; the
    rarest-first per-doc ordering is a window PARTITIONED BY doc_id
    (groups bounded by doc size, never corpus-wide); only prefix tokens
    — the rarest few per doc — explode into the equi-join, with the
    {PREFIX_JACCARD_DEN}·min ≥ {PREFIX_JACCARD_NUM}·max length bound
    pruning at the join; verification touches candidates only. Every
    shuffle keys on token or doc_id. All-integer thresholds end to end."""
    tn, td = PREFIX_JACCARD_NUM, PREFIX_JACCARD_DEN
    sh = stage(_shingled(spark, sf_dir))
    tok = sh.select("doc_id", F.size("sh").alias("n"), F.explode("sh").alias("t"))
    freq = tok.groupBy("t").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("doc_id").orderBy(F.asc("cnt"), F.asc("t"))
    ordered = tok.join(freq, "t").withColumn("pos", F.row_number().over(w))
    # NOT checkpointed (r12, measured): cutting prefix here looks like the
    # standard shared-branch stage, but it measures 4.2 → 9.7 s — the two
    # consumers prune to the same thin columns anyway, and the cut forces
    # the explode+window subtree to materialize serially before either
    # join side starts, where uncut plans overlap the broadcast build with
    # the probe-side scan.
    prefix = ordered.where(
        F.col("pos") <= F.col("n") - F.expr(f"({tn}*n + {td - 1}) div {td}") + 1
    )
    a = prefix.select(
        F.col("doc_id").alias("doc_id_1"),
        F.col("n").alias("n1"),
        F.col("pos").alias("pos1"),
        "t",
    )
    b = prefix.select(
        F.col("doc_id").alias("doc_id_2"),
        F.col("n").alias("n2"),
        F.col("pos").alias("pos2"),
        "t",
    )
    # PPJoin POSITIONAL filter (r13, Xiao et al. §3.2): Jaccard ≥ tn/td
    # ⟺ overlap I ≥ ⌈tn(n1+n2)/(tn+td)⌉. For the FIRST shared token in
    # the global (df, t) order, matched at positions (pos1, pos2), every
    # other common token sits in BOTH suffixes, so
    # I ≤ 1 + min(n1−pos1, n2−pos2). Keeping a match only when that bound
    # can still reach the threshold — (tn+td)·(1+min(suffixes)) ≥
    # tn·(n1+n2), all integers — prunes candidates the length bound
    # admits, with NO false negatives: a qualifying pair's first shared
    # prefix token always passes (later shared tokens may fail the
    # first-token bound, but the pair is already generated by the first).
    # The exact verification below is unchanged, so results are identical;
    # the oracle (plain all-pairs) proves completeness via the hash.
    cand = (
        a.join(
            b,
            (a["t"] == b["t"])
            & (F.col("doc_id_1") < F.col("doc_id_2"))
            & (td * F.least("n1", "n2") >= tn * F.greatest("n1", "n2"))
            & (
                (tn + td)
                * (
                    F.lit(1)
                    + F.least(
                        F.col("n1") - F.col("pos1"), F.col("n2") - F.col("pos2")
                    )
                )
                >= tn * (F.col("n1") + F.col("n2"))
            ),
        )
        .select("doc_id_1", "doc_id_2")
        .distinct()
    )
    x = sh.select(F.col("doc_id").alias("doc_id_1"), F.col("sh").alias("sh1"))
    y = sh.select(F.col("doc_id").alias("doc_id_2"), F.col("sh").alias("sh2"))
    # nd_zero pushdown barrier (r12): keeps the threshold WHERE from
    # folding into the verification join, where the intersect/union set
    # walks would run once in the join condition and AGAIN in the
    # projection (see dedup_ngram_jaccard). floor() of the exact small
    # int +0.0 is the identical integer.
    from ._util import nd_zero

    n_common = F.floor(F.size(F.array_intersect("sh1", "sh2")) + nd_zero()).cast("int")
    n_union = F.size(F.array_union("sh1", "sh2"))
    return (
        cand.join(x, "doc_id_1")
        .join(y, "doc_id_2")
        .select(
            "doc_id_1",
            "doc_id_2",
            n_common.alias("n_common"),
            n_union.alias("n_union"),
        )
        .where(td * F.col("n_common") >= tn * F.col("n_union"))
    )


# ── shingle-containment join ────────────────────────────────────────────

#: containment threshold 4/5 as an exact rational (never a float)
CONTAIN_NUM, CONTAIN_DEN = 4, 5


def _containment_oracle() -> str:
    return f"""
    WITH norm AS (
      SELECT doc_id, lang, source, string_split({_NORM_SQL}, ' ') AS toks
      FROM documents
    ),
    d AS (
      SELECT doc_id, lang, source,
             list_distinct([array_to_string(toks[i:i+2], ' ')
                            for i in generate_series(1, len(toks) - 2)]) AS sh
      FROM norm WHERE len(toks) >= 3
    )
    SELECT a.doc_id AS doc_id_1,
           b.doc_id AS doc_id_2,
           a.lang, a.source,
           (len(list_intersect(a.sh, b.sh)) * 1000000)
             // least(len(a.sh), len(b.sh)) AS containment_e6
    FROM d a
    JOIN d b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE {CONTAIN_DEN} * len(list_intersect(a.sh, b.sh))
          >= {CONTAIN_NUM} * least(len(a.sh), len(b.sh))
    """


@register("dedup_shingle_containment", oracle=_containment_oracle())
def dedup_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment (overlap-coefficient) near-dup join: pairs where the
    SMALLER doc's shingle set is ≥ 4/5 inside the other's — the
    snippet-inclusion / quoted-reuse case that resemblance metrics
    (Jaccard, MinHash) structurally miss when sizes differ (a 10-shingle
    quote inside a 500-shingle article has Jaccard ≈ 0.02). No length
    filter is admissible — disparate sizes are the point — so candidate
    generation is PPJoin-style PREFIX FILTERING on the containment bound:
    order shingles globally by (document frequency, shingle); if
    |S∩L| ≥ ⌈4|S|/5⌉ then at most ⌊|S|/5⌋ of S's shingles miss L, so
    among the ⌊|S|/5⌋+1 RAREST shingles of the smaller doc at least one
    hits the larger doc's inverted index — an equi-join on (shingle,
    lang, source), never all-pairs. Exact verification with the 5·|∩| ≥
    4·min integer grid; containment_e6 floor-scaled (de-float rule).
    The oracle is the plain blocked all-pairs statement — the driver's
    hash compare proves prefix filtering drops no qualifying pair.

    Scale notes: candidate volume is Σ prefix-shingle df within each
    (lang, source) block; on adversarial corpora whose rare-shingle df
    is still high, PPJoin's positional and suffix filters tighten the
    same skeleton without changing the join shape."""
    from ._util import ensure_parallelism, int_ratio

    docs = table(spark, sf_dir, "documents")
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size("toks") - 3),
            lambda i: F.concat_ws(" ", F.slice("toks", i + 1, 3)),
        )
    )
    d = stage(
        ensure_parallelism(docs)
        .select("doc_id", "lang", "source", F.split(_norm_col(), " ").alias("toks"))
        .where(F.size("toks") >= 3)
        .select("doc_id", "lang", "source", shingles.alias("sh"))
        .withColumn("n", F.size("sh"))
    )
    ex = d.select("doc_id", "lang", "source", "n", F.explode("sh").alias("s"))
    sdf = ex.groupBy("s").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("s"))
    prefix = (
        ex.join(sdf, "s")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= F.expr(f"(n div {CONTAIN_DEN}) + 1"))
        .select(
            F.col("doc_id").alias("doc_a"),
            "lang",
            "source",
            F.col("n").alias("n_a"),
            "s",
        )
    )
    full = ex.select(
        F.col("doc_id").alias("doc_b"),
        "lang",
        "source",
        F.col("n").alias("n_b"),
        "s",
    )
    smaller_first = (F.col("n_a") < F.col("n_b")) | (
        (F.col("n_a") == F.col("n_b")) & (F.col("doc_a") < F.col("doc_b"))
    )
    cand = (
        prefix.join(full, ["s", "lang", "source"])
        .where(smaller_first)
        .select(
            F.least("doc_a", "doc_b").alias("doc_id_1"),
            F.greatest("doc_a", "doc_b").alias("doc_id_2"),
            "lang",
            "source",
        )
        .distinct()
    )
    p = d.select(F.col("doc_id").alias("doc_id_1"), F.col("sh").alias("sh1"), F.col("n").alias("n1"))
    q = d.select(F.col("doc_id").alias("doc_id_2"), F.col("sh").alias("sh2"), F.col("n").alias("n2"))
    # nd_zero pushdown barrier (r12): materialize the intersection size
    # ONCE per candidate — without it the threshold predicate folds into
    # the verification join and the set walk runs there AND again in the
    # containment_e6 projection (see dedup_ngram_jaccard).
    from ._util import nd_zero

    inter = F.floor(F.size(F.array_intersect("sh1", "sh2")) + nd_zero()).cast("int")
    return (
        cand.join(p, "doc_id_1")
        .join(q, "doc_id_2")
        .select(
            "doc_id_1",
            "doc_id_2",
            "lang",
            "source",
            inter.alias("_inter"),
            F.least("n1", "n2").alias("_nmin"),
        )
        .where(
            F.lit(CONTAIN_DEN) * F.col("_inter")
            >= F.lit(CONTAIN_NUM) * F.col("_nmin")
        )
        .select(
            "doc_id_1",
            "doc_id_2",
            "lang",
            "source",
            int_ratio(F.col("_inter"), F.col("_nmin"), 6, "containment_e6"),
        )
    )


# --- MinHash estimator-quality audit ----------------------------------------
# The estimate-vs-truth pattern (cf. sketch_kmv_join_estimate) applied
# to MinHash: for every LSH candidate pair, the SIGNATURE-estimated
# Jaccard (matching components / K, permille) next to the EXACT shingle
# Jaccard (permille) and the absolute error — the calibration readout
# that tells an operator whether K=16 signatures are enough for the
# corpus before trusting the banding recall at 100 TB. All integers;
# candidates come from the same band equi-join as the dedup itself, so
# the audit costs one extra signature join, never all-pairs.


def _minhash_audit_oracle() -> str:
    k = MINHASH_GROUPS * MINHASH_SLICES
    match_sum = " + ".join(
        f"(CASE WHEN x.s{i} = y.s{i} THEN 1 ELSE 0 END)" for i in range(k)
    )
    # its own verify: permille estimate beside exact Jaccard, no threshold
    return f"""
    WITH {_SHINGLED_SQL},
    {minhash_bands_sql()},
    {band_pairs_sql()}
    SELECT
      c.doc_id_1,
      c.doc_id_2,
      CAST((({match_sum}) * 1000) // {k} AS BIGINT) AS est_permille,
      CAST((len(list_intersect(p.sh, q.sh)) * 1000)
           // len(list_distinct(list_concat(p.sh, q.sh))) AS BIGINT)
        AS exact_permille,
      CAST(abs((({match_sum}) * 1000) // {k}
               - (len(list_intersect(p.sh, q.sh)) * 1000)
                 // len(list_distinct(list_concat(p.sh, q.sh)))) AS BIGINT)
        AS err_permille
    FROM cand c
    JOIN sigs x ON c.doc_id_1 = x.doc_id
    JOIN sigs y ON c.doc_id_2 = y.doc_id
    JOIN shingled p ON c.doc_id_1 = p.doc_id
    JOIN shingled q ON c.doc_id_2 = q.doc_id
    """


@register("dedup_minhash_estimate_audit", oracle=_minhash_audit_oracle())
def dedup_minhash_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-estimated vs exact Jaccard per LSH candidate pair (see
    block comment). Plan: the shingle/signature frames are persisted and
    feed the band self-join plus two equi-joins back — the same staged
    shape as dedup_minhash_lsh with one extra broadcast-sized join."""
    k = MINHASH_GROUPS * MINHASH_SLICES
    sh = stage(_shingled(spark, sf_dir))
    sigs = stage(minhash_sigs(sh))
    cand = band_pairs(minhash_bands(sh))
    x = sigs.select(
        F.col("doc_id").alias("doc_id_1"),
        *[F.col(f"s{i}").alias(f"x{i}") for i in range(k)],
    )
    y = sigs.select(
        F.col("doc_id").alias("doc_id_2"),
        *[F.col(f"s{i}").alias(f"y{i}") for i in range(k)],
    )
    p = sh.select(F.col("doc_id").alias("doc_id_1"), F.col("sh").alias("sh1"))
    q = sh.select(F.col("doc_id").alias("doc_id_2"), F.col("sh").alias("sh2"))
    joined = (
        cand.join(x, "doc_id_1").join(y, "doc_id_2").join(p, "doc_id_1").join(
            q, "doc_id_2"
        )
    )
    matches = None
    for i in range(k):
        term = (F.col(f"x{i}") == F.col(f"y{i}")).cast("long")
        matches = term if matches is None else matches + term
    est = F.floor(matches * 1000 / F.lit(k)).cast("bigint")
    exact = int_ratio(
        F.size(F.array_intersect("sh1", "sh2")),
        F.size(F.array_union("sh1", "sh2")),
        3,
        "exact_permille",
    )
    return joined.select(
        "doc_id_1",
        "doc_id_2",
        est.alias("est_permille"),
        exact,
    ).withColumn(
        "err_permille",
        F.abs(F.col("est_permille") - F.col("exact_permille")).cast("bigint"),
    )


# ── TF-IDF cosine near-dup (lexical-profile pairs) ──────────────────────
# The fourth near-dup modality: MinHash catches shared SHINGLE SETS,
# embedding-cosine catches SEMANTIC paraphrase, SimHash catches hash-
# profile proximity — TF-IDF cosine catches documents with the same
# WEIGHTED VOCABULARY (boilerplate variants, template expansions,
# re-ordered copies) even when word order (shingles) differs entirely.
#
# Candidate generation is RARE-BIGRAM blocking, never all-pairs: only
# bigrams shared by 2..TFIDF_PAIR_DF_CAP documents generate pairs (a
# phrase shared by few documents is discriminative evidence; one shared
# by everyone is not — and bigram document-frequency is sparse even when
# the unigram vocabulary is tiny, as in the driver corpus, where NO
# unigram is rare). Each blocking bigram yields at most DF_CAP^2 pairs,
# so candidates scale linearly in the bigram vocabulary, never
# quadratically in corpus — the standard blocking trade-off, recall
# bounded exactly like the LSH family (a near-dup pair sharing only
# ubiquitous phrases is boilerplate, not duplication).
#
# Determinism (registry rules): idf is floored to integer MICRO-units
# BEFORE any product (the bm25/tfidf ulp discipline), weights are exact
# tf·idf_micro BIGINTs, dot products and squared norms ride
# DECIMAL(38,0)/HUGEINT (hostile tf ~ 1e3 · idf ~ 1e7 squares past
# int64 — the corr moment discipline), and the final cosine is floored
# to e6 from exact integer moments (sqrt/divide are correctly rounded
# IEEE on identical inputs).

TFIDF_PAIR_DF_CAP = 10       #: blocking bigrams: shared by 2..10 documents
TFIDF_PAIR_THRESHOLD_E6 = 600_000  #: emit pairs with cosine >= 0.6

_TFIDF_W_SQL = f"""
    toks AS (
      SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS token
      FROM documents WHERE text IS NOT NULL
    ),
    tf AS (
      SELECT doc_id, token, count(*) AS tf FROM toks
      WHERE token <> '' GROUP BY 1, 2
    ),
    df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    w AS (
      SELECT tf.doc_id, tf.token, df.df,
             tf.tf * CAST(floor((ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0)
                                * 1000000) AS BIGINT) AS wt
      FROM tf JOIN df USING (token) CROSS JOIN n
    ),
    norms AS (
      SELECT doc_id, sum(CAST(wt AS HUGEINT) * wt) AS norm2
      FROM w GROUP BY 1
    )
"""


@register(
    "dedup_tfidf_cosine",
    oracle=f"""
    WITH {_TFIDF_W_SQL},
    bg AS (
      SELECT doc_id,
             unnest(list_distinct([t[i] || ' ' || t[i + 1]
                                   for i in generate_series(1, len(t) - 1)])) AS b
      FROM (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t
            FROM documents WHERE text IS NOT NULL)
      WHERE len(t) >= 2
    ),
    bdf AS (SELECT b, count(*) AS bdf FROM bg GROUP BY 1),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bg x JOIN bdf USING (b)
      JOIN bg y ON x.b = y.b AND x.doc_id < y.doc_id
      WHERE bdf.bdf BETWEEN 2 AND {TFIDF_PAIR_DF_CAP}
    ),
    dots AS (
      SELECT c.doc_a, c.doc_b,
             sum(CAST(wa.wt AS HUGEINT) * wb.wt) AS num,
             count(*) AS n_shared_terms
      FROM cand c
      JOIN w wa ON wa.doc_id = c.doc_a
      JOIN w wb ON wb.doc_id = c.doc_b AND wb.token = wa.token
      GROUP BY 1, 2
    )
    SELECT d.doc_a, d.doc_b, d.n_shared_terms,
           CAST(floor(CAST(d.num AS DOUBLE)
                      / (sqrt(CAST(na.norm2 AS DOUBLE))
                         * sqrt(CAST(nb.norm2 AS DOUBLE))) * 1000000)
                AS BIGINT) AS cosine_e6
    FROM dots d
    JOIN norms na ON na.doc_id = d.doc_a
    JOIN norms nb ON nb.doc_id = d.doc_b
    WHERE CAST(floor(CAST(d.num AS DOUBLE)
                     / (sqrt(CAST(na.norm2 AS DOUBLE))
                        * sqrt(CAST(nb.norm2 AS DOUBLE))) * 1000000)
               AS BIGINT) >= {TFIDF_PAIR_THRESHOLD_E6}
    """,
)
def dedup_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by TF-IDF cosine over the weighted
    vocabulary, with rare-term candidate blocking (see block comment).

    Plan shape: tf/df/norms are the doc- and vocab-keyed aggregates the
    keyword extractor already uses; candidates come from ONE equi-join
    on the df-capped blocking BIGRAMS (bounded fan-out per bigram,
    linear in the bigram vocabulary); the exact rerank joins each
    candidate pair back to its two unigram weight vectors on
    (doc, token) — every join equi-keyed, nothing all-pairs, the 1-row
    corpus count broadcast. At 100 TB the blocking join IS the LSH-band
    pattern with bigram document-frequency as the band-occupancy cap."""
    docs = table(spark, sf_dir, "documents")
    toks = (
        docs.where(F.col("text").isNotNull())
        .select("doc_id", F.explode(F.split(_norm_col(), " ")).alias("token"))
        .where(F.col("token") != "")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    idf_micro = F.floor(
        (F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
         + F.lit(1.0)) * 1_000_000
    ).cast("bigint")
    # staged (r12, measured): w feeds FOUR plan branches
    # (both sides of the rerank join + both norm joins) and norms two —
    # without the cuts the toks-explode + tf/df aggregates + the global
    # count replayed per branch (4 identical SinglePartition count(1)
    # subtrees in the audited plan; 1 after). Same staged-intermediate
    # pattern as dedup_minhash_lsh's shingle frame.
    w = stage(
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "token", "df", (F.col("tf") * idf_micro).alias("wt"))
    )
    norms = stage(
        w.groupBy("doc_id").agg(
            F.sum(F.col("wt").cast("decimal(38,0)") * F.col("wt")).alias("norm2")
        )
    )
    wa = w.select(
        F.col("doc_id").alias("doc_a"), "token", F.col("wt").alias("wt_a")
    )
    wb = w.select(
        F.col("doc_id").alias("doc_b"), "token", F.col("wt").alias("wt_b")
    )
    t = docs.where(F.col("text").isNotNull()).select(
        "doc_id", F.split(_norm_col(), " ").alias("t")
    ).where(F.size("t") >= 2)
    bigrams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size("t") - 2),
            lambda i: F.concat_ws(" ", F.slice("t", i + 1, 2)),
        )
    )
    bg = t.select("doc_id", F.explode(bigrams).alias("b"))
    bdf = bg.groupBy("b").agg(F.count("*").alias("bdf"))
    # cut: blocked feeds both sides of the candidate self-join — one
    # bigram explode + bdf aggregate instead of two
    blocked = stage(
        bg.join(bdf.where(F.col("bdf").between(2, TFIDF_PAIR_DF_CAP)), "b")
    )
    cand = (
        blocked.select(F.col("doc_id").alias("doc_a"), "b")
        .join(blocked.select(F.col("doc_id").alias("doc_b"), "b"), "b")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    dots = (
        cand.join(wa, "doc_a")
        .join(wb, ["doc_b", "token"])
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(F.col("wt_a").cast("decimal(38,0)") * F.col("wt_b")).alias("num"),
            F.count("*").alias("n_shared_terms"),
        )
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("norm2").alias("n2a"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("norm2").alias("n2b"))
    cos = F.floor(
        F.col("num").cast("double")
        / (F.sqrt(F.col("n2a").cast("double")) * F.sqrt(F.col("n2b").cast("double")))
        * 1_000_000
    ).cast("bigint")
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", "n_shared_terms", cos.alias("cosine_e6"))
        .where(F.col("cosine_e6") >= TFIDF_PAIR_THRESHOLD_E6)
    )
