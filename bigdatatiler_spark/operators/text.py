"""Text-analysis operators for training-data pipelines.

Language-ID (stopword/n-gram heuristic), quality scoring, token counting,
and document fingerprinting (bottom-k sketch) — all pure built-in column
expressions (codegen'd, no Python in the hot path), each oracle-checked.

At 100 TB these are embarrassingly parallel map-side operators: no
shuffles except the final profile aggregations, and every one runs in the
same scan pass as ingest filtering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..registry import register
from ..tables import table
from ._util import int_ratio, stage

# ASCII-only case fold, NOT lower(): full Unicode case mapping is
# locale/library-defined and legitimately differs between engines (JVM
# lower('İ') → 'i'+U+0307 combining dot, utf8proc → 'i'; Java applies the
# contextual final-sigma rule to 'ΣΙΣΥΦΟΣ', utf8proc does not — fuzz 9).
# A reproducible 100 TB pipeline needs tokenizer keys that do not depend
# on which Unicode tailoring the executor links, so the normalizer folds
# [A-Z] only and leaves non-ASCII case as content.
# Whitespace is the EXPLICIT class [ \t\n\r\x0B\f], not \s: Java's \s
# includes \x0B (vertical tab) but RE2's does not, so '\s+' collapses
# 'a\x0Bb' on Spark only — one stray VT would shift every token count
# (and, through pack_training_sequences' prefix sum, every subsequent
# document's placement). Pinning the class makes both engines identical
# (ADVICE r9; hostile-fixture axis injects \x0B to keep it pinned).
_NORM_SQL = "translate(trim(regexp_replace(text, '[ \\t\\n\\r\\x0B\\f]+', ' ', 'g')), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')"
#: words treated as English function-word markers by the heuristic
_EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")
STOPWORD_RATIO_EN = 0.05


def _norm_col():
    return F.translate(F.trim(F.regexp_replace("text", r"[ \t\n\r\x0B\f]+", " ")), "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz")


@register(
    "doc_token_stats",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, source, n_chars, text,
             string_split({_NORM_SQL}, ' ') AS toks
      FROM documents
    )
    SELECT
      doc_id, lang, source, n_chars,
      len(toks) AS n_tokens,
      len(list_distinct(toks)) AS n_distinct_tokens,
      CAST((list_sum([length(x) for x in toks]) * 10000) // len(toks)
        AS BIGINT) AS avg_token_len_e4,
      (len(list_distinct(toks)) * 10000) // len(toks)
        AS ttr_e4,
      length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS n_punct
    FROM t
    """,
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality signals: token count, vocabulary size,
    mean token length (e4), type-token ratio (e4), punctuation density.
    Ratios emit as (num·10^4) div den — pure integer arithmetic, immune
    to the round(double) midpoint-tie divergence class (an int/int
    quotient routinely lands on an exact decimal midpoint, where the two
    engines' half-up implementations disagree — observed at sf0.1 on
    doc_quality_score). This is the whitespace tokenizer; the BPE-ish
    regex tokenizer is in functions/tokenize.py (doc_bpe_token_counts)."""
    docs = table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "lang", "source", "n_chars", "text", F.split(_norm_col(), " ").alias("toks")
    )
    n_tok = F.size("toks")
    n_distinct = F.size(F.array_distinct("toks"))
    sum_len = F.aggregate("toks", F.lit(0), lambda acc, x: acc + F.length(x))
    return t.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        n_tok.cast("bigint").alias("n_tokens"),
        n_distinct.cast("bigint").alias("n_distinct_tokens"),
        int_ratio(sum_len, n_tok, 4, "avg_token_len_e4"),
        int_ratio(n_distinct, n_tok, 4, "ttr_e4"),
        F.length(F.regexp_replace("text", r"[^.!?,;:]", "")).cast("bigint").alias("n_punct"),
    )


def _stopword_hits_sql() -> str:
    in_list = ", ".join(f"'{w}'" for w in _EN_STOPWORDS)
    return f"len(list_filter(toks, x -> x IN ({in_list})))"


@register(
    "doc_lang_id",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, string_split({_NORM_SQL}, ' ') AS toks
      FROM documents
    )
    SELECT
      doc_id,
      lang AS labeled_lang,
      {_stopword_hits_sql()} AS en_stopword_hits,
      ({_stopword_hits_sql()} * 10000) // len(toks) AS en_stopword_ratio_e4,
      CASE WHEN CAST({_stopword_hits_sql()} AS DOUBLE) / len(toks) >= {STOPWORD_RATIO_EN}
           THEN 'en' ELSE 'und' END AS predicted_lang
    FROM t
    """,
)
def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: function-word (stopword) hit ratio → 'en' vs
    undetermined. A real deployment extends the marker lists per language
    and scores char n-grams the same way — the plan shape (map-only filter
    pass) is identical."""
    docs = table(spark, sf_dir, "documents")
    t = docs.select("doc_id", "lang", F.split(_norm_col(), " ").alias("toks"))
    hits = F.size(F.filter("toks", lambda x: x.isin(*_EN_STOPWORDS)))
    ratio = hits.cast("double") / F.size("toks")
    return t.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        hits.cast("bigint").alias("en_stopword_hits"),
        int_ratio(hits, F.size("toks"), 4, "en_stopword_ratio_e4"),
        F.when(ratio >= STOPWORD_RATIO_EN, "en").otherwise("und").alias("predicted_lang"),
    )


@register(
    "doc_fingerprint_bottomk",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct([array_to_string(toks[i:i+2], ' ')
                            for i in generate_series(1, len(toks) - 2)]) AS shingles
      FROM t WHERE len(toks) >= 3
    )
    SELECT
      doc_id,
      array_to_string(list_sort([md5(s) for s in shingles])[1:4], ',') AS fingerprint,
      len(shingles) AS n_shingles
    FROM sh
    """,
)
def doc_fingerprint_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: bottom-4 sketch over shingle hashes (the
    order-statistics cousin of minhash — union/containment estimable from
    sketch overlap). Rolling-hash winnowing reduces to the same
    min-over-window selection; bottom-k keeps it engine-portable."""
    docs = table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.split(_norm_col(), " ").alias("toks")).where(
        F.size("toks") >= 3
    )
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size("toks") - 3),
            lambda i: F.concat_ws(" ", F.slice("toks", i + 1, 3)),
        )
    )
    sh = t.select("doc_id", shingles.alias("shingles"))
    return sh.select(
        "doc_id",
        F.array_join(
            F.slice(F.array_sort(F.transform("shingles", lambda s: F.md5(s))), 1, 4), ","
        ).alias("fingerprint"),
        F.size("shingles").cast("bigint").alias("n_shingles"),
    )


@register(
    "corpus_language_profile",
    oracle="""
    SELECT
      lang,
      source,
      count(*) AS n_docs,
      CAST(sum(n_chars) AS BIGINT) AS total_chars,
      CAST((sum(n_chars) * 10000) // count(*) AS BIGINT) AS avg_chars_e4,
      min(n_chars) AS min_chars,
      max(n_chars) AS max_chars
    FROM documents
    GROUP BY lang, source
    """,
)
def corpus_language_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profile: per-(lang, source) document statistics — the
    monitoring aggregation every ingest pipeline runs. Integer sums →
    exact; single small shuffle. The mean is emitted as a ×1e4-scaled
    integer (pure integer division on both engines) so no float division
    reaches the comparison hash — this row was driver-divergent in round
    2 while byte-exact locally; integers remove the whole rounding-
    representation divergence class."""
    docs = table(spark, sf_dir, "documents")
    return docs.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.expr("(sum(n_chars) * 10000) div count(*)").alias("avg_chars_e4"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


# --- quality scoring ------------------------------------------------------

_QUALITY_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, source, text, n_chars,
             string_split({_NORM_SQL}, ' ') AS toks
      FROM documents
    )
    , terms AS (
      SELECT doc_id, source,
        ({_stopword_hits_sql()} * 10000) // len(toks) AS stopword_ratio_e4,
        (length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 10000)
          // greatest(n_chars, 1) AS alpha_ratio_e4,
        (length(regexp_replace(text, '[^.!?,;:]', '', 'g')) * 10000)
          // greatest(n_chars, 1) AS punct_ratio_e4,
        least(({_stopword_hits_sql()} * 20 * 10000) // len(toks), 10000)
          AS stop_term_e4,
        least(len(toks) * 200, 10000) AS len_term_e4
      FROM t
    )
    SELECT doc_id, source,
      stopword_ratio_e4, alpha_ratio_e4, punct_ratio_e4,
      (4 * stop_term_e4 + 3 * alpha_ratio_e4 + 3 * len_term_e4) // 10
        AS quality_score_e4,
      CASE
        WHEN (4 * stop_term_e4 + 3 * alpha_ratio_e4 + 3 * len_term_e4) // 10
             >= 8000 THEN 'high'
        WHEN (4 * stop_term_e4 + 3 * alpha_ratio_e4 + 3 * len_term_e4) // 10
             >= 5000 THEN 'medium'
        ELSE 'low'
      END AS quality_tier
    FROM terms
    """


def quality_frame(docs: DataFrame) -> DataFrame:
    """Frame-level quality scoring — the transform behind
    ``doc_quality_score``, factored out (r11) so streaming micro-batches
    (streaming/parity.py's quality parity) score identically to the
    batch path."""
    t = docs.select(
        "doc_id", "source", "text", "n_chars", F.split(_norm_col(), " ").alias("toks")
    )
    n_tok = F.size("toks")
    hits = F.size(F.filter("toks", lambda x: x.isin(*_EN_STOPWORDS)))
    alpha = F.length(F.regexp_replace("text", r"[^A-Za-z]", ""))
    punct = F.length(F.regexp_replace("text", r"[^.!?,;:]", ""))
    # every term lives on the e4 integer grid: the stopword term saturates
    # at ratio 0.05 (×20), the length term at 50 tokens (×200), and the
    # 0.4/0.3/0.3 weights are 4/3/3 over 10 — the whole
    # score is exact integer arithmetic end to end (this query is where
    # the round(double) midpoint-tie divergence was OBSERVED at sf0.1)
    terms = t.select(
        "doc_id",
        "source",
        int_ratio(hits, n_tok, 4, "stopword_ratio_e4"),
        # greatest(n_chars, 1): empty documents score 0, never divide by 0
        int_ratio(alpha, F.greatest("n_chars", F.lit(1)), 4, "alpha_ratio_e4"),
        int_ratio(punct, F.greatest("n_chars", F.lit(1)), 4, "punct_ratio_e4"),
        F.least(int_ratio(hits * 20, n_tok, 4, "_"), F.lit(10000)).alias(
            "stop_term_e4"
        ),
        F.least(n_tok.cast("bigint") * 200, F.lit(10000)).alias("len_term_e4"),
    )
    score = F.expr(
        "(4 * stop_term_e4 + 3 * alpha_ratio_e4 + 3 * len_term_e4) div 10"
    )
    return terms.select(
        "doc_id",
        "source",
        "stopword_ratio_e4",
        "alpha_ratio_e4",
        "punct_ratio_e4",
        score.alias("quality_score_e4"),
        F.when(score >= 8000, "high")
        .when(score >= 5000, "medium")
        .otherwise("low")
        .alias("quality_tier"),
    )


@register("doc_quality_score", oracle=_QUALITY_ORACLE)
def doc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring for training-data filtering: stopword
    ratio (fluency proxy), alphabetic-character ratio (boilerplate/noise
    proxy), saturating length term — combined into a weighted [0,1] score
    and a high/medium/low tier. Map-only pass, no shuffle; at 100 TB this
    is the pre-dedup corpus filter, and the tier column is the natural
    partition for downstream sampling. Every ratio is one int/int
    division and the score one fixed-order double expression →
    engine-deterministic."""
    return quality_frame(table(spark, sf_dir, "documents"))


# --- rolling-hash fingerprint --------------------------------------------

ROLL_BASE = 1_000_003  # polynomial base (prime)
ROLL_MOD = 2_147_483_647  # 2^31 - 1 (Mersenne prime)


@register(
    "doc_rolling_hash",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks FROM documents
    )
    SELECT
      doc_id,
      -- NULL text -> NULL fingerprint (fuzz 6): without the CASE,
      -- list_prepend(0, NULL) is [0] and the fold yields 0, while
      -- Spark's aggregate() over a NULL array stays NULL
      CASE WHEN toks IS NULL THEN NULL ELSE
      list_reduce(
        list_prepend(CAST(0 AS BIGINT),
          [CAST(('0x' || substr(md5(x), 1, 8))::UBIGINT % {ROLL_MOD} AS BIGINT)
           for x in toks]),
        (h, c) -> (h * {ROLL_BASE} + c) % {ROLL_MOD}
      ) END AS fingerprint,
      len(toks) AS n_tokens
    FROM t
    """,
)
def doc_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting via a Karp-Rabin-style polynomial rolling
    hash over the token stream: h ← (h·B + tok) mod M, tokens mapped to
    ints through an md5 prefix (engine-portable, unlike builtin hash()).
    Order-sensitive — permuted documents get different fingerprints,
    unlike bag-of-shingle schemes (doc_fingerprint_bottomk); windowed
    variants of the same recurrence give substring-match fingerprints.
    One fold per document, map-only, no shuffle."""
    docs = table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.split(_norm_col(), " ").alias("toks"))
    tok_int = lambda x: (
        F.conv(F.substring(F.md5(x), 1, 8), 16, 10).cast("bigint") % ROLL_MOD
    )
    fingerprint = F.aggregate(
        "toks",
        F.lit(0).cast("bigint"),
        lambda h, x: (h * ROLL_BASE + tok_int(x)) % ROLL_MOD,
    )
    return t.select(
        "doc_id",
        fingerprint.alias("fingerprint"),
        F.size("toks").cast("bigint").alias("n_tokens"),
    )


# Sequence packing: concat-and-chunk into fixed context windows, per
# shard. Shards pack independently (each trainer worker packs its own
# slice at 100 TB — a single global cumulative sum would serialize on one
# partition), so the window below partitions by shard, never the corpus.
PACK_CTX = 2048  # tokens per training context window
PACK_SHARDS = 32


@register(
    "pack_token_budget",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             doc_id % {PACK_SHARDS} AS shard,
             len(string_split({_NORM_SQL}, ' ')) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, shard, n_tokens,
             sum(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum_tokens
      FROM t
    )
    SELECT doc_id, shard, n_tokens,
           CAST(cum_tokens - n_tokens AS BIGINT) AS start_offset,
           CAST((cum_tokens - n_tokens) // {PACK_CTX} AS BIGINT) AS first_chunk,
           CAST((cum_tokens - 1) // {PACK_CTX} AS BIGINT) AS last_chunk
    FROM c
    """,
)
def pack_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for pretraining: documents concatenate in doc_id
    order within each shard and chunk into PACK_CTX-token context
    windows; each doc's output row says where its tokens land
    (start_offset, first/last chunk — last > first means the doc spans a
    window boundary).

    The packing itself is one windowed cumulative sum PARTITIONED BY
    SHARD: every shard packs independently and in parallel, which is how
    distributed data prep actually runs (a global pack order would both
    serialize the window into one partition and break resumability).
    Integer token counts → the running sum is order-deterministic."""
    docs = table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
        F.size(F.split(_norm_col(), " ")).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    # pure integer division (both operands non-negative ints) — no DOUBLE
    # ever reaches the comparison hash (round-2 driver red row)
    return (
        t.select(
            "doc_id",
            "shard",
            "n_tokens",
            (cum - F.col("n_tokens")).alias("start_offset"),
            (cum - 1).alias("__end_offset"),
        )
        .withColumn("first_chunk", F.expr(f"start_offset div {PACK_CTX}"))
        .withColumn("last_chunk", F.expr(f"__end_offset div {PACK_CTX}"))
        .drop("__end_offset")
    )


# Gopher-style repetition filters: flag docs dominated by one token or by
# repeated bigrams. Thresholds are corpus-tuned constants; the signals
# (top-token fraction, duplicate-bigram fraction) are the standard ones.
REP_TOP_TOKEN_MAX = 0.12
REP_DUP_BIGRAM_MAX = 0.05


@register(
    "doc_repetition_stats",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks FROM documents
    ),
    counts AS (
      SELECT doc_id, tok, count(*) AS cnt
      FROM (SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY doc_id, tok
    ),
    top AS (
      SELECT doc_id, tok AS top_token, cnt AS top_cnt FROM (
        SELECT doc_id, tok, cnt,
               row_number() OVER (
                 PARTITION BY doc_id ORDER BY cnt DESC, tok ASC
               ) AS rn
        FROM counts
      ) WHERE rn = 1
    ),
    stats AS (
      SELECT doc_id, len(toks) AS n_tokens,
             len(toks) - 1 AS n_bigrams,
             len(list_distinct(
               list_transform(range(1, len(toks)),
                              i -> toks[i] || ' ' || toks[i + 1])
             )) AS n_distinct_bigrams
      FROM t
    )
    SELECT s.doc_id,
           s.n_tokens,
           top.top_token,
           (top.top_cnt * 10000) // s.n_tokens AS top_token_frac_e4,
           ((s.n_bigrams - s.n_distinct_bigrams) * 10000)
             // greatest(s.n_bigrams, 1) AS dup_bigram_frac_e4,
           CAST(
             (top.top_cnt * 10000) // s.n_tokens > {int(REP_TOP_TOKEN_MAX * 10000)}
             OR ((s.n_bigrams - s.n_distinct_bigrams) * 10000)
               // greatest(s.n_bigrams, 1) > {int(REP_DUP_BIGRAM_MAX * 10000)}
           AS INT) AS flagged
    FROM stats s JOIN top USING (doc_id)
    """,
)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition filters (the Gopher rules): per doc, the fraction of
    tokens taken by the single most frequent token and the fraction of
    duplicated bigrams; ``flagged`` = either exceeds its threshold.

    The bigram signal is MAP-ONLY (zip_with over the staged token array
    — no explode, no shuffle); the top-token signal is one
    (doc_id, token) partial-agg shuffle + a per-doc window, both keyed by
    doc_id so they scale with docs, never with corpus size. Ratios are
    integer-based and rounded once → engine-deterministic."""
    docs = table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.split(_norm_col(), " ").alias("toks"))
    counts = (
        t.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("cnt"), F.asc("tok"))
    top = (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("tok").alias("top_token"), F.col("cnt").alias("top_cnt"))
    )
    # toks staged under its own name first (Spark 4.1 lateral-alias quirk:
    # referencing a same-select alias inside a lambda is an error)
    stats = t.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        (F.size("toks") - 1).cast("bigint").alias("n_bigrams"),
        F.size(
            F.array_distinct(
                F.zip_with(
                    F.expr("slice(toks, 1, size(toks) - 1)"),
                    F.expr("slice(toks, 2, size(toks) - 1)"),
                    lambda a, b: F.concat_ws(" ", a, b),
                )
            )
        ).cast("bigint").alias("n_distinct_bigrams"),
    )
    # all-integer fractions (see doc_token_stats: the round(double)
    # midpoint-tie class); thresholds compare on the same e4 grid
    top_frac = int_ratio(F.col("top_cnt"), F.col("n_tokens"), 4, "top_token_frac_e4")
    # greatest(n_bigrams, 1): 0/1-token docs have no bigrams — frac 0
    dup_frac = int_ratio(
        F.col("n_bigrams") - F.col("n_distinct_bigrams"),
        F.greatest("n_bigrams", F.lit(1)),
        4,
        "dup_bigram_frac_e4",
    )
    return (
        stats.join(top, "doc_id")
        .select("doc_id", "n_tokens", "top_token", top_frac, dup_frac)
        .withColumn(
            "flagged",
            (
                (F.col("top_token_frac_e4") > int(REP_TOP_TOKEN_MAX * 10000))
                | (F.col("dup_bigram_frac_e4") > int(REP_DUP_BIGRAM_MAX * 10000))
            ).cast("int"),
        )
    )


# Tokenizer-vocab induction: the top-V corpus tokens by frequency, and the
# OOV rate a tokenizer restricted to that vocab would see per language.
VOCAB_SIZE = 16


@register(
    "tokenizer_vocab_coverage",
    oracle=f"""
    WITH toks AS (
      SELECT lang, unnest(string_split({_NORM_SQL}, ' ')) AS tok FROM documents
    ),
    vocab AS (
      SELECT tok, 1 AS in_vocab FROM (
        SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
        ORDER BY cnt DESC, tok ASC LIMIT {VOCAB_SIZE}
      )
    )
    SELECT t.lang,
           count(*) AS total_tokens,
           CAST(sum(CASE WHEN v.in_vocab IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS oov_tokens,
           CAST((sum(CASE WHEN v.in_vocab IS NULL THEN 1 ELSE 0 END) * 10000)
                  // count(*) AS BIGINT) AS oov_rate_e4
    FROM toks t LEFT JOIN vocab v USING (tok)
    GROUP BY t.lang
    """,
)
def tokenizer_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocab induction + coverage audit: rank tokens by corpus frequency,
    keep the top VOCAB_SIZE (count-desc, token-asc total order), report
    per-language token volume and the out-of-vocabulary rate under that
    vocab — the audit run before committing to a tokenizer.

    Plan: one exploded partial-agg for the counts, top-V via
    TakeOrderedAndProject (no global sort), vocab BROADCAST back against
    the exploded corpus (V is tokenizer-sized — fits one task's memory at
    any corpus scale), per-lang agg map-side combines."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("lang", F.explode(F.split(_norm_col(), " ")).alias("tok"))
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(VOCAB_SIZE)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    # OOV rate as a ×1e4-scaled integer via pure integer division — no
    # float division reaches the comparison hash (round-2 driver red row)
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("lang")
        .agg(
            F.count("*").alias("total_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias(
                "oov_tokens"
            ),
        )
        .withColumn("oov_rate_e4", F.expr("(oov_tokens * 10000) div total_tokens"))
    )


# --- exact global ranking without a global sort ----------------------------
# Curriculum / length-balanced sampling needs every document's exact rank
# in the corpus length order. The naive formulation — row_number() over one
# unpartitioned window — funnels the whole corpus through a single
# partition, precisely the plan that dies at 100 TB. The engine instead
# decomposes rank(n_chars, doc_id) = (# docs with smaller n_chars)
#                                  + (rank of doc_id among equal n_chars):
# a value-histogram aggregate (|distinct n_chars| rows — thousands, not
# corpus-sized) carries the prefix counts and broadcasts back, and the
# tiebreak window partitions by n_chars, so every window group is bounded
# by the per-value count. One corpus shuffle (the n_chars partition), one
# tiny broadcast — the distributed-ranking pattern.

N_DECILES = 10


@register(
    "doc_length_rank_deciles",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, n_chars,
             row_number() OVER (ORDER BY n_chars ASC, doc_id ASC) AS length_rank,
             count(*) OVER () AS n
      FROM documents
    )
    SELECT doc_id, n_chars, length_rank,
           CAST(((length_rank - 1) * {N_DECILES}) // n AS BIGINT) AS decile
    FROM ranked
    """,
)
def doc_length_rank_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus-order length rank + decile per document (curriculum
    buckets, length-balanced mixtures) WITHOUT a global sort: histogram
    prefix sums give the cross-value rank, a per-value window gives the
    tiebreak, and the decile is pure integer arithmetic — the oracle's
    single-window formulation is the independent cross-check, not the
    plan. Scale: the only corpus-wide operations are one groupBy on
    n_chars (the histogram) and one n_chars-partitioned window whose
    groups are bounded by the per-value multiplicity; the cumulative sum
    runs over the histogram (thousands of rows), never the corpus."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    hist = docs.groupBy("n_chars").agg(F.count("*").alias("cnt"))
    hw = Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.select(
        "n_chars",
        F.coalesce(F.sum("cnt").over(hw), F.lit(0)).alias("before"),
    )
    total = hist.agg(F.sum("cnt").alias("n"))
    within = Window.partitionBy("n_chars").orderBy("doc_id")
    return (
        docs.join(F.broadcast(cum), "n_chars")
        .withColumn("within", F.row_number().over(within))
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "n_chars",
            (F.col("before") + F.col("within")).alias("length_rank"),
            "n",
        )
        .withColumn(
            "decile", F.expr(f"((length_rank - 1) * {N_DECILES}) div n")
        )
        .drop("n")
    )


# --- Zipf slope (vocabulary distribution health) --------------------------
# A natural corpus has token frequencies ~ rank^-s with s ≈ 1; template
# spam, boilerplate floods, or tokenizer bugs bend the log-log line. The
# slope is the OLS fit of ln(freq) on ln(rank) — a standard corpus-health
# gauge for training-data pipelines.
_ZQ = 1_000_000  #: micro-nat quantization of both log axes


@register(
    "corpus_zipf_slope",
    oracle=f"""
    WITH freq AS (
      SELECT tok, count(*) AS cnt
      FROM (SELECT unnest(string_split({_NORM_SQL}, ' ')) AS tok FROM documents)
      GROUP BY tok
    ),
    ranked AS (
      SELECT CAST(floor(ln(CAST(row_number() OVER (ORDER BY cnt DESC, tok ASC)
                                AS DOUBLE)) * {_ZQ}) AS BIGINT) AS x,
             CAST(floor(ln(CAST(cnt AS DOUBLE)) * {_ZQ}) AS BIGINT) AS y
      FROM freq
    ),
    s AS (
      SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(CAST(x AS HUGEINT) * x) AS sxx,
             sum(CAST(x AS HUGEINT) * y) AS sxy
      FROM ranked
    )
    SELECT n AS vocab_size,
           CAST(floor(
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             * {_ZQ}) AS BIGINT) AS zipf_slope_e6
    FROM s
    """,
)
def corpus_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit: OLS slope of ln(freq) vs ln(rank) over the whole
    vocabulary, emitted micro-scaled. Natural text sits near −1; a
    template-flooded corpus flattens toward 0 at the head.

    Determinism: both log axes are floored to integer micro-nats BEFORE
    the moment sums (the doc_unigram_logprob libm discipline), moments
    accumulate exactly (128-bit-safe), and the final slope derives from
    them in correctly-rounded double ops — bit-identical cross-engine.
    Plan: one vocab agg, one total-order rank window over vocab-sized
    (not corpus-sized) rows, one 1-row moment agg."""
    docs = table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(F.split(_norm_col(), " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("tok"))
    ranked = freq.select(
        F.floor(F.ln(F.row_number().over(w).cast("double")) * _ZQ)
        .cast("long")
        .alias("x"),
        F.floor(F.ln(F.col("cnt").cast("double")) * _ZQ).cast("long").alias("y"),
    )
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    slope = (d("n") * d("sxy") - d("sx") * d("sy")) / (
        d("n") * d("sxx") - d("sx") * d("sx")
    )
    return s.select(
        F.col("n").alias("vocab_size"),
        F.floor(slope * _ZQ).cast("bigint").alias("zipf_slope_e6"),
    )


# ── TF-IDF keyword extraction ───────────────────────────────────────────

TFIDF_TOPK = 5


@register(
    "doc_tfidf_keywords",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             unnest(string_split(
               translate(trim(regexp_replace(text, '[ \\t\\n\\r\\x0B\\f]+', ' ', 'g')), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ')) AS token
      FROM documents
    ),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM t GROUP BY 1, 2),
    df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token,
             CAST(floor(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0)
                        * 1000000) AS BIGINT) AS score_micro
      FROM tf JOIN df USING (token) CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, token, score_micro,
             row_number() OVER (
               PARTITION BY doc_id
               ORDER BY score_micro DESC, token ASC) AS rank
      FROM scored
    )
    SELECT doc_id, token, rank, score_micro
    FROM ranked WHERE rank <= {TFIDF_TOPK}
    """,
)
def doc_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-{TFIDF_TOPK} tokens by
    TF-IDF — the metadata-enrichment pass (tags, index terms, cluster
    labels) every corpus-curation pipeline runs. Smoothed idf
    ln((N+1)/(df+1)) + 1 with the constants spelled as identical
    literals on both engines; the per-term score floors to integer
    MICRO-units before ranking (the bm25_topk discipline — a correctly-
    rounded ln can differ by an ulp across libm implementations, and the
    floor grid absorbs it), ties broken by token text, so the top-k set
    is engine-exact.

    Scale shape: tf is one (doc, token)-keyed agg; df one token-keyed
    agg over the tf frame (vocabulary-sized — ≪ corpus); the corpus
    count joins back as a broadcast scalar; ranking is one window keyed
    by doc_id. Nothing all-pairs, nothing driver-side."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.split(F.translate(F.trim(F.regexp_replace("text", r"[ \t\n\r\x0B\f]+", " ")), "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz"), " ")
        ).alias("token"),
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            F.floor(
                F.col("tf")
                * (
                    F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
                    + F.lit(1.0)
                )
                * F.lit(1_000_000)
            )
            .cast("bigint")
            .alias("score_micro"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_micro"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TFIDF_TOPK)
        .select("doc_id", "token", "rank", "score_micro")
    )


# ── PMI collocations ────────────────────────────────────────────────────

PMI_MIN_COUNT = 5
PMI_TOPK = 25


@register(
    "corpus_pmi_collocations",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id, string_split(
               translate(trim(regexp_replace(text, '[ \\t\\n\\r\\x0B\\f]+', ' ', 'g')), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ') AS toks
      FROM documents
    ),
    bg0 AS (
      SELECT unnest([array_to_string(toks[i:i+1], ' ')
                     for i in generate_series(1, len(toks) - 1)]) AS pair
      FROM norm
    ),
    bg AS (
      SELECT string_split(pair, ' ')[1] AS w1,
             string_split(pair, ' ')[2] AS w2
      FROM bg0
    ),
    uni AS (
      SELECT unnest(string_split(
               translate(trim(regexp_replace(text, '[ \\t\\n\\r\\x0B\\f]+', ' ', 'g')), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ')) AS w
      FROM documents
    ),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w, count(*) AS c FROM uni GROUP BY 1),
    tot AS (SELECT (SELECT count(*) FROM uni) AS t, (SELECT count(*) FROM bg) AS b),
    scored AS (
      SELECT c12.w1, c12.w2, c12.c12,
             CAST(floor(ln(((((CAST(c12.c12 AS DOUBLE) * tot.t) / tot.b) * tot.t)
                            / u1.c) / u2.c) * 1000000) AS BIGINT) AS pmi_micro
      FROM c12
      JOIN c1 u1 ON u1.w = c12.w1
      JOIN c1 u2 ON u2.w = c12.w2
      CROSS JOIN tot
      WHERE c12.c12 >= {PMI_MIN_COUNT}
    )
    SELECT w1, w2, c12 AS n_pair, pmi_micro
    FROM scored
    ORDER BY pmi_micro DESC, w1 ASC, w2 ASC
    LIMIT {PMI_TOPK}
    """,
)
def corpus_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-{PMI_TOPK} adjacent token pairs by
    pointwise mutual information — the phrase-detection pass (Mikolov-
    style word2phrase, "new york" → token) of corpus preprocessing.
    PMI = ln(P(w1,w2) / (P(w1)·P(w2))) computed with an IDENTICALLY
    parenthesized double expression on both engines (each IEEE op is
    correctly rounded, so same tree ⇒ same bits; the final micro-floor
    absorbs the one ulp ln may differ by — bm25/tfidf discipline). Rare
    pairs (< {PMI_MIN_COUNT}) are dropped before ranking: PMI of
    singletons is noise.

    Scale shape: bigram generation is a map-side transform+explode; the
    pair and unigram counts are (pair/token)-keyed aggs over
    vocabulary²-bounded (in practice collocation-sparse) frames; totals
    ride a broadcast scalar row; the global top-k compiles to
    TakeOrderedAndProject. Nothing all-pairs over documents."""
    docs = table(spark, sf_dir, "documents")
    toks_arr = F.split(F.translate(F.trim(F.regexp_replace("text", r"[ \t\n\r\x0B\f]+", " ")), "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz"), " ")
    norm = docs.select("doc_id", toks_arr.alias("toks"))
    # Guard the bigram expansion: Spark's sequence(1, 0) DESCENDS ([1, 0],
    # default step -1) while DuckDB's generate_series(1, 0) is empty — a
    # 0/1-token document would emit two null-padded bigrams here and
    # silently inflate the denominator. size >= 2 keeps both engines empty.
    bg = (
        norm.where(F.expr("size(toks) >= 2"))
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> struct(toks[i-1] AS w1, toks[i] AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
    )
    uni = norm.select(F.explode("toks").alias("w"))
    c12 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c1 = uni.groupBy("w").agg(F.count("*").alias("c"))
    tot = F.broadcast(
        uni.agg(F.count("*").alias("t")).crossJoin(bg.agg(F.count("*").alias("b")))
    )
    u1 = c1.select(F.col("w").alias("w1"), F.col("c").alias("cw1"))
    u2 = c1.select(F.col("w").alias("w2"), F.col("c").alias("cw2"))
    scored = (
        c12.where(F.col("c12") >= PMI_MIN_COUNT)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(tot)
        .select(
            "w1",
            "w2",
            F.col("c12").alias("n_pair"),
            F.floor(
                F.log(
                    F.col("c12").cast("double")
                    * F.col("t")
                    / F.col("b")
                    * F.col("t")
                    / F.col("cw1")
                    / F.col("cw2")
                )
                * F.lit(1_000_000)
            )
            .cast("bigint")
            .alias("pmi_micro"),
        )
    )
    return scored.orderBy(
        F.desc("pmi_micro"), F.asc("w1"), F.asc("w2")
    ).limit(PMI_TOPK)


# --- RAKE keyphrase extraction -----------------------------------------------
# Rapid Automatic Keyword Extraction (Rose et al. 2010), the classic
# unsupervised keyphrase algorithm: candidate phrases are the maximal
# runs of non-stopword tokens (function words delimit), each word is
# scored degree/frequency over the document's phrases (degree = summed
# length of every phrase containing the word, self included), and a
# phrase scores the sum of its member-word scores. Everything is
# per-document integer arithmetic: word score = (deg·1000) div freq
# (non-negative → truncating div == floor in both engines), phrase
# score an integer sum — no float anywhere. Top-2 phrases per doc with
# a (score desc, phrase asc, phrase_id asc) total order.

RAKE_TOPK = 2


def _rake_oracle() -> str:
    stop_list = ", ".join(f"'{w}'" for w in _EN_STOPWORDS)
    return f"""
    WITH toks AS (
      -- zipped unnests (DuckDB has no WITH ORDINALITY). Conflicting
      -- duplicate doc_ids resolve via the content arbiter (fuzz 9):
      -- RAKE's running-stopword phrase segmentation orders by (doc_id,
      -- pos), and a second text under the same id makes every pos a
      -- tie — an order left partial is resolved differently per engine.
      SELECT doc_id, unnest(ts) AS w, unnest(range(1, len(ts) + 1)) AS pos
      FROM (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS ts
            FROM (SELECT doc_id, arg_max(text, md5(text)) AS text
                  FROM documents WHERE text IS NOT NULL GROUP BY doc_id)
              AS documents)
    ),
    marked AS (
      SELECT doc_id, w, pos,
             sum(CASE WHEN w IN ({stop_list}) THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS UNBOUNDED PRECEDING) AS pid,
             w IN ({stop_list}) AS is_stop
      FROM toks
    ),
    members AS (
      SELECT doc_id, pid, w, pos FROM marked
      WHERE NOT is_stop AND w <> ''
    ),
    plen AS (
      SELECT doc_id, pid, count(*) AS plen FROM members GROUP BY 1, 2
    ),
    wstat AS (
      SELECT m.doc_id, m.w,
             count(*) AS freq,
             CAST(sum(p.plen) AS BIGINT) AS deg
      FROM members m JOIN plen p ON m.doc_id = p.doc_id AND m.pid = p.pid
      GROUP BY 1, 2
    ),
    wscore AS (
      SELECT doc_id, w, (deg * 1000) // freq AS ws FROM wstat
    ),
    pscore AS (
      SELECT m.doc_id, m.pid,
             string_agg(m.w, ' ' ORDER BY m.pos) AS phrase,
             CAST(sum(s.ws) AS BIGINT) AS score_permille
      FROM members m JOIN wscore s ON m.doc_id = s.doc_id AND m.w = s.w
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT doc_id, phrase, score_permille,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score_permille DESC, phrase ASC,
                                         pid ASC) AS rnk
      FROM pscore
    )
    SELECT doc_id, phrase, score_permille, rnk
    FROM ranked WHERE rnk <= {RAKE_TOPK}
    """


@register("doc_rake_keyphrases", oracle=_rake_oracle())
def doc_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 (``RAKE_TOPK``) RAKE keyphrases per document (see block comment).

    Plan: ONE doc-keyed window pass assigns phrase ids (running
    stopword count), then three doc-keyed aggregates (phrase length,
    word stats, phrase score) and a doc-keyed top-k window — every
    shuffle keys on doc_id, the natural high-cardinality key, so the
    shape is embarrassingly parallel at corpus scale; phrases and
    scores never leave the document.

    Conflicting duplicate doc_ids resolve via the content arbiter
    (max md5(text), same rule as tiling — fuzz 9): the running-stopword
    segmentation orders by (doc_id, pos), and a second text under the
    same id would tie every pos."""
    docs = (
        table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .groupBy("doc_id")
        .agg(F.max_by("text", F.md5("text")).alias("text"))
    )
    t = docs.select(
        "doc_id", F.posexplode(F.split(_norm_col(), " ")).alias("pos", "w")
    )
    is_stop = F.col("w").isin(*_EN_STOPWORDS)
    w_run = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    marked = t.select(
        "doc_id",
        "w",
        "pos",
        F.sum(is_stop.cast("int")).over(w_run).alias("pid"),
        is_stop.alias("is_stop"),
    )
    members = marked.where(~F.col("is_stop") & (F.col("w") != "")).select(
        "doc_id", "pid", "w", "pos"
    )
    # r13 (guide §2.4): phrase length / word freq / word degree were three
    # groupBy+join round trips over the exploded token frame (the explode
    # and its doc-keyed window replayed per branch — 6 exchanges). All
    # three are expressible as WINDOWS over (doc_id, pid) / (doc_id, w):
    # hash-partitioning by doc_id (established once by the running-
    # stopword window above) satisfies clustering on both, so every
    # subsequent step is a sort within the SAME partitioning — the whole
    # query keeps exactly one exchange. Row-for-row identical values: the
    # window frames span the full partition, so plen/freq/deg match the
    # old per-group aggregates exactly.
    w_pid = Window.partitionBy("doc_id", "pid")
    w_word = Window.partitionBy("doc_id", "w")
    scored = (
        members.withColumn("plen", F.count(F.lit(1)).over(w_pid))
        .withColumn("freq", F.count(F.lit(1)).over(w_word))
        .withColumn("deg", F.sum("plen").over(w_word).cast("bigint"))
        .withColumn("ws", F.expr("(deg * 1000) div freq"))
    )
    pscore = scored.groupBy("doc_id", "pid").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                lambda s: s["w"],
            ),
        ).alias("phrase"),
        F.sum("ws").cast("bigint").alias("score_permille"),
    )
    w_rank = Window.partitionBy("doc_id").orderBy(
        F.desc("score_permille"), F.asc("phrase"), F.asc("pid")
    )
    return (
        pscore.withColumn("rnk", F.row_number().over(w_rank))
        .where(F.col("rnk") <= RAKE_TOPK)
        .select("doc_id", "phrase", "score_permille", "rnk")
    )


# --- sentence segmentation ---------------------------------------------------
# The segmentation pass a curation pipeline runs before per-sentence
# quality filters (too-short sentences, list-like text, boilerplate):
# split on terminal punctuation runs ([.!?]+), trim, drop empties.
# Regex class semantics are identical in Spark (java.util.regex) and
# DuckDB (RE2) for this pattern. NULL bodies are excluded on both
# engines (the fuzz-6 class-23 rule: NULL body ⇒ no derived rows).
# Integer outputs only; avg length ships as a floor-scaled ratio
# (sum_chars·100 div n) per the registry's determinism rules.
# Map-only: one narrow projection per document, no shuffle.


@register(
    "doc_sentence_stats",
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
             [x for x in [trim(y) for y in
                string_split_regex({_NORM_SQL}, '[.!?]+')] if x <> ''] AS sents
      FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id,
           CAST(len(sents) AS BIGINT) AS n_sentences,
           CAST(coalesce(list_sum([length(x) for x in sents]), 0) AS BIGINT)
             AS sum_chars,
           CAST(coalesce(list_max([length(x) for x in sents]), 0) AS BIGINT)
             AS max_chars,
           CAST(CASE WHEN len(sents) = 0 THEN 0
                ELSE (list_sum([length(x) for x in sents]) * 100) // len(sents)
                END AS BIGINT) AS avg_chars_e2
    FROM s
    """,
)
def doc_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document sentence segmentation stats (see block comment):
    count, char totals, longest sentence, floor-scaled mean length."""
    docs = table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    sents = F.filter(
        F.transform(
            F.split(_norm_col(), r"[.!?]+"), lambda x: F.trim(x)
        ),
        lambda x: x != "",
    )
    t = docs.select("doc_id", sents.alias("sents"))
    lens = F.transform("sents", lambda x: F.length(x))
    total = F.aggregate(lens, F.lit(0).cast("bigint"), lambda a, v: a + v)
    return t.select(
        "doc_id",
        F.size("sents").cast("bigint").alias("n_sentences"),
        total.alias("sum_chars"),
        F.coalesce(F.array_max(lens), F.lit(0)).cast("bigint").alias("max_chars"),
        F.when(F.size("sents") == 0, F.lit(0))
        .otherwise(F.expr(
            "aggregate(transform(sents, x -> CAST(length(x) AS BIGINT)),"
            " CAST(0 AS BIGINT), (a, v) -> a + v) * 100 div size(sents)"
        ))
        .cast("bigint")
        .alias("avg_chars_e2"),
    )


# --- Gopher-style repetition/format rules gate ------------------------------
# The RULES side of training-data quality filtering (Rae et al., Gopher
# §A1.1; complementary to doc_quality_score's composite SCORE): hard
# per-document format gates — word-count bounds, mean word length bounds,
# symbol-to-word ratio (hash marks + ellipses), bullet-start and
# ellipsis-end line ratios, alphabetic-word ratio. Every ratio is a
# floor-scaled integer (the int_ratio discipline); each rule emits its own
# flag so downstream can audit WHICH rule rejected a document, plus the
# conjunctive gate. Map-only, no shuffle — the 100 TB shape is a single
# pass over the corpus, and the flags are the natural partition columns
# for rejection-analysis rollups.

GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 5, 100_000
GOPHER_MIN_MWL_E2, GOPHER_MAX_MWL_E2 = 200, 1200  # mean word len 2..12 chars
GOPHER_MAX_SYMBOL_E6 = 100_000  # symbol-to-word ratio < 0.1
GOPHER_MAX_BULLET_E6 = 900_000  # < 90% of lines bullet-started
GOPHER_MAX_ELLIPSIS_E6 = 300_000  # < 30% of lines ellipsis-ended
GOPHER_MIN_ALPHA_E6 = 700_000  # >= 70% of words contain a letter


@register(
    "doc_gopher_quality_rules",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             string_split({_NORM_SQL}, ' ') AS toks,
             string_split(text, chr(10)) AS lines,
             length(regexp_replace(text, '[^#]', '', 'g'))
               + (length(text) - length(replace(text, '...', ''))) // 3
               + (length(text) - length(replace(text, '…', ''))) AS symbol_hits
      FROM documents
      WHERE text IS NOT NULL
    ),
    m AS (
      SELECT doc_id,
             len(toks) AS n_words,
             len(lines) AS n_lines,
             (list_sum([length(x) for x in toks]) * 100)
               // greatest(len(toks), 1) AS mean_wlen_e2,
             (symbol_hits * 1000000) // greatest(len(toks), 1) AS symbol_e6,
             (len(list_filter(lines,
                x -> starts_with(ltrim(x), '- ')
                  OR starts_with(ltrim(x), '* ')
                  OR starts_with(ltrim(x), '• '))) * 1000000)
               // greatest(len(lines), 1) AS bullet_e6,
             (len(list_filter(lines,
                x -> ends_with(rtrim(x), '...')
                  OR ends_with(rtrim(x), '…'))) * 1000000)
               // greatest(len(lines), 1) AS ellipsis_e6,
             (len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
               * 1000000) // greatest(len(toks), 1) AS alpha_e6
      FROM t
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           CAST(mean_wlen_e2 AS BIGINT) AS mean_wlen_e2,
           CAST(symbol_e6 AS BIGINT) AS symbol_e6,
           CAST(bullet_e6 AS BIGINT) AS bullet_e6,
           CAST(ellipsis_e6 AS BIGINT) AS ellipsis_e6,
           CAST(alpha_e6 AS BIGINT) AS alpha_e6,
           CAST(CASE WHEN n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
                THEN 1 ELSE 0 END AS BIGINT) AS pass_words,
           CAST(CASE WHEN mean_wlen_e2 BETWEEN {GOPHER_MIN_MWL_E2} AND {GOPHER_MAX_MWL_E2}
                THEN 1 ELSE 0 END AS BIGINT) AS pass_mwl,
           CAST(CASE WHEN symbol_e6 < {GOPHER_MAX_SYMBOL_E6}
                THEN 1 ELSE 0 END AS BIGINT) AS pass_symbol,
           CAST(CASE WHEN bullet_e6 < {GOPHER_MAX_BULLET_E6}
                AND ellipsis_e6 < {GOPHER_MAX_ELLIPSIS_E6}
                THEN 1 ELSE 0 END AS BIGINT) AS pass_lines,
           CAST(CASE WHEN alpha_e6 >= {GOPHER_MIN_ALPHA_E6}
                THEN 1 ELSE 0 END AS BIGINT) AS pass_alpha,
           CAST(CASE WHEN n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
                AND mean_wlen_e2 BETWEEN {GOPHER_MIN_MWL_E2} AND {GOPHER_MAX_MWL_E2}
                AND symbol_e6 < {GOPHER_MAX_SYMBOL_E6}
                AND bullet_e6 < {GOPHER_MAX_BULLET_E6}
                AND ellipsis_e6 < {GOPHER_MAX_ELLIPSIS_E6}
                AND alpha_e6 >= {GOPHER_MIN_ALPHA_E6}
                THEN 1 ELSE 0 END AS BIGINT) AS gate_pass
    FROM m
    """,
)
def doc_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style hard quality rules (see block comment): per-document
    format gates with per-rule flags + conjunctive gate. NULL text =
    no document (class 23); empty/whitespace docs fail the word gate
    rather than dividing by zero (greatest(·,1))."""
    docs = table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    hash_marks = F.length(F.regexp_replace("text", "[^#]", ""))
    dots = (
        (F.length("text") - F.length(F.expr("replace(text, '...', '')")))
        / F.lit(3)
    ).cast("long")
    uni_ell = F.length("text") - F.length(F.expr("replace(text, '…', '')"))
    t = docs.select(
        "doc_id",
        F.split(_norm_col(), " ").alias("toks"),
        F.split("text", "\n").alias("lines"),
        (hash_marks + dots + uni_ell).alias("symbol_hits"),
    )
    n_words = F.size("toks")
    n_lines = F.size("lines")
    den_w = F.greatest(n_words, F.lit(1))
    den_l = F.greatest(n_lines, F.lit(1))
    sum_len = F.aggregate("toks", F.lit(0), lambda a, x: a + F.length(x))
    bullets = F.size(
        F.filter(
            "lines",
            lambda x: F.ltrim(x).startswith("- ")
            | F.ltrim(x).startswith("* ")
            | F.ltrim(x).startswith("• "),
        )
    )
    ellipses = F.size(
        F.filter(
            "lines",
            lambda x: F.rtrim(x).endswith("...") | F.rtrim(x).endswith("…"),
        )
    )
    alpha_words = F.size(F.filter("toks", lambda x: x.rlike("[a-z]")))
    m = t.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        int_ratio(sum_len, den_w, 2, "mean_wlen_e2"),
        int_ratio(F.col("symbol_hits"), den_w, 6, "symbol_e6"),
        int_ratio(bullets, den_l, 6, "bullet_e6"),
        int_ratio(ellipses, den_l, 6, "ellipsis_e6"),
        int_ratio(alpha_words, den_w, 6, "alpha_e6"),
    )
    flag = lambda c, name: F.when(c, 1).otherwise(0).cast("bigint").alias(name)
    pw = F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
    pm = F.col("mean_wlen_e2").between(GOPHER_MIN_MWL_E2, GOPHER_MAX_MWL_E2)
    ps = F.col("symbol_e6") < GOPHER_MAX_SYMBOL_E6
    pl = (F.col("bullet_e6") < GOPHER_MAX_BULLET_E6) & (
        F.col("ellipsis_e6") < GOPHER_MAX_ELLIPSIS_E6
    )
    pa = F.col("alpha_e6") >= GOPHER_MIN_ALPHA_E6
    return m.select(
        "doc_id",
        "n_words",
        "mean_wlen_e2",
        "symbol_e6",
        "bullet_e6",
        "ellipsis_e6",
        "alpha_e6",
        flag(pw, "pass_words"),
        flag(pm, "pass_mwl"),
        flag(ps, "pass_symbol"),
        flag(pl, "pass_lines"),
        flag(pa, "pass_alpha"),
        flag(pw & pm & ps & pl & pa, "gate_pass"),
    )


# --- training-sequence packing ----------------------------------------------
# The concat-and-chunk packing every causal-LM data pipeline runs before
# training: documents are laid end-to-end in a deterministic order and
# the token stream is cut into fixed-budget sequences; each document
# lands at a byte-exact position (sequence id + offset), possibly
# spanning a boundary. The per-doc placement is a PREFIX SUM of token
# counts over the packing order, run as the standard TWO-PHASE
# distributed scan (r9 verdict item 2 — the naive single global window
# is a scale-killer at ~10⁹ docs): (1) range-partition the (doc_id,
# n_tokens) pairs by doc_id — partition ids are monotone in key order,
# AQE never re-coalesces an explicit-N repartition — and take
# per-partition token subtotals (one row per partition, metadata-sized);
# (2) a window over THAT tiny frame turns subtotals into per-partition
# start offsets, broadcast back; (3) the within-partition prefix runs as
# a window PARTITIONED BY the range bucket, so every sort is bounded by
# corpus/N_PACK_BUCKETS — no unpartitioned WindowExec anywhere
# (tests/test_plans.py pins this). Global start = bucket offset +
# within-bucket prefix, identical to the oracle's one-window form for
# ANY boundary placement because bucket ids are range-monotone.
# Duplicate doc_ids (at-least-once ingest, fuzz 9 class 37) are
# arbitered by content hash first, exactly like the tile ingest, so the
# packing order is total and engine-portable.

SEQ_LEN = 256  #: tokens per packed training sequence
#: range buckets for the two-phase prefix sum — at 100 TB size this to
#: ~(doc count / 10M) so each bucket's sort fits one task comfortably
N_PACK_BUCKETS = 32


#: the oracle's placement CTEs (content-arbitered doc order, token
#: counts, one-window exclusive prefix) — shared by the packing query
#: and the per-sequence manifest
_PACK_PLACEMENT_SQL = f"""
    d AS (
      SELECT doc_id, arg_max(text, md5(text)) AS text
      FROM documents WHERE text IS NOT NULL GROUP BY doc_id
    ),
    t AS (
      SELECT doc_id,
             len(list_filter(string_split({_NORM_SQL}, ' '), x -> x != ''))
               AS n_tokens
      FROM d
    ),
    p AS (
      SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS start
      FROM t WHERE n_tokens > 0
    )"""


def _packed_placements(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, start): every document's exact token offset in
    the packed stream — the two-phase distributed scan (see block
    comment) via the shared kernel: range buckets + triangular broadcast
    offsets over the metadata-sized subtotal frame + bounded
    within-bucket windows; ZERO single-partition sorts
    (tests/test_plans.py pins the shape)."""
    from ._util import distributed_prefix_sum

    docs = (
        table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .groupBy("doc_id")
        .agg(F.max_by("text", F.md5("text")).alias("text"))
    )
    n_tokens = F.size(
        F.filter(F.split(_norm_col(), " "), lambda x: x != "")
    ).cast("long")
    t = docs.select("doc_id", n_tokens.alias("n_tokens")).where(
        F.col("n_tokens") > 0
    )
    return distributed_prefix_sum(
        t,
        [F.asc("doc_id")],
        "n_tokens",
        name="start",
        inclusive=False,
        n_buckets=N_PACK_BUCKETS,
    ).select("doc_id", "n_tokens", "start")


@register(
    "pack_training_sequences",
    oracle=f"""
    WITH {_PACK_PLACEMENT_SQL}
    SELECT doc_id, n_tokens,
           start // {SEQ_LEN} AS first_seq,
           (start + n_tokens - 1) // {SEQ_LEN} AS last_seq,
           (start + n_tokens - 1) // {SEQ_LEN} - start // {SEQ_LEN} + 1
             AS n_seqs,
           start % {SEQ_LEN} AS seq_offset
    FROM p
    """,
)
def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing (see block comment): per document,
    its token count, the first/last packed sequence it occupies, how
    many sequences it spans, and its offset inside the first one —
    integer-exact prefix-sum placement in doc_id order."""
    p = _packed_placements(spark, sf_dir)
    first_seq = F.expr(f"start div {SEQ_LEN}")
    last_seq = F.expr(f"(start + n_tokens - 1) div {SEQ_LEN}")
    return p.select(
        "doc_id",
        "n_tokens",
        first_seq.alias("first_seq"),
        last_seq.alias("last_seq"),
        (last_seq - first_seq + F.lit(1)).alias("n_seqs"),
        (F.col("start") % SEQ_LEN).alias("seq_offset"),
    )


@register(
    "pack_sequence_manifest",
    oracle=f"""
    WITH {_PACK_PLACEMENT_SQL},
    x AS (
      SELECT doc_id, n_tokens, start,
             unnest(generate_series(start // {SEQ_LEN},
                                    (start + n_tokens - 1) // {SEQ_LEN}))
               AS seq_id
      FROM p
    )
    SELECT seq_id,
           count(*) AS n_docs,
           min(doc_id) AS first_doc_id,
           max(doc_id) AS last_doc_id,
           CAST(sum(least(start + n_tokens, (seq_id + 1) * {SEQ_LEN})
                    - greatest(start, seq_id * {SEQ_LEN})) AS BIGINT)
             AS used_tokens,
           CAST(CASE WHEN sum(least(start + n_tokens, (seq_id + 1) * {SEQ_LEN})
                    - greatest(start, seq_id * {SEQ_LEN})) = {SEQ_LEN}
                THEN 1 ELSE 0 END AS BIGINT) AS is_full
    FROM x GROUP BY seq_id
    """,
)
def pack_sequence_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inverse view of the packing — what a training data loader
    actually consumes: per packed sequence, how many documents it holds,
    the first/last document (doc order is the packing order, so min/max
    doc_id ARE the positional ends), the tokens used, and whether the
    sequence is exactly full (every sequence but the stream's last is).

    Plan: the placement frame explodes to one row per (doc, sequence)
    pair — total sequences + boundary spans, linear in corpus tokens /
    SEQ_LEN — then one groupBy on seq_id. No windows at all; the prefix
    sums ride the shared distributed kernel upstream."""
    p = _packed_placements(spark, sf_dir)
    x = p.select(
        "doc_id",
        "n_tokens",
        "start",
        F.explode(
            F.sequence(
                F.expr(f"start div {SEQ_LEN}"),
                F.expr(f"(start + n_tokens - 1) div {SEQ_LEN}"),
            )
        ).alias("seq_id"),
    )
    used = F.sum(
        F.least(
            F.col("start") + F.col("n_tokens"),
            (F.col("seq_id") + 1) * SEQ_LEN,
        )
        - F.greatest(F.col("start"), F.col("seq_id") * SEQ_LEN)
    ).cast("long")
    return x.groupBy("seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("first_doc_id"),
        F.max("doc_id").alias("last_doc_id"),
        used.alias("used_tokens"),
        (used == SEQ_LEN).cast("long").alias("is_full"),
    )


@register(
    "pack_curriculum_sequences",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, arg_max(text, md5(text)) AS text
      FROM documents WHERE text IS NOT NULL GROUP BY doc_id
    ),
    t AS (
      SELECT doc_id,
             len(list_filter(string_split({_NORM_SQL}, ' '), x -> x != ''))
               AS n_tokens
      FROM d
    ),
    p AS (
      SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (
               ORDER BY n_tokens, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS start
      FROM t WHERE n_tokens > 0
    )
    SELECT doc_id, n_tokens,
           start // {SEQ_LEN} AS first_seq,
           (start + n_tokens - 1) // {SEQ_LEN} AS last_seq,
           (start + n_tokens - 1) // {SEQ_LEN} - start // {SEQ_LEN} + 1
             AS n_seqs,
           start % {SEQ_LEN} AS seq_offset
    FROM p
    """,
)
def pack_curriculum_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CURRICULUM-ordered sequence packing: documents laid end-to-end
    shortest-first (the classic length curriculum — easy samples early
    in training) instead of ingest order, then cut into fixed-budget
    sequences. Same placement contract as ``pack_training_sequences``;
    the point is that the distributed prefix-sum kernel takes ANY total
    order — here (n_tokens, doc_id) — without a plan change: range
    buckets are computed on the curriculum key, so the bounded
    within-bucket windows and ≤32-row broadcast offset frame carry over
    unchanged. At 100 TB a curriculum reorder is exactly as scalable as
    ingest-order packing."""
    from ._util import distributed_prefix_sum

    docs = (
        table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .groupBy("doc_id")
        .agg(F.max_by("text", F.md5("text")).alias("text"))
    )
    n_tokens = F.size(
        F.filter(F.split(_norm_col(), " "), lambda x: x != "")
    ).cast("long")
    t = docs.select("doc_id", n_tokens.alias("n_tokens")).where(
        F.col("n_tokens") > 0
    )
    p = distributed_prefix_sum(
        t,
        [F.asc("n_tokens"), F.asc("doc_id")],
        "n_tokens",
        name="start",
        inclusive=False,
        n_buckets=N_PACK_BUCKETS,
    )
    first_seq = F.expr(f"start div {SEQ_LEN}")
    last_seq = F.expr(f"(start + n_tokens - 1) div {SEQ_LEN}")
    return p.select(
        "doc_id",
        "n_tokens",
        first_seq.alias("first_seq"),
        last_seq.alias("last_seq"),
        (last_seq - first_seq + F.lit(1)).alias("n_seqs"),
        (F.col("start") % SEQ_LEN).alias("seq_offset"),
    )


@register(
    "pack_span_manifest",
    oracle=f"""
    WITH {_PACK_PLACEMENT_SQL},
    x AS (
      SELECT doc_id, n_tokens, start,
             unnest(generate_series(start // {SEQ_LEN},
                                    (start + n_tokens - 1) // {SEQ_LEN}))
               AS seq_id
      FROM p
    )
    SELECT seq_id, doc_id,
           CAST(greatest(start, seq_id * {SEQ_LEN}) - seq_id * {SEQ_LEN}
             AS BIGINT) AS span_start,
           CAST(least(start + n_tokens, (seq_id + 1) * {SEQ_LEN})
                - greatest(start, seq_id * {SEQ_LEN}) AS BIGINT) AS span_len,
           CAST(CASE WHEN start >= seq_id * {SEQ_LEN} THEN 1 ELSE 0 END
             AS BIGINT) AS bos,
           CAST(CASE WHEN start + n_tokens <= (seq_id + 1) * {SEQ_LEN}
                THEN 1 ELSE 0 END AS BIGINT) AS eos
    FROM x
    """,
)
def pack_span_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The loss-masking view trainers actually consume (r10 verdict #6):
    one row per (sequence, document) SPAN — where inside the fixed-budget
    sequence the document's slice sits (``span_start``, ``span_len``) and
    the boundary flags a causal-LM collator needs: ``bos`` = the
    document's first token is in this sequence (insert BOS / reset
    attention mask here), ``eos`` = its last token is (insert EOS; a
    span with eos=0 continues into the next sequence, bos=0 continues
    from the previous one — cross-boundary attention is masked between
    the two).

    Plan: the same placement explode as ``pack_sequence_manifest``
    (``_packed_placements`` rides the distributed prefix-sum kernel; the
    explode is linear in corpus tokens / SEQ_LEN) with NO aggregation at
    all — pure map over the exploded frame, zero extra exchanges.
    Conservation (pytest-pinned): span_len sums per sequence to the
    manifest's used_tokens and per document to its n_tokens; exactly one
    bos and one eos per document."""
    p = _packed_placements(spark, sf_dir)
    x = p.select(
        "doc_id",
        "n_tokens",
        "start",
        F.explode(
            F.sequence(
                F.expr(f"start div {SEQ_LEN}"),
                F.expr(f"(start + n_tokens - 1) div {SEQ_LEN}"),
            )
        ).alias("seq_id"),
    )
    seq_lo = F.col("seq_id") * SEQ_LEN
    seq_hi = (F.col("seq_id") + 1) * SEQ_LEN
    span_lo = F.greatest(F.col("start"), seq_lo)
    span_hi = F.least(F.col("start") + F.col("n_tokens"), seq_hi)
    return x.select(
        "seq_id",
        "doc_id",
        (span_lo - seq_lo).cast("long").alias("span_start"),
        (span_hi - span_lo).cast("long").alias("span_len"),
        (F.col("start") >= seq_lo).cast("long").alias("bos"),
        (F.col("start") + F.col("n_tokens") <= seq_hi).cast("long").alias("eos"),
    )


# --- DSIR importance weighting (domain-targeted data selection) -------------
# Data Selection with Importance Resampling (Xie et al. 2023): score every
# raw document by how target-domain-like its HASHED n-gram profile is —
# log p_target(doc)/p_raw(doc) under two smoothed bag-of-hashed-bigrams
# models — so a 100 TB crawl can be reweighted toward a curated domain
# without training a classifier. Here the target distribution is the
# corpus's own lang='en' slice (self-contained, regeneration-proof); a
# production run swaps in any curated reference corpus.
#
# Determinism: per-BUCKET log-ratios quantize to integer micro-nats
# BEFORE the per-document sum (the doc_unigram_logprob libm discipline —
# bigint sums are order/partitioning-independent, and a 1-ulp ln()
# divergence would need to land within ~1e-10 of a rounding boundary).
# Hashing is md5-prefix (engine-portable), never murmur3.
#
# Plan: ONE exploded pass builds both bucket profiles simultaneously
# (raw count + target count per hashed bucket — a DSIR_BUCKETS-row
# frame), totals are 1-row broadcasts, and the rescan scores map-side
# through a broadcast join and aggregates per doc_id. Two corpus passes,
# no join wider than the bucket table — at 100 TB the bucket profile is
# a few KB whatever the corpus size.

DSIR_BUCKETS = 1024
DSIR_TARGET_LANG = "en"


def _dsir_sql() -> str:
    bg = (
        "[array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))]"
    )
    return f"""
    d AS (
      SELECT doc_id, lang,
             string_split({_NORM_SQL}, ' ') AS toks
      FROM documents WHERE text IS NOT NULL
    ),
    bgs AS (
      SELECT doc_id, lang, unnest({bg}) AS bg
      FROM d WHERE len(toks) >= 2
    ),
    hashed AS (
      SELECT doc_id, lang,
             CAST(('0x' || substr(md5(bg), 1, 8))::UBIGINT % {DSIR_BUCKETS}
                  AS BIGINT) AS bucket
      FROM bgs
    ),
    prof AS (
      SELECT bucket,
             count(*) AS raw_cnt,
             sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)
               AS tgt_cnt
      FROM hashed GROUP BY bucket
    ),
    tot AS (
      SELECT sum(raw_cnt) AS n_raw, sum(tgt_cnt) AS n_tgt FROM prof
    ),
    lam AS (
      SELECT bucket,
             CAST(round((ln(tgt_cnt + 1) - ln(n_tgt + {DSIR_BUCKETS})
                         - ln(raw_cnt + 1) + ln(n_raw + {DSIR_BUCKETS}))
                        * 1000000) AS BIGINT) AS lam_micro
      FROM prof CROSS JOIN tot
    )
    SELECT h.doc_id,
           count(*) AS n_bigrams,
           CAST(sum(l.lam_micro) AS BIGINT) AS dsir_micro,
           CAST(sum(l.lam_micro) // count(*) AS BIGINT) AS dsir_avg_micro
    FROM hashed h JOIN lam l USING (bucket)
    GROUP BY h.doc_id
    """


@register("dsir_importance_weights", oracle=f"WITH {_dsir_sql()}")
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DSIR importance score toward the lang='en' target
    slice (see block comment): hashed-bigram bucket profiles for target
    and raw corpus, Laplace-smoothed log-ratio per bucket quantized to
    micro-nats, summed per document. High dsir_avg_micro = looks like
    the target domain; resampling keeps documents proportional to the
    exponentiated score."""
    docs = table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toks = F.split(_norm_col(), " ")
    bigrams = F.expr(
        "transform(sequence(1, size(toks) - 1),"
        " i -> concat(toks[i - 1], ' ', toks[i]))"
    )
    hashed = (
        docs.select("doc_id", "lang", toks.alias("toks"))
        .where(F.size("toks") >= 2)
        .select("doc_id", "lang", F.explode(bigrams).alias("bg"))
        .select(
            "doc_id",
            "lang",
            (
                F.conv(F.substring(F.md5("bg"), 1, 8), 16, 10).cast("bigint")
                % DSIR_BUCKETS
            ).alias("bucket"),
        )
    )
    # pre-aggregate to (doc, bucket) counts and CUT THE LINEAGE: both the
    # profile and the scoring pass read this frame, so the corpus explode
    # runs ONCE (unchecked, the broadcast side replayed it — the r10
    # SCALE study's 5.0× factor decomposed as: profile pass 1.46× at 10×,
    # full query 3.75-5× with the rescan's second explode + a per-doc
    # shuffle of EVERY bigram row dominating). dbc is ≤ DSIR_BUCKETS rows
    # per doc whatever the doc length, so the scoring shuffle is bounded
    # by docs × 1024 instead of corpus bigrams — the 100 TB shape.
    dbc = stage(
        hashed.groupBy("doc_id", "lang", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    prof = dbc.groupBy("bucket").agg(
        F.sum("cnt").alias("raw_cnt"),
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, F.col("cnt")).otherwise(0)
        ).alias("tgt_cnt"),
    )
    tot = prof.agg(
        F.sum("raw_cnt").alias("n_raw"), F.sum("tgt_cnt").alias("n_tgt")
    )
    lam = (
        prof.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.round(
                (
                    F.log(F.col("tgt_cnt") + 1)
                    - F.log(F.col("n_tgt") + DSIR_BUCKETS)
                    - F.log(F.col("raw_cnt") + 1)
                    + F.log(F.col("n_raw") + DSIR_BUCKETS)
                )
                * 1000000
            )
            .cast("bigint")
            .alias("lam_micro"),
        )
    )
    return (
        dbc.join(F.broadcast(lam), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            F.sum(F.col("cnt") * F.col("lam_micro")).alias("dsir_micro"),
        )
        .withColumn("dsir_avg_micro", F.expr("dsir_micro div n_bigrams"))
    )


# --- per-source novelty (mixture curation) ----------------------------------
# When weighting a training mixture, a source earns its slot by what it
# UNIQUELY contributes: a feed whose n-grams all appear elsewhere adds
# redundancy, not coverage. Per source: its distinct-bigram vocabulary,
# how many of those bigrams appear in NO other source, and the novelty
# ratio — the submodular-coverage signal mixture tuners rank sources by.
# NULL-source documents have no attributable feed and leave the universe
# on both engines (fuzz class 1). Scale: the only corpus-sized stage is
# the (source, bigram) distinct (linear in corpus bigrams); everything
# after is vocabulary-bounded aggregation — no joins wider than the
# per-source vocab, no windows.


@register(
    "corpus_source_novelty",
    oracle=f"""
    WITH d AS (
      SELECT source, string_split({_NORM_SQL}, ' ') AS toks
      FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
    ),
    bg AS (
      SELECT DISTINCT source,
             unnest([array_to_string(toks[i:i+1], ' ')
                     for i in range(1, len(toks))]) AS bigram
      FROM d WHERE len(toks) >= 2
    ),
    per AS (
      SELECT bigram, count(*) AS ns, min(source) AS only_src
      FROM bg GROUP BY bigram
    ),
    tot AS (SELECT source, count(*) AS n_bigrams FROM bg GROUP BY source),
    uni AS (
      SELECT only_src AS source, count(*) AS n_unique
      FROM per WHERE ns = 1 GROUP BY only_src
    )
    SELECT t.source,
           t.n_bigrams,
           CAST(coalesce(u.n_unique, 0) AS BIGINT) AS n_unique,
           CAST((coalesce(u.n_unique, 0) * 1000) // t.n_bigrams AS BIGINT)
             AS novelty_permille
    FROM tot t LEFT JOIN uni u USING (source)
    """,
)
def corpus_source_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unique-bigram coverage (see block comment): distinct
    bigram vocabulary, bigrams exclusive to the source, and the permille
    novelty ratio."""
    docs = table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & F.col("source").isNotNull()
    )
    toks = F.split(_norm_col(), " ")
    bigrams = F.expr(
        "transform(sequence(1, size(toks) - 1),"
        " i -> concat(toks[i - 1], ' ', toks[i]))"
    )
    bg = (
        docs.select("source", toks.alias("toks"))
        .where(F.size("toks") >= 2)
        .select("source", F.explode(bigrams).alias("bigram"))
        .distinct()
    )
    per = bg.groupBy("bigram").agg(
        F.count(F.lit(1)).alias("ns"), F.min("source").alias("only_src")
    )
    tot = bg.groupBy("source").agg(F.count(F.lit(1)).alias("n_bigrams"))
    uni = (
        per.where(F.col("ns") == 1)
        .groupBy(F.col("only_src").alias("source"))
        .agg(F.count(F.lit(1)).alias("n_unique"))
    )
    return (
        tot.join(uni, "source", "left")
        .select(
            "source",
            "n_bigrams",
            F.coalesce("n_unique", F.lit(0)).cast("long").alias("n_unique"),
            F.expr("(coalesce(n_unique, 0) * 1000) div n_bigrams")
            .cast("long")
            .alias("novelty_permille"),
        )
    )


# --- corpus datasheet (data-card summary) -----------------------------------


@register(
    "corpus_datasheet",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id, lang, source, n_chars, text,
             CASE WHEN text IS NOT NULL THEN
               len(list_filter(string_split({_NORM_SQL}, ' '), x -> x != ''))
             END AS n_tokens,
             CASE WHEN text IS NOT NULL THEN md5({_NORM_SQL}) END AS chash
      FROM documents
    ),
    s AS (
      SELECT count(*) AS n_docs,
             count(text) AS n_docs_with_text,
             count(DISTINCT source) AS n_sources,
             count(DISTINCT lang) AS n_langs,
             CAST(sum(n_chars) AS BIGINT) AS total_chars,
             CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
             count(DISTINCT chash) AS n_distinct_contents,
             count(text) - count(DISTINCT chash) AS exact_dup_docs,
             (count(CASE WHEN lang = 'en' THEN 1 END) * 1000)
               // nullif(count(*), 0) AS en_share_permille
      FROM norm
    )
    SELECT metric, value FROM (
      SELECT 'n_docs' AS metric, n_docs AS value FROM s
      UNION ALL SELECT 'n_docs_with_text', n_docs_with_text FROM s
      UNION ALL SELECT 'n_sources', n_sources FROM s
      UNION ALL SELECT 'n_langs', n_langs FROM s
      UNION ALL SELECT 'total_chars', total_chars FROM s
      UNION ALL SELECT 'total_tokens', total_tokens FROM s
      UNION ALL SELECT 'n_distinct_contents', n_distinct_contents FROM s
      UNION ALL SELECT 'exact_dup_docs', exact_dup_docs FROM s
      UNION ALL SELECT 'en_share_permille', en_share_permille FROM s
    )
    """,
)
def corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-card summary every corpus release ships (datasheets for
    datasets): one (metric, value) row per headline corpus statistic —
    document/source/language counts, char and token volume, distinct
    content count and the implied exact-duplicate count, and the
    English share in integer permille. All metrics are BIGINT (no float
    reaches the hash); NULL-text documents count toward n_docs but not
    toward content/token metrics; the permille guards the empty corpus
    with nullif. Plan: ONE corpus pass — a single wide aggregate (the
    distinct counts expand to the standard count-distinct passes) then a
    9-row stack; nothing downstream is larger than the report itself."""
    docs = table(spark, sf_dir, "documents")
    has_text = F.col("text").isNotNull()
    n_tokens = F.when(
        has_text,
        F.size(F.filter(F.split(_norm_col(), " "), lambda x: x != "")),
    ).cast("long")
    chash = F.when(has_text, F.md5(_norm_col()))
    s = docs.select(
        "lang", "source", "n_chars", "text",
        n_tokens.alias("n_tokens"), chash.alias("chash"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count("text").alias("n_docs_with_text"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.countDistinct("chash").alias("n_distinct_contents"),
        (F.count("text") - F.countDistinct("chash")).alias("exact_dup_docs"),
        F.expr(
            "(count(CASE WHEN lang = 'en' THEN 1 END) * 1000)"
            " div nullif(count(1), 0)"
        ).alias("en_share_permille"),
    )
    pairs = ", ".join(
        f"'{m}', {m}"
        for m in (
            "n_docs", "n_docs_with_text", "n_sources", "n_langs",
            "total_chars", "total_tokens", "n_distinct_contents",
            "exact_dup_docs", "en_share_permille",
        )
    )
    return s.selectExpr(f"stack(9, {pairs}) AS (metric, value)")
