"""Corpus-cleaning operators for training-data pipelines: PII scrubbing,
exact-substring (duplicate-span) detection, and a corpus-derived unigram
language-model score.

These are the standard pre-training cleanup passes (C4/Gopher/RefinedWeb
lineage): redact contact strings, measure cross-document verbatim
duplication at the span level (Lee et al., "Deduplicating Training Data
Makes Language Models Better" — the exact-substring signal MinHash
misses), and score fluency against the corpus's own unigram distribution
(the cheap stand-in for a KenLM perplexity filter).

Scale posture: PII scrubbing is map-only (one regex pass fused into the
ingest scan); duplicate-span is one explode + one hash-keyed partial agg
+ one equi-join back (everything keyed by span hash / doc_id — no
all-pairs anywhere); the unigram score is one vocab aggregation whose
result broadcasts back over a map-only rescan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import register
from ..tables import table
from ._util import stage
from .text import _NORM_SQL, _norm_col

# --- PII scrubbing --------------------------------------------------------
# Cross-engine regex subset: character classes, +/{m,}, literal dots —
# valid and equivalent in both Java regex (Spark) and RE2 (DuckDB).
# No lookaround, no backreferences (RE2 has neither).
RE_EMAIL = "[0-9A-Za-z._%+-]+@[0-9A-Za-z.-]+[.][A-Za-z][A-Za-z]+"
RE_PHONE = "[+]1-[0-9]{3}-[0-9]{4}"
RE_IP = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"

#: deterministic PII synthesis (the corpus is synthetic and PII-free, so —
#: like the XML-inspection query — the query plants reference-shaped PII
#: first, then proves the scrubber removes it; counts are checkable
#: because synthesis is a pure function of doc_id).
_AUG_SQL = (
    "text || ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com'"
    " || ' or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    " || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.'"
    " || CAST(((doc_id % 256) * 7) % 256 AS VARCHAR)"
)


@register(
    "doc_pii_scrub",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id, {_AUG_SQL} AS aug_text FROM documents
    )
    SELECT
      doc_id,
      len(regexp_extract_all(aug_text, '{RE_EMAIL}')) AS n_emails,
      len(regexp_extract_all(aug_text, '{RE_PHONE}')) AS n_phones,
      len(regexp_extract_all(
            regexp_replace(aug_text, '{RE_PHONE}', '[PHONE]', 'g'),
            '{RE_IP}')) AS n_ips,
      md5(
        regexp_replace(
          regexp_replace(
            regexp_replace(aug_text, '{RE_EMAIL}', '[EMAIL]', 'g'),
            '{RE_PHONE}', '[PHONE]', 'g'),
          '{RE_IP}', '[IP]', 'g')
      ) AS scrubbed_md5,
      length(
        regexp_replace(
          regexp_replace(
            regexp_replace(aug_text, '{RE_EMAIL}', '[EMAIL]', 'g'),
            '{RE_PHONE}', '[PHONE]', 'g'),
          '{RE_IP}', '[IP]', 'g')
      ) AS scrubbed_len
    FROM aug
    """,
)
def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: plant doc_id-derived email/phone/IP strings into
    each document (the corpus is synthetic, so PII is synthesized the
    same way the XML-inspection query synthesizes payloads), then redact
    with a fixed regex chain (email → phone → IP) and report per-doc
    match counts plus the md5 of the scrubbed text (proves byte-exact
    scrubber equivalence across engines, not just counts).

    The IP count is taken AFTER phone redaction so the two number-shaped
    patterns can't double-count — the chain order is part of the
    operator's contract. Map-only: one regex pass per doc fused into the
    scan; at 100 TB this runs inside the ingest projection with zero
    shuffle."""
    docs = table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit("."),
            (((F.col("doc_id") % 256) * 7) % 256).cast("string"),
        ).alias("aug_text"),
    )
    no_phone = F.regexp_replace("aug_text", RE_PHONE, "[PHONE]")
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("aug_text", RE_EMAIL, "[EMAIL]"),
            RE_PHONE,
            "[PHONE]",
        ),
        RE_IP,
        "[IP]",
    )
    return aug.select(
        "doc_id",
        F.size(F.regexp_extract_all("aug_text", F.lit(RE_EMAIL), 0))
        .cast("bigint")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("aug_text", F.lit(RE_PHONE), 0))
        .cast("bigint")
        .alias("n_phones"),
        F.size(F.regexp_extract_all(no_phone, F.lit(RE_IP), 0))
        .cast("bigint")
        .alias("n_ips"),
        F.md5(scrubbed).alias("scrubbed_md5"),
        F.length(scrubbed).cast("bigint").alias("scrubbed_len"),
    )


# --- exact-substring duplicate spans --------------------------------------
SPAN_K = 5  # tokens per span (Lee et al. use 50; scaled to the test corpus)
SPAN_MIN_DOCS = 2  # a span is "duplicated" if it appears in >= 2 documents


@register(
    "doc_duplicate_spans",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks FROM documents
    ),
    spans AS (
      SELECT doc_id,
             unnest([md5(array_to_string(toks[i:i+{SPAN_K - 1}], ' '))
                     for i in generate_series(1, len(toks) - {SPAN_K - 1})]) AS h
      FROM t WHERE len(toks) >= {SPAN_K}
    ),
    shared AS (
      SELECT h FROM spans GROUP BY h
      HAVING count(DISTINCT doc_id) >= {SPAN_MIN_DOCS}
    )
    SELECT doc_id,
           count(*) AS n_spans,
           CAST(sum(CASE WHEN sh.h IS NULL THEN 0 ELSE 1 END)
                AS BIGINT) AS n_dup_spans,
           CAST((sum(CASE WHEN sh.h IS NULL THEN 0 ELSE 1 END) * 1000)
                  // count(*) AS BIGINT) AS dup_span_permille,
           CAST(2 * sum(CASE WHEN sh.h IS NULL THEN 0 ELSE 1 END) > count(*)
                AS INT) AS flagged
    FROM spans s LEFT JOIN shared sh USING (h)
    GROUP BY doc_id
    """,
)
def doc_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication (Lee et al.): per document, the
    fraction of its {SPAN_K}-token spans that appear verbatim in at least
    {SPAN_MIN_DOCS} distinct documents — the signal that catches verbatim
    boilerplate and quotation reuse that bag-of-shingles MinHash
    deliberately ignores. Spans duplicated only WITHIN one doc don't
    count (that's doc_repetition_stats' job).

    Plan: explode spans once (rows = corpus token count), one partial-agg
    shuffle keyed by span hash to find cross-doc spans, one hash-keyed
    equi-join back, one doc-keyed agg. Nothing is all-pairs and every
    shuffle key (span hash / doc_id) is high-cardinality and skew-free —
    the same layout a 100 TB suffix-style dedup job uses (with K=50 and
    the span set bloom-filtered before the join-back)."""
    docs = table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.split(_norm_col(), " ").alias("toks")).where(
        F.size("toks") >= SPAN_K
    )
    # staged (r13, guide §2.4): spans feeds BOTH the shared-span
    # aggregate and the join-back — without the cut the tokenize +
    # per-span md5 explode (the expensive pass: one hash per corpus
    # token) runs twice
    spans = stage(
        t.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - SPAN_K),
                    lambda i: F.md5(F.concat_ws(" ", F.slice("toks", i + 1, SPAN_K))),
                )
            ).alias("h"),
        )
    )
    shared = (
        spans.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= SPAN_MIN_DOCS)
        .select("h", F.lit(1).alias("is_dup"))
    )
    # the duplicated fraction is emitted as integer per-mille and the flag
    # as an integer 2·dup > total comparison (flagged when more than half
    # its spans are shared) — no float division reaches the comparison
    # hash (round-2 driver red row)
    return (
        spans.join(shared, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.coalesce("is_dup", F.lit(0))).cast("bigint").alias("n_dup_spans"),
        )
        .withColumn("dup_span_permille", F.expr("(n_dup_spans * 1000) div n_spans"))
        .withColumn(
            "flagged", (2 * F.col("n_dup_spans") > F.col("n_spans")).cast("int")
        )
    )


# --- corpus unigram-LM score ----------------------------------------------
# Per-token log-probabilities are quantized to integer micro-nats BEFORE
# the per-document sum: bigint sums are order-independent, so the result
# is identical across engines and partitionings (the float-aggregation
# rule from registry.py applied to logs). A 1-ulp ln() divergence between
# libms would need to land within ~1e-10 of a rounding boundary to flip a
# micro-nat — negligible, and the final 4-dp rounding adds slack on top.


@register(
    "doc_unigram_logprob",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS tok
      FROM documents
    ),
    freq AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
    tot AS (SELECT sum(cnt) AS total FROM freq)
    SELECT
      t.doc_id,
      count(*) AS n_tokens,
      CAST(sum(CAST(round((ln(f.cnt) - ln(tot.total)) * 1000000) AS BIGINT))
        AS BIGINT) AS sum_logp_micro,
      CAST(sum(CAST(round((ln(f.cnt) - ln(tot.total)) * 1000000) AS BIGINT))
        // count(*) AS BIGINT) AS avg_logp_micro
    FROM toks t JOIN freq f USING (tok) CROSS JOIN tot
    GROUP BY t.doc_id
    """,
)
def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM fluency score: build the corpus's own unigram
    distribution, then score each document by its mean token
    log-probability — the cheap, self-contained stand-in for the KenLM
    perplexity filter (CCNet-style); rare-token-heavy (noisy) documents
    score low. Every token is in-vocab by construction, so no smoothing
    term is needed.

    Plan: one exploded partial-agg builds the frequency table (vocab-
    sized — broadcasts back at any corpus scale; a real deployment caps
    the vocab top-V exactly like tokenizer_vocab_coverage), the total is
    a 1-row broadcast, the rescan scores map-side and aggregates per
    doc_id. Two small shuffles, no joins wider than the vocab."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split(_norm_col(), " ")).alias("tok"))
    freq = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = freq.agg(F.sum("cnt").alias("total"))
    lp_micro = F.round(
        (F.log(F.col("cnt")) - F.log(F.col("total"))) * 1000000
    ).cast("bigint")
    return (
        toks.join(F.broadcast(freq), "tok")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(lp_micro).alias("sum_logp_micro"),
        )
        # integer micro-nat mean (sum div count — both engines truncate
        # toward zero): the rational sum/1e6/count emitted as a rounded
        # double was the midpoint-tie divergence class
        .withColumn("avg_logp_micro", F.expr("sum_logp_micro div n_tokens"))
    )


@register(
    "events_value_winsorized",
    oracle="""
    WITH e AS (
      SELECT event_type,
             CAST(TRY_CAST(CASE WHEN (isfinite(value) AND abs(value) < 1e16) THEN value END AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM events
      WHERE (isfinite(value) AND abs(value) < 1e16)
    ),
    r AS (
      SELECT event_type, cents,
             row_number() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM e
    ),
    b AS (
      SELECT event_type,
             max(CASE WHEN rn = greatest((n * 1) // 100, 1) THEN cents END) AS p01,
             max(CASE WHEN rn = greatest((n * 99) // 100, 1) THEN cents END) AS p99
      FROM r GROUP BY event_type
    )
    SELECT e.event_type,
           count(*) AS n_events,
           b.p01 AS p01_cents,
           b.p99 AS p99_cents,
           CAST(sum(CASE WHEN e.cents < b.p01 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clipped_low,
           CAST(sum(CASE WHEN e.cents > b.p99 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clipped_high,
           CAST(sum(least(greatest(e.cents, b.p01), b.p99))
                AS BIGINT) AS winsorized_sum_cents
    FROM e JOIN b USING (event_type)
    GROUP BY e.event_type, b.p01, b.p99
    """,
)
def events_value_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization — the standard heavy-tail repair before averaging
    noisy metrics: per event type, clip values to the [p01, p99] rank
    band and report the clipped exact-cents sum plus how many rows each
    tail lost. The percentile bounds are ORDER STATISTICS — the element
    at rank max(⌊n·k/100⌋, 1) — so both engines pick identical integers
    (same discipline as events_value_mad_outliers' lower median; no
    interpolation convention in the hash).

    Scale shape: one rank window per type for the bounds (histogram-
    prefix replacement documented on the MAD op applies identically),
    then the clip-and-sum is a map-side expression + one agg — the
    repair pass itself never materializes a sorted corpus."""
    from pyspark.sql import Window

    # non-finite values are NULL cents after the loader's canonicalization
    # and must leave the order-statistics universe (NULL ranks differently
    # than it aggregates) — mirrors the oracle's isfinite() filter
    e = table(spark, sf_dir, "events").select(
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    ).where(F.col("cents").isNotNull())
    wr = Window.partitionBy("event_type").orderBy("cents")
    wc = Window.partitionBy("event_type")
    r = e.select(
        "event_type",
        "cents",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wc).alias("n"),
    )
    b = r.groupBy("event_type").agg(
        F.max(
            F.when(
                F.col("rn") == F.greatest(F.expr("(n * 1) div 100"), F.lit(1)),
                F.col("cents"),
            )
        ).alias("p01"),
        F.max(
            F.when(
                F.col("rn") == F.greatest(F.expr("(n * 99) div 100"), F.lit(1)),
                F.col("cents"),
            )
        ).alias("p99"),
    )
    return (
        e.join(b, "event_type")
        .groupBy("event_type", "p01", "p99")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.when(F.col("cents") < F.col("p01"), 1).otherwise(0)).alias(
                "n_clipped_low"
            ),
            F.sum(F.when(F.col("cents") > F.col("p99"), 1).otherwise(0)).alias(
                "n_clipped_high"
            ),
            F.sum(
                F.least(F.greatest(F.col("cents"), F.col("p01")), F.col("p99"))
            ).alias("winsorized_sum_cents"),
        )
        .select(
            "event_type",
            "n_events",
            F.col("p01").alias("p01_cents"),
            F.col("p99").alias("p99_cents"),
            "n_clipped_low",
            "n_clipped_high",
            "winsorized_sum_cents",
        )
    )
