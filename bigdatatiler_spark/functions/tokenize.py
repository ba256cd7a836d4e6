"""Tokenizers for the text-analysis surface.

Two tiers (the brief's "whitespace + a BPE-ish regex"):
- whitespace: ``F.split`` on the normalized text, written inline
  throughout operators/text.py;
- BPE-ish regex: a GPT-2-style pre-tokenizer pattern — runs of letters,
  single digits, runs of non-alphanumerics — via ``regexp_extract_all``.
  Real BPE then merges within these pre-tokens; the pre-token count is
  the standard fast token-count estimate for corpus budgeting.

Both are pure built-in expressions (JVM-side, codegen'd, no UDF). The
regex avoids engine-specific syntax (no lookaround, no \\p classes) so
Spark (Java regex) and DuckDB (RE2) tokenize identically — which is what
makes ``doc_bpe_token_counts`` oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..registry import register
from ..tables import table

#: GPT-2-ish pre-tokenizer: letter runs | single digits | symbol runs.
#: Whitespace is excluded via the EXPLICIT class, not \s: Java's \s is
#: [ \t\n\x0B\f\r] but RE2's lacks \x0B, so a vertical tab would join a
#: symbol run on DuckDB only (ADVICE r9 — same class as _NORM_SQL).
BPE_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9 \t\n\r\x0B\f]+"
_BPE_SQL_PATTERN = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 \\t\\n\\r\\x0B\\f]+"


def bpe_pre_tokens(text: Column) -> Column:
    """BPE-ish pre-tokens (array<string>)."""
    return F.regexp_extract_all(text, F.lit(BPE_PATTERN), 0)


def est_bpe_token_count(text: Column) -> Column:
    """Token-budget estimate: pre-token count + long-run surcharge.

    BPE splits letter runs longer than ~8 chars into multiple merges; the
    surcharge (ceil(len/8) - 1 per long run) tracks real BPE counts within
    a few percent on English text — good enough for corpus budgeting, and
    fully deterministic.
    """
    toks = bpe_pre_tokens(text)
    # ceil(len/8) as pure integer arithmetic ((len+7) >> 3) — keeps every
    # value on the integer path end-to-end (determinism discipline)
    surcharge = F.aggregate(
        toks,
        F.lit(0).cast("bigint"),
        lambda acc, t: acc
        + F.when(
            F.length(t) > 8,
            F.shiftright((F.length(t) + 7).cast("bigint"), 3) - 1,
        )
        .otherwise(0)
        .cast("bigint"),
    )
    return F.size(toks).cast("bigint") + surcharge


@register(
    "doc_bpe_token_counts",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             regexp_extract_all(text, '{_BPE_SQL_PATTERN}') AS toks
      FROM documents
    )
    SELECT
      doc_id, source,
      len(toks) AS n_pre_tokens,
      CAST(len(toks) + coalesce(list_sum(
        [CASE WHEN length(x) > 8 THEN CAST((length(x) + 7) // 8 AS BIGINT) - 1
              ELSE 0 END for x in toks]), 0) AS BIGINT) AS est_bpe_tokens,
      len(list_distinct(toks)) AS n_unique_pre_tokens
    FROM t
    """,
)
def doc_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document BPE-ish token counting over the raw text (no
    normalization — tokenizers see the original casing/punctuation).
    Map-only, no shuffle; at 100 TB this is the token-budget pass that
    prices a corpus before training."""
    docs = table(spark, sf_dir, "documents")
    toks = bpe_pre_tokens(F.col("text"))
    return docs.select(
        "doc_id",
        "source",
        F.size(toks).cast("bigint").alias("n_pre_tokens"),
        est_bpe_token_count(F.col("text")).alias("est_bpe_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_unique_pre_tokens"),
    )
