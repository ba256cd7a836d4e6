"""Scale guards on the exact (verification-kernel) dedup paths."""

from __future__ import annotations

import pytest


def test_embedding_cosine_refuses_oversized_input(spark, monkeypatch):
    """The all-pairs cosine kernel must refuse corpus-scale inputs and
    point at the LSH-blocked sibling instead of launching an O(n²) join."""
    from bigdatatiler_spark.operators import dedup

    monkeypatch.setattr(dedup, "EXACT_PAIRS_MAX_INPUT", 10)
    with pytest.raises(ValueError, match="lsh_blocked"):
        dedup.dedup_embedding_cosine(spark, "/root/testdata/sf0.001")


def test_embedding_cosine_runs_under_bound(spark):
    """Within the bound the kernel still runs (sf0.001 has 500 vectors)."""
    from bigdatatiler_spark.operators.dedup import dedup_embedding_cosine

    assert dedup_embedding_cosine(spark, "/root/testdata/sf0.001").count() >= 0


def test_ngram_length_bucket_is_lossless(spark):
    """±1-octave probing must reproduce the unbucketed all-pairs result —
    Jaccard ≥ 0.9 bounds token-set sizes within a factor 1/0.9 < 2, so no
    qualifying pair can span two bucket boundaries."""
    from pyspark.sql import functions as F

    from bigdatatiler_spark.operators.dedup import (
        NGRAM_THRESHOLD,
        _norm_col,
        dedup_ngram_jaccard,
    )
    from bigdatatiler_spark.tables import table

    sf_dir = "/root/testdata/sf0.001"
    got = {
        (r["doc_id_1"], r["doc_id_2"])
        for r in dedup_ngram_jaccard(spark, sf_dir).collect()
    }

    docs = table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", "lang", "source",
        F.array_distinct(F.split(_norm_col(), " ")).alias("toks"),
    )
    b = d.select(*[F.col(c).alias(f"{c}_2") for c in d.columns])
    jac = (
        F.size(F.array_intersect("toks", "toks_2")).cast("double")
        / F.size(F.array_union("toks", "toks_2"))
    )
    want = {
        (r["doc_id"], r["doc_id_2"])
        for r in d.join(
            b,
            (F.col("lang") == F.col("lang_2"))
            & (F.col("source") == F.col("source_2"))
            & (F.col("doc_id") < F.col("doc_id_2")),
        )
        .where(F.round(jac, 6) >= NGRAM_THRESHOLD)
        .select("doc_id", "doc_id_2")
        .collect()
    }
    assert got == want and got, "bucketed candidates diverge from all-pairs"


def test_incremental_minhash_pairs_batch_to_corpus_only(spark):
    """Every emitted match must pair a batch doc with a corpus doc (never
    batch×batch or corpus×corpus), at most one match per batch doc, and
    each match must also appear in the full symmetric LSH dedup — the
    incremental path is a filtered view of it, not a different metric."""
    from bigdatatiler_spark.operators.dedup import (
        INCREMENTAL_BATCH_MOD as MOD,
        dedup_incremental_minhash,
        dedup_minhash_lsh,
    )

    sf = "/root/testdata/sf0.001"
    rows = dedup_incremental_minhash(spark, sf).collect()
    assert all(r.doc_id % MOD == 0 and r.dup_of % MOD != 0 for r in rows)
    assert len({r.doc_id for r in rows}) == len(rows), "a batch doc matched twice"

    full = {
        frozenset((r.doc_id_1, r.doc_id_2))
        for r in dedup_minhash_lsh(spark, sf).collect()
    }
    assert all(frozenset((r.doc_id, r.dup_of)) in full for r in rows)


def test_prefix_filter_is_superset_of_minhash_verified(spark):
    """Prefix filtering is EXACT for Jaccard >= 0.6 (no false negatives),
    while MinHash banding is probabilistic — so every banding-verified
    pair must appear in the prefix-filter output. A missing pair means
    the prefix length or global token order broke completeness."""
    from bigdatatiler_spark.operators.dedup import (
        dedup_minhash_lsh,
        dedup_prefix_filter_jaccard,
    )

    sf = "/root/testdata/sf0.001"
    exact = {
        (r["doc_id_1"], r["doc_id_2"])
        for r in dedup_prefix_filter_jaccard(spark, sf).collect()
    }
    banded = {
        (r["doc_id_1"], r["doc_id_2"])
        for r in dedup_minhash_lsh(spark, sf).collect()
    }
    assert banded <= exact, f"banding found pairs prefix filter missed: {banded - exact}"


def test_containment_catches_snippet_inclusion_jaccard_misses(spark, tmp_path):
    """The containment join's reason to exist: a short doc fully quoted
    inside a long one has near-zero Jaccard but containment 1.0. Build
    that corpus, run the registered query against it, and pin both that
    the pair is found and that its Jaccard would NOT have qualified."""
    import os
    from pyspark.sql import functions as F
    from bigdatatiler_spark.operators.dedup import dedup_shingle_containment

    base = " ".join(f"w{i} w{i+1} link{i}" for i in range(40))  # long doc
    snippet = " ".join(base.split()[10:25])  # contiguous quote, 15 tokens
    unrelated = " ".join(f"z{i} q{i} r{i}" for i in range(30))
    rows = [
        (1, base, "en", "srcA", len(base)),
        (2, snippet, "en", "srcA", len(snippet)),
        (3, unrelated, "en", "srcA", len(unrelated)),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "documents.parquet")
    )
    got = {
        (r["doc_id_1"], r["doc_id_2"]): r["containment_e6"]
        for r in dedup_shingle_containment(spark, str(tmp_path)).collect()
    }
    assert (1, 2) in got and got[(1, 2)] >= 800000
    assert not any(3 in pair for pair in got)
    # the same pair fails the Jaccard-family threshold (|∩|/|∪| small)
    from bigdatatiler_spark.operators.dedup import MINHASH_THRESHOLD

    n_small = len(set(" ".join(x) for x in zip(*[snippet.split()[i:] for i in range(3)])))
    n_big = len(set(" ".join(x) for x in zip(*[base.split()[i:] for i in range(3)])))
    jaccard = n_small / n_big  # snippet shingles ⊂ base shingles here
    assert jaccard < MINHASH_THRESHOLD


def test_containment_prefix_filter_complete_on_random_corpora(spark, tmp_path):
    """Prefix filtering must drop NO qualifying pair: compare the
    registered query against a driver-side brute force on a randomized
    corpus with planted inclusions."""
    import os
    import random

    from bigdatatiler_spark.operators.dedup import (
        CONTAIN_DEN,
        CONTAIN_NUM,
        dedup_shingle_containment,
    )

    rng = random.Random(42)
    vocab = [f"t{i}" for i in range(60)]
    rows = []
    texts = {}
    for i in range(24):
        n = rng.randint(8, 60)
        words = [rng.choice(vocab) for _ in range(n)]
        if i % 5 == 4:  # plant an inclusion: doc i embeds a chunk of doc i-1
            prev = texts[i - 1].split()
            k = max(3, len(prev) * 4 // 5)
            words = prev[:k] + words[: max(0, n - k)]
        text = " ".join(words)
        texts[i] = text
        rows.append((i, text, "en", "srcX", len(text)))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "documents.parquet")
    )

    def shingles(t):
        w = t.split()
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    brute = set()
    ids = sorted(texts)
    for a in ids:
        for b in ids:
            if a >= b:
                continue
            sa, sb = shingles(texts[a]), shingles(texts[b])
            if not sa or not sb:
                continue
            if CONTAIN_DEN * len(sa & sb) >= CONTAIN_NUM * min(len(sa), len(sb)):
                brute.add((a, b))
    got = {
        (r["doc_id_1"], r["doc_id_2"])
        for r in dedup_shingle_containment(spark, str(tmp_path)).collect()
    }
    assert got == brute


def test_band_bucket_cap_engages_on_hostile_corpus(spark):
    """r9 verdict item 6: an adversarial self-similar corpus (template
    spam — every doc near-identical) lands whole in ONE bucket per band;
    the BAND_BUCKET_CAP guard must bound it, deterministically, while
    the kept members remain a within-cluster sample (all true dups of
    each other)."""
    from pyspark.sql import functions as F

    from bigdatatiler_spark.operators.dedup import (
        capped_bands,
        minhash_bands,
    )

    n, cap = 200, 8
    # identical shingle sets -> identical signatures -> one bucket/band
    sh = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.array(*[F.lit(f"tok{i} tok{i+1} tok{i+2}") for i in range(5)]).alias(
            "sh"
        ),
    )
    bands = minhash_bands(sh)
    occ = bands.groupBy("band_id", "band_key").count().collect()
    assert all(r["count"] == n for r in occ), "hostile corpus must collide"
    kept = capped_bands(bands, cap=cap)
    kocc = kept.groupBy("band_id", "band_key").count().collect()
    assert all(r["count"] == cap for r in kocc), "cap did not engage"
    # determinism: same input -> same kept member set
    k1 = sorted(r["doc_id"] for r in kept.select("doc_id").distinct().collect())
    k2 = sorted(
        r["doc_id"]
        for r in capped_bands(minhash_bands(sh), cap=cap)
        .select("doc_id")
        .distinct()
        .collect()
    )
    assert k1 == k2


def test_band_bucket_cap_is_noop_on_honest_corpus(spark):
    """On the real fixture no bucket approaches the cap: capped and
    uncapped band frames are identical, and the registered audit query
    reports zero overflow buckets (pairs_capped == pairs_uncapped)."""
    from bigdatatiler_spark.operators.dedup import (
        _shingled,
        capped_bands,
        dedup_minhash_bucket_audit,
        minhash_bands,
    )

    sf = "/root/testdata/sf0.001"
    bands = minhash_bands(_shingled(spark, sf))
    assert capped_bands(bands).count() == bands.count()
    audit = dedup_minhash_bucket_audit(spark, sf).collect()
    assert audit and all(r["overflow_buckets"] == 0 for r in audit)
    assert all(r["pairs_capped"] == r["pairs_uncapped"] for r in audit)


def test_capped_lsh_oracle_parity_when_cap_engages(spark, tmp_path):
    """dedup_minhash_lsh_capped stays ORACLE-EXACT even while the cap is
    actively dropping bucket members: 100 near-identical docs put every
    band bucket at occupancy 100 > BAND_BUCKET_CAP=64, and both engines
    must replay the identical md5-ordered within-bucket sample — so the
    capped candidate set (and the verified pairs) hash-match."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigdatatiler_spark.registry import load_all
    from tools.check_oracle import oracle_connection, table_hash

    n = 100
    text = "alpha beta gamma delta epsilon zeta eta theta"
    tbl = pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array([text] * n),
            "lang": pa.array(["en"] * n),
            "source": pa.array(["s0"] * n),
            "n_chars": pa.array([len(text)] * n, pa.int64()),
        }
    )
    d = tmp_path / "fix"
    d.mkdir()
    pq.write_table(tbl, str(d / "documents.parquet"))

    spec = load_all()["dedup_minhash_lsh_capped"]
    sdf = spec.fn(spark, str(d))
    srows = [tuple(r) for r in sdf.collect()]
    # cap engaged: strictly fewer than the n*(n-1)/2 uncapped pairs —
    # each band keeps an INDEPENDENT 64-sample, so the union recovers
    # most of the cluster's pairs (the "capped members stay wired
    # through other buckets" property) while each band's join is bounded
    # by 64*63/2 instead of 100*99/2
    assert 0 < len(srows) < n * (n - 1) // 2

    con = oracle_connection(str(d))
    res = con.execute(spec.oracle)
    ocols = [c[0] for c in res.description]
    orows = res.fetchall()
    sn, sh = table_hash(list(sdf.columns), srows)
    on, oh = table_hash(ocols, orows)
    assert sn == on and sh == oh, "capped sample diverges across engines"
