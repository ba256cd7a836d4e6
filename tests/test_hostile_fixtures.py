"""Differential regression on hostile fixture content.

Round 5's content fuzzer (tools/hostile_fixtures.py) found six real
divergence/crash classes on plausible real-corpus content:

- zero-norm embeddings -> ANSI DIVIDE_BY_ZERO in every cosine kernel
  (fixed: nonzero-norm universe on both engines, similarity.nz_base);
- empty documents / empty strata -> zero denominators (fixed:
  greatest(den, 1) / HAVING > 0 on both engines);
- malformed JSON -> DuckDB oracle parse error where Spark returns NULL
  (fixed: json_valid guards);
- pre-1970 timestamps -> trunc-vs-floor hour bucketing divergence
  (fixed: calendar date_trunc on the Spark side);
- funnel not-reached sentinel -1 colliding with negative epochs
  (fixed: NULL sentinel);
- session boundary: Spark merges an event at EXACTLY last+gap, the
  gaps-and-islands oracle with >= split it (fixed: strict >);
- DuckDB list_sum([]) is NULL where Spark's fold is 0 (fixed: coalesce).

This test rebuilds the hostile variant deterministically in tmp and
re-runs the once-red queries through BOTH engines, hash-comparing like
the harness — so none of these classes can silently return.
"""

from __future__ import annotations

import pytest

from bigdatatiler_spark.registry import load_all
from tools.check_oracle import oracle_connection, pandas_hash, table_hash
from tools.hostile_fixtures import build

#: the queries that were red on hostile content before the round-5 fixes,
#: one per divergence class (plus the class's in-family siblings)
HOSTILE_PINNED = (
    "knn_bruteforce_cosine",        # zero-norm embeddings
    "dedup_embedding_lsh_blocked",  # zero-norm, bucketed path
    "doc_quality_score",            # empty doc, n_chars = 0
    "doc_repetition_stats",         # 0/1-token doc, n_bigrams = 0
    "doc_bpe_token_counts",         # list_sum([]) NULL vs 0
    "sample_domain_mixture",        # zero-char stratum
    "events_props_json",            # malformed JSON
    "event_id_generation",          # malformed JSON
    "events_hourly_rollup",         # pre-1970 hour bucketing
    "events_session_windows",       # exact-gap session boundary
    "events_funnel_windowed",       # negative-epoch sentinel
    "corpus_pmi_collocations",      # 0/1-token bigram expansion guard
    # fuzz round 2: NULL event_type / NULL user_id key classes
    "events_funnel_conversion",     # NULL user: fold-group vs USING-join
    "asof_purchase_to_click",       # NULL user: window pseudo-group vs ASOF
    "events_zscore_grouped",        # NULL type: pandas group vs USING-join
    "events_session_paths",         # NULL type path elements
    "events_xml_inspection",        # NULL type nulls the XML concat
    # fuzz round 3: NaN/Inf metric values and NaN embedding components
    "events_iqm_udaf",              # NaN cents reach the pandas UDAF
    "events_value_mad_outliers",    # NULL cents in the rank universe
    "events_map_functions",         # DuckDB NaN >= 50 is TRUE
    "ann_pq_adc_topk",              # NaN component kills quantization cast
    # events_hourly_rollup also pinned the non-finite-cents idiom (fuzz 3)
    # — listed once above for the pre-1970 hour-bucketing class.
    # fuzz round 4 (this session): streaming session_window drops
    # pre-epoch events against the initial watermark (fixed: no
    # watermark in complete-mode parity), plus the new-op batch pinned
    # on hostile content from day one
    "events_streaming_session_parity",  # initial-watermark late filter
    "events_interval_coverage",     # NULL-ts ordering exclusion
    "events_linear_attribution",    # NULL-cents purchase sessions
    "events_k_anonymity",           # NULL user/type QI classes
    "events_hazard_curve",          # degenerate single-week tenures
    "embedding_dimension_stats",    # NaN/zero-norm embedding components
    "events_chi2_independence",     # NULL type/ts contingency cells
    "events_ewma_hourly",           # NULL-type series (arg_max, not join)
    # fuzz round 4: huge-finite metrics (1e20), year-9999 timestamps,
    # extreme negative keys (-2^62), huge embedding components (1e30),
    # full-row duplicates, empty-string types
    "events_cohort_ltv",            # 1e20 cents → TRY_CAST/loader clamp
    "events_first_touch_attribution",  # year-9999 → saturated ts_ns
    "events_hourly_gapfill",        # year-9999 → capped spine
    "events_gapfill_locf",          # year-9999 → capped spine (LOCF)
    "events_zorder_key",            # -2^62 key → DECIMAL(38,0) scaling
    "events_hourly_anomaly",        # zero-variance type → guarded z
    "ann_ivf_topk",                 # 1e30 component → nz_base max-abs
    # dedup_embedding_lsh_blocked also pinned the inline-filter drift
    # (fuzz 4) — listed once above for the zero-norm bucketed class.
    "orders_fullouter_recon",       # negative-price feed rows
    "dedup_minhash_estimate_audit", # unicode/empty/dup document content
    "events_streaming_join_parity", # watermark-free inner interval join
    "events_hourly_acf",            # zero-variance series → NULL acf
    "graph_degree_assortativity",   # degenerate/empty candidate graphs
    "doc_rake_keyphrases",          # empty/1-token/unicode/ws-only docs
    "events_jsonl_roundtrip",       # pre-epoch % sign, unicode via JSONL
    "events_streaming_dedup_parity",# stateful dedup of full-row replays
    # fuzz round 5: nested JSON $.k, +2^62 keys, -1e20 metrics,
    # near-nanos-max (2262) timestamps, unicode event types, pre-1970 +
    # year-9999 order/ship dates, 100% discounts, duplicate lineitem PKs
    # events_props_json also covers nested $.k -> try_cast NULL (fuzz 5)
    # — listed once above for the malformed-JSON class.
    # event_id_generation also covers nested $.k under ANSI (fuzz 5).
    # asof_purchase_to_click also covers 2262 raw-us vs saturated-ns
    # (fuzz 5) — listed once above for the NULL-user ASOF class.
    "range_join_event_windows",     # 2262 ts inside the range window
    # events_session_paths also covers the 2262 raw-us gap test (fuzz 5).
    "events_type_transitions",      # µs ordering of far-future rows
    "events_time_weighted_value",   # µs ordering + raw-ms intervals
    "lineitem_constraint_audit",    # duplicate composite PKs counted
    "tpch_q1_pricing_summary",      # 100% discount / zero quantity rows
    "events_csv_roundtrip",         # ''-vs-NULL through quoted CSV
    # round 6: the new-op batch pinned on hostile content from day one,
    # plus class 17 — equal-timestamp as-of ties (year-9999 saturated
    # rows collide) resolved ARBITRARILY by both the window sort and
    # DuckDB's native ASOF; fixed by explicit event_id tie-break both
    # engines (oracles became LATERAL top-1)
    "asof_forward_click_to_purchase",  # class 17 (caught here)
    "graph_bfs_hops",               # BFS over hostile dup graph
    "events_bitmap_distinct",       # -2^62 ids through word/bit split
    "multimodal_video_frame_sample",  # container+decode on every doc
    "multimodal_wav_rms_windows",   # framed energy on every doc
    # fuzz round 6 proper (classes 18-25): NULL text/ts/keys, ragged
    # vectors, negative doc_ids, whitespace-preserving keys
    "events_tumbling_hourly",       # class 19: NULL ts window drop
    # events_ewma_hourly also hit class 19 (NULL bucket in its ordered
    # series) — listed once above for the NULL-type arg_max class.
    "lineitem_pit_priority",        # class 19/NULL dim key equality join
    "sketch_kmv_join_estimate",     # class 24: NULL hash in bottom-k
    "doc_tile_roundtrip",           # class 23: greatest() ignores NULL
    "doc_rolling_hash",             # class 25: list_prepend(0, NULL)
    "multimodal_png_decode_stats",  # class 20: floor-mod vs trunc-mod
    "dedup_embedding_cosine",       # class 18 + inline-universe drift
    "events_streaming_hourly_parity",  # class 19 on the streaming oracle
    # round-6 batch 2: new ops pinned on hostile content from day one
    "multimodal_image_resize_stats",   # negative-id floor-mod index map
    "lineitem_weighted_median_price",  # zero/negative weights, NULL flag
    "doc_sentence_stats",              # NULL/empty/punct-only bodies
    "graph_kcore_peel",                # hostile dup-graph peeling
    # fuzz round 7 (classes 26-27): sub-ms pre-epoch instants and NULL
    # order dates. Class 26: Spark unix_millis FLOORS -1 µs to -1 ms
    # while DuckDB epoch_ms TRUNCATES it to 0 — every ts_ms-emitting
    # oracle (86 sites) now wraps epoch_ms(date_trunc('milliseconds', x))
    # to pin floor on both engines. Class 27: NULL o_orderdate sorts
    # FIRST in Spark windows and LAST in DuckDB — navigation windows pin
    # NULLS FIRST explicitly; interval builders (SCD2 / PIT dim) exclude
    # undated rows; PROBES keep them (their axis is l_shipdate).
    # events_session_windows / asof / xml / streaming parities already
    # pinned above also caught class 26 — not re-listed.
    "skew_salted_user_activity",       # class 26 on the salted rollup
    "events_bucket_checksums",         # class 26 in integrity checksums
    "customer_order_running_total",    # class 27: NULLS FIRST pinned
    "order_gaps_lag_lead",             # class 27: lag/lead navigation
    "orders_priority_scd2",            # class 27: undated rows excluded
    "events_trailing_hour_stats",      # class 19 applied to RANGE frames
    "events_dau_mau_stickiness",       # class 26 on the day axis
    "events_rolling_7d_active_users",  # class 26 on the day axis
    # event_id_generation (class 26 in the ULID time field) and
    # events_funnel_windowed (class 26 at the funnel window edge) are
    # already pinned above for earlier classes - not re-listed.
    # fuzz round 8 (class 28): doc_id = 2^62 overflows the closed-form
    # media/PII generators' doc_id*k multiplications in BIGINT on BOTH
    # engines (DuckDB errors, Spark ANSI throws) — every oracle-side
    # product now pre-reduces doc_id modulo the formula's cycle first
    # ((d*k) mod m == ((d mod m)*k) mod m), and cleaning.py applies the
    # same reduction Spark-side. Also pinned: the round-7 ops under the
    # full fuzz-8 mutation set (year-1 ts, ZWJ group keys, inexact-double
    # metric, ragged-long/±inf embeddings, duplicate JSON keys).
    "multimodal_video_scene_cuts",     # class 28: frame-pair formula
    "multimodal_wav_decode_stats",     # class 28: sample formula (mod 4096)
    "doc_pii_scrub",                   # class 28: synthetic IP octet
    "events_streaming_stateful_parity",  # µs/cents Decimal exactness > 2^53
    "events_orc_roundtrip",            # decimal-native format leg
    "events_hourly_trend_ols",         # NULL/ZWJ type groups, year-1 hour
    "multimodal_audio_quality_gate",   # class 28: gate over sample formula
    # fuzz round 8 classes 29-33:
    # (29) Spark `div` returns LONG even on DECIMAL operands and WRAPS
    #      silently past 2^63 (+ floor(double) inexact past 2^53) — the
    #      (x - x % n)/n pure-DECIMAL truncating form replaces both;
    # (30) ts_ns saturation was asymmetric: year-1 epoch (-6.2e16 µs)
    #      times 1000 overflowed int64 — clamp is now ±9e15 µs;
    # (31) INT64 moment overflow at hostile cents (~1.2e13): zscore's
    #      sum(c²) and time-weighted's c×gap ride HUGEINT/DECIMAL(38,0);
    # (32) NULL user hash in the KMV bottom-k (class-24 rule applied);
    # (33) NULL dimension attributes: PIT regimes exclude them (IGNORE-
    #      NULLS as-of vs interval join disagree on leading-null
    #      coverage); quartiles pin NULLS FIRST on the priority rank.
    # events_linear_attribution (29), events_time_weighted_value (31 +
    # zero-observed guard), events_zscore_grouped (31) and
    # lineitem_pit_priority (33) are already pinned above for earlier
    # classes - not re-listed.
    "rangejoin_error_bursts",          # class 30: symmetric ns clamp
    "sketch_kmv_distinct",             # class 32: NULL not a sketch element
    "order_value_quartiles",           # class 33: NULLS FIRST pin
    # fuzz round 9 (classes 34-38): NaN prices, locale case folding,
    # duplicated PKs.
    # (34) NaN o_totalprice / l_extendedprice: DuckDB 1.0.0's TRY_CAST
    #      (NaN AS DECIMAL) is ITSELF an Invalid Input Error (inf and
    #      overflow correctly give NULL) — the only safe oracle mirror of
    #      Spark's NULL-on-NaN cast is TRY_CAST(CASE WHEN isfinite(x)
    #      THEN x END AS DECIMAL), applied to all 28 price-cast sites;
    # (35) NaN in quantile kernels: Spark's percentile/percentile_approx
    #      sort NaN GREATEST (p99 = NaN) while DuckDB's quantile_* skip
    #      it — non-finite measures leave the quantile universe on both
    #      engines (finite_or_null / isfinite CASE);
    # (36) Unicode case folding is locale/library-defined: JVM
    #      lower('İ') → 'i'+combining-dot vs utf8proc 'i'; Java applies
    #      the contextual final-sigma rule, utf8proc does not — the
    #      tokenizer normalizer now folds ASCII [A-Z] ONLY (translate),
    #      reproducible regardless of linked Unicode tables;
    # (37) duplicate doc_id with different text: reassembly keyed on a
    #      non-unique id interleaves two documents — the tile ingest
    #      arbiters conflicts by max md5(text) (tiling), and the
    #      closed-form image pipeline hashes DISTINCT ids so verify
    #      joins don't fan out (ahash);
    # (38) duplicate vec_id with different embeddings breaks every
    #      ranking/seed total order that tiebreaks on vec_id — the
    #      embedding universe quarantines ambiguous PKs (QUALIFY
    #      count(*) OVER (PARTITION BY vec_id) = 1 both engines).
    "tpch_q6_forecast_revenue",        # class 34: revenue cast guard
    "orders_benford_audit",            # class 34: substr-of-cents digits
    "order_price_percentiles",         # class 35: exact percentile
    "sketch_quantile_gk",              # class 35: GK sketch path
    "doc_token_stats",                 # class 36: token keys + lengths
    "doc_tfidf_keywords",              # class 36: vocabulary keys
    "doc_unigram_logprob",             # class 36: LM vocabulary
    "doc_tile_bytecap_roundtrip",      # class 37: conflicting-id arbiter
    "multimodal_image_ahash_near_dup", # class 37: distinct-id pair joins
    "embedding_kmeans_cells",          # class 38: ambiguous-PK quarantine
    # fuzz round 10 (classes 39-43): NaN spread to every decimal-cast
    # double (l_quantity/l_discount/l_tax/c_acctbal/s_acctbal/
    # p_retailprice) and the first dimension-side mutations.
    # (39) the class-34 guard generalized to all 28 remaining decimal
    #      casts; the one Spark-side SQL string (grouping sets) needed
    #      Spark's own spelling (NOT isnan + |x| != Inf — no isfinite);
    # (40) DuckDB's VECTORIZED scan comparisons disagree with its own
    #      scalar path (and Spark) on NaN range predicates (NaN <= k
    #      TRUE in the scan, FALSE scalar) — range predicates over
    #      possibly-NaN measures pin NOT isnan explicitly, and audits
    #      state per-rule NaN semantics (NaN discount IS bad; NaN
    #      quantity is unknown, not non-positive);
    # (41) sqrt out-of-domain: Spark NaN vs DuckDB hard error — NULL on
    #      both via an explicit domain guard;
    # (42) concat NULL semantics: Spark NULLs the result on any NULL
    #      arg, DuckDB skips it — concat_ws (identical skip-NULL rule
    #      on both engines) replaces concat where args are nullable;
    # (43) NULL brand / non-finite price leave the skyline-dominance
    #      universe (NULL never matches the anti-join equality while
    #      Spark's window groups the NULL partition).
    "nation_grouping_sets",            # class 39: Spark-side guard spelling
    "tpch_q19_disjunctive_revenue",    # class 40: range-arm NaN pin
    "part_math_functions",             # class 41: sqrt domain
    "part_string_functions",           # class 42: concat_ws NULL rule
    "part_pareto_frontier",            # class 43: frontier universe
    # fuzz round 11 (classes 44-45): denormal metrics, sub-day date
    # arithmetic; plus first-ever nation/region mutations (NULL dim
    # name/FK, trailing-space filter literal) — zero reds from those,
    # the NULL-key join rules from earlier rounds already cover them.
    # (44) a denormal 5e-324 price passes `> 0` but rounds to 0 cents,
    #      whose "first digit" is 0 → 1/digit divides by zero (ANSI
    #      Spark errors, DuckDB floats to inf): Benford's universe is
    #      POSITIVE INTEGER CENTS, pinned on both engines;
    # (45) Spark's add_months returns a DATE (time-of-day dropped)
    #      while DuckDB's ts + INTERVAL keeps it — exposed by the first
    #      sub-day o_orderdate; month arithmetic pinned to the DATE part
    #      by explicit casts on both engines.
    "order_date_functions",            # class 45: add_months date pin
    # round-8 new op, pinned on hostile content from day one
    "dedup_tfidf_cosine",              # rare-bigram blocked TF-IDF cosine
    # round-9 new ops, pinned on hostile content from day one
    "doc_blocklist_filter",            # phrase-blocklist content filter
    "pack_training_sequences",         # token-budget sequence packing
    # round-11 new ops, pinned on hostile content from day one
    "dedup_semantic_cells",            # zero-norm/ragged/dup-id vectors through the cells
    "sample_source_cap",               # NULL sources + hostile key content
    "pack_span_manifest",              # 0/1-token docs through the span explode
    "pack_curriculum_sequences",       # curriculum order under conflicting-id arbitration
    "dedup_incremental_components",    # stored-label contraction on hostile dup content
)

# every class keeps exactly one pinned run; duplicates would re-run the
# same differential under suffixed pytest IDs (ADVICE r5)
assert len(set(HOSTILE_PINNED)) == len(HOSTILE_PINNED)


@pytest.fixture(scope="module")
def hostile_dir(tmp_path_factory):
    dest = str(tmp_path_factory.mktemp("hostile"))
    build("/root/testdata/sf0.001", dest)
    return dest


@pytest.fixture(scope="module")
def oracle_con(hostile_dir):
    con = oracle_connection(hostile_dir)
    return con


@pytest.mark.parametrize("name", HOSTILE_PINNED)
def test_hostile_differential(name, spark, hostile_dir, oracle_con):
    import pandas as pd

    spec = load_all()[name]
    sdf = spec.fn(spark, hostile_dir)
    srows = [tuple(r) for r in sdf.collect()]
    scols = list(sdf.columns)
    res = oracle_con.execute(spec.oracle)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    opdf = oracle_con.execute(spec.oracle).df()

    assert sorted(scols) == sorted(ocols)
    sn, sh = table_hash(scols, srows)
    on, oh = table_hash(ocols, orows)
    assert sn == on, f"{name}: rowcount {sn} != {on}"
    assert sh == oh, f"{name}: value hash diverges on hostile content"
    assert pandas_hash(pd.DataFrame(srows, columns=scols)) == pandas_hash(opdf), (
        f"{name}: pandas-materialization hash diverges on hostile content"
    )
