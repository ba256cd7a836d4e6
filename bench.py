"""Benchmark harness: the one code path that opens a timing session and
times queries, against the fixture at $SPARK_GRAFT_SF_DIR.

Usage:
    python bench.py                                 # every bench line
    python bench.py NAME... [--reps R] [--prefix N]

The bench lines are ``LINES``: the two one-time builds
(``ann_ivf_index_build``, ``dedup_cc_label_store_build``), then HEADLINE.
With no arguments every line is timed once, in order. With arguments the
first N lines are timed once (replaying the session state a full run
reaches), then each NAME — a bench line or any registered query — as the
min of R runs (default 1). VARIANCE_PRONE lines always take the min of at
least two. Cores and fixture come from the deployment settings
SPARK_GRAFT_CPUS and SPARK_GRAFT_SF_DIR.

Prints per-line detail as a JSON line first, then — as the FINAL stdout
line — a compact JSON summary, both over the lines this run timed:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {<r1-subset name>: sec, ...}, "sf": <sf>, ...}

The final line is deliberately bounded: the round-4 driver recorded
``parsed: null`` because the single 127-entry headline line overflowed its
tail capture, so the last line now carries totals plus only the round-1
query subset (the apples-to-apples trend set, the size that parsed in
round 1); the full per-query detail rides the earlier line.

Each query executes to completion via the noop sink (full computation, no
driver-side materialization cost polluting the numbers). First a warmup
query and the Python worker pool amortize session startup out of the
per-line timings.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from bigdatatiler_spark.registry import load_all
from bigdatatiler_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: headline set: the scan/join/agg/window core + one of each LLM-pipeline
#: operator family (dedup, ANN, text, tiling, asof).
HEADLINE = (
    "events_filtered_topk",
    "events_latest_per_user",
    "events_tumbling_hourly",
    "events_session_windows",
    "events_sliding_counts",
    "events_props_json",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier",
    "tpch_q6_forecast_revenue",
    "tpch_q7_volume_shipping",
    "tpch_q10_returned_items",
    "tpch_q13_order_distribution",
    "tpch_q18_large_volume_customer",
    "tpch_q12_late_shipment",
    "tpch_q19_disjunctive_revenue",
    "tpch_q2_cheapest_part",
    "tpch_q21_sole_supplier_orders",
    "tpch_q11_important_parts",
    "tpch_q16_supplier_part_counts",
    "tpch_q20_concentrated_suppliers",
    "priority_status_cube",
    "nation_grouping_sets",
    "orders_page_offset",
    "orders_page_keyset",
    "orders_status_pivot",
    "orders_merge_upsert",
    "order_price_percentiles",
    "top_customers_per_nation",
    "setops_customer_cohorts",
    "skew_salted_user_activity",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_tfidf_cosine",
    "dedup_edit_distance",
    "dedup_incremental_minhash",
    "sketch_kmv_distinct",
    "sketch_frequent_tokens",
    "sample_train_test_split",
    "sample_leakage_safe_split",
    "dedup_embedding_lsh_blocked",
    "dedup_connected_components",
    "knn_bruteforce_cosine",
    "ann_ivf_topk",
    "ann_ivf_multiprobe",
    "ann_lsh_topk",
    "ann_hamming_binary_topk",
    "embedding_kmeans_cells",
    "doc_token_stats",
    "doc_rolling_hash",
    "doc_quality_score",
    "doc_bpe_token_counts",
    "doc_tile_roundtrip",
    "doc_tile_bytecap_roundtrip",
    "decontaminate_ngram_overlap",
    "pack_token_budget",
    "hybrid_search_rrf",
    "doc_repetition_stats",
    "tokenizer_vocab_coverage",
    "sample_domain_mixture",
    "sample_temperature_mixture",
    "doc_pii_scrub",
    "doc_duplicate_spans",
    "doc_unigram_logprob",
    "events_funnel_conversion",
    "events_funnel_windowed",
    "events_weekly_retention",
    "events_user_lifecycle",
    "events_hourly_anomaly",
    "orders_profile",
    "events_xml_inspection",
    "events_page_keyset",
    "asof_purchase_to_click",
    # round-3 additions
    "dedup_components_two_star",
    "doc_length_rank_deciles",
    "decontaminate_embedding_cosine",
    "sample_fixed_per_stratum",
    "events_zorder_key",
    "dedup_prefix_filter_jaccard",
    "events_hourly_rollup",
    "events_hourly_gapfill",
    "events_gapfill_locf",
    "orders_constraint_audit",
    "lineitem_constraint_audit",
    "tpch_fk_orphan_audit",
    "rangejoin_error_bursts",
    "ann_pq_adc_topk",
    "sample_weighted_priority",
    "bm25_topk",
    "multimodal_phash_near_dup",
    "events_bucket_checksums",
    "events_type_transitions",
    "basket_part_pairs",
    "lineitem_price_quantity_corr",
    "events_time_weighted_value",
    "events_value_histogram",
    "corpus_zipf_slope",
    "customer_rfm_segments",
    "events_session_paths",
    "events_cohort_ltv",
    "events_decayed_engagement",
    "orders_priority_scd2",
    "events_trailing_hour_stats",
    "events_seasonal_backtest",
    "events_weekly_seasonality",
    # round-4 additions
    "graph_pagerank_docs",
    "graph_triangle_cohesion",
    "doc_trigram_search",
    "sketch_countmin_tokens",
    "sketch_kmv_join_estimate",
    "customer_revenue_equidepth",
    "orders_selectivity_report",
    "events_value_mad_outliers",
    "events_iqm_udaf",
    "events_zscore_grouped",
    "doc_rag_chunks",
    "part_unpivot_measures",
    "part_pareto_frontier",
    "lineitem_pit_priority",
    "events_rolling_7d_active_users",
    "events_dau_mau_stickiness",
    "customer_revenue_gini",
    "orders_abc_classification",
    "events_value_winsorized",
    "dedup_shingle_containment",
    "doc_tfidf_keywords",
    "corpus_pmi_collocations",
    # round-5 additions
    "multimodal_png_decode_stats",
    "events_streaming_hourly_parity",
    "events_type_drift_psi",
    "events_cusum_changepoint",
    "doc_phrase_proximity",
    "multimodal_image_ahash_near_dup",
    "multimodal_wav_decode_stats",
    "orders_benford_audit",
    "user_type_entropy",
    "events_first_touch_attribution",
    "events_ab_test_readout",
    "events_streaming_session_parity",
    "events_interval_coverage",
    "events_linear_attribution",
    "events_k_anonymity",
    "events_hazard_curve",
    "embedding_dimension_stats",
    "events_chi2_independence",
    "events_ewma_hourly",
    "orders_fullouter_recon",
    "dedup_minhash_estimate_audit",
    "events_streaming_join_parity",
    "events_hourly_acf",
    "graph_degree_assortativity",
    "doc_rake_keyphrases",
    "events_jsonl_roundtrip",
    "events_streaming_dedup_parity",
    "events_csv_roundtrip",
    # round 6
    "graph_bfs_hops",
    "events_bitmap_distinct",
    "multimodal_video_frame_sample",
    "multimodal_wav_rms_windows",
    "asof_forward_click_to_purchase",
    "multimodal_image_resize_stats",
    "lineitem_weighted_median_price",
    "doc_sentence_stats",
    "graph_kcore_peel",
    # round 7
    "doc_gopher_quality_rules",
    "events_sliding_bitmap_distinct",
    "multimodal_audio_quality_gate",
    "multimodal_video_scene_cuts",
    "events_streaming_stateful_parity",
    "events_hourly_trend_ols",
    "events_orc_roundtrip",
    # round 10
    "pack_training_sequences",
    "doc_blocklist_filter",
    "dedup_minhash_bucket_audit",
    "dsir_importance_weights",
    # round 11 (the four r10-late registrations the r10 verdict flagged as
    # bench-uncovered; budgets from the committed idle-box cold run)
    "dedup_minhash_lsh_capped",
    "pack_sequence_manifest",
    "corpus_source_novelty",
    "dedup_cluster_size_histogram",
    "docs_streaming_neardedup_parity",
    "pack_span_manifest",
    "dedup_semantic_cells",
    # round 11: FULL registry coverage — the 41 names the tripwire never
    # timed (r10 verdict #2 closed the deferred four; this closes the
    # rest, so every registered query has a named budget)
    "union_priority_tiers",
    "sketch_quantile_gk",
    "doc_tile_chunks",
    "tpch_q22_idle_customers",
    "tpch_q4_order_priority",
    "tpch_q9_profit_by_nation",
    "ann_lsh_buckets",
    "dedup_ngram_jaccard",
    "doc_fingerprint_bottomk",
    "corpus_language_profile",
    "doc_lang_id",
    "events_point_read",
    "events_gather_disjunctive",
    "events_user_activity",
    "customers_without_pending_orders",
    "customers_with_urgent_orders",
    "region_rollup",
    "tpch_q8_market_share",
    "tpch_q14_promo_revenue",
    "tpch_q15_top_supplier",
    "tpch_q17_small_quantity_revenue",
    "customer_order_running_total",
    "order_gaps_lag_lead",
    "order_value_quartiles",
    "event_id_generation",
    "part_string_functions",
    "order_date_functions",
    "part_math_functions",
    "part_array_functions",
    "events_map_functions",
    "range_join_event_windows",
    "dedup_simhash",
    "embedding_norm_stats",
    "dedup_embedding_cosine",
    "multimodal_payload_stats",
    "dedup_clusters_verified",
    "dedup_keep_canonical",
    "sketch_topk_native",
    "sketch_hll_native",
    "sample_stratified_by_lang",
    "events_streaming_sliding_parity",
    "docs_streaming_quality_parity",
    "sample_source_cap",
    "pack_curriculum_sequences",
    "dedup_incremental_components",
    "corpus_datasheet",
)


#: queries whose in-bench timing is long-session-state-prone: identical
#: plans measured 1.01 / 6.66 / 14.28 s across the r9/r10/r11 solo
#: artifacts while the isolated cold stayed 0.7-3.4 s every round — a
#: late-session GC/python-worker stall, not plan cost (r11 replayed the
#: 8 preceding bench queries in a fresh JVM: 2.69 s). Timed as the MIN
#: of TWO cold executions (cache cleared between): a one-off stall
#: cannot fire the tripwire, a real plan regression raises both runs.
VARIANCE_PRONE = ("multimodal_png_decode_stats",)


def _run(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _clear(spark) -> None:
    """Drop what one query leaves cached before the next is timed.
    clearCache only drops DataFrame persist() entries; staged frames
    (``_util.stage``) and the iterative operators also pin checkpoint RDD
    blocks — unpersist those too, so every timing stays a cold,
    independent measurement."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()


def _warm_python_workers(spark) -> None:
    """Spin up the Python worker pool before the timed loop.

    Measured (r12, guide §1): the FIRST Arrow-batched UDF stage of a session
    pays ~4.6 s of infrastructure cost — 32 workers forked from the pyspark
    daemon, each importing pandas — which previously landed on whichever
    query happened to run a pandas UDF first. That is session startup of the
    same class as the JVM/codegen warmup above (production executors keep
    reusable worker pools warm across queries; spark.python.worker.reuse is
    on by default), so it is amortized here, outside every per-query timing.
    One batch per core (defaultParallelism, not a literal 32 — r12 ADVICE:
    on a wider machine a hardcoded 32 would leave part of the pool cold and
    bill the fork cost to the first timed pandas-UDF query)."""
    import pandas as pd
    from pyspark.sql.functions import col, pandas_udf
    from pyspark.sql.types import LongType

    def _identity(s):
        return s

    # real class objects, not strings: this module's `from __future__ import
    # annotations` would leave 'pd.Series' hints unresolvable (pd is local)
    _identity.__annotations__ = {"s": pd.Series, "return": pd.Series}
    n = spark.sparkContext.defaultParallelism
    _run(
        spark.range(0, 100 * n, 1, n).select(
            pandas_udf(_identity, LongType())(col("id"))
        )
    )


def _build_ivf_index(spark) -> None:
    """The IVF coarse quantizer is built once and queried many times (the
    standard ANN-bench split: index build vs query latency), so its
    one-time k-means training is its own line and the ann_ivf_* /
    embedding_kmeans_cells lines report the query path against the built
    index (process-wide memo in similarity.py). nz_base (zero-norm
    exclusion) must match the ANN queries' training input exactly — the
    centroid memo is shared via cache_key."""
    from bigdatatiler_spark.operators.similarity import kmeans_centroids, nz_base
    from bigdatatiler_spark.tables import table

    kmeans_centroids(nz_base(table(spark, SF_DIR, "embeddings")), cache_key=("ivf", SF_DIR))


def _build_label_store(spark) -> None:
    """Same split for the incremental-clustering label store: the OLD
    corpus's component labels are the artifact a previous run leaves
    behind, so build cost is its own line and the
    dedup_incremental_components line measures the per-ingest merge
    against the built store (idempotent: a store left by an earlier run on
    the same fixture makes this a no-op read)."""
    from bigdatatiler_spark.operators.graph import old_labels_path

    old_labels_path(spark, SF_DIR)


BUILDS = {
    "ann_ivf_index_build": _build_ivf_index,
    "dedup_cc_label_store_build": _build_label_store,
}

#: every bench line, in the order a full run times them
LINES = (*BUILDS, *HEADLINE)


def time_line(spark, specs, name: str, reps: int = 1) -> float:
    """Seconds for one bench line or registered query: the min over
    ``reps`` runs, each under ``name`` as the job description and followed
    by ``_clear``. A build line runs once: both builds are memoized, so a
    second run would time the memo, not the build."""
    if name in BUILDS:
        run, reps = BUILDS[name], 1
    else:
        def run(session) -> None:
            _run(specs[name].fn(session, SF_DIR))
    if name in VARIANCE_PRONE:
        reps = max(reps, 2)
    best = float("inf")
    for _ in range(reps):
        spark.sparkContext.setJobDescription(name)
        t0 = time.time()
        run(spark)
        best = min(best, round(time.time() - t0, 3))
        _clear(spark)
    return best


def run_bench(names, reps: int = 1, **env: str) -> dict[str, float]:
    """Time ``names`` (min of ``reps`` runs each) in a fresh ``python
    bench.py`` process with ``env`` added to its environment (e.g.
    SPARK_GRAFT_CPUS, SPARK_GRAFT_SF_DIR): one JVM per call, so each call
    picks its own cores and fixture. Returns the detail line's seconds per
    name; a failed run raises."""
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), *names, "--reps", str(reps)],
        stdout=subprocess.PIPE, text=True, check=True, cwd=REPO,
        env={**os.environ, **env},
    ).stdout
    detail = next(
        json.loads(line) for line in out.splitlines()
        if line.startswith('{"metric": "headline_queries_detail"')
    )
    return detail["queries"]


def main(argv: list[str] | None = None) -> None:
    parser = argparse.ArgumentParser(
        description="Time bench lines (see the module docstring)."
    )
    parser.add_argument(
        "names", nargs="*", metavar="NAME",
        help="bench line or registered query, timed after the prefix",
    )
    parser.add_argument(
        "--reps", type=int, default=1, help="runs per NAME; the min is kept"
    )
    parser.add_argument(
        "--prefix", type=int, metavar="N",
        help="time the first N bench lines first "
        "(default: every line without a NAME, none with one)",
    )
    args = parser.parse_args(argv)
    specs = load_all()
    unknown = [n for n in args.names if n not in BUILDS and n not in specs]
    if unknown:
        parser.error(f"not a bench line or registered query: {unknown}")
    if args.reps < 1 or (args.prefix or 0) < 0:
        parser.error("--reps must be >= 1 and --prefix >= 0")
    prefix = args.prefix if args.prefix is not None else (0 if args.names else len(LINES))

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    # The dedup/ANN pipelines persist() their shared intermediates; at the
    # local-mode default 1g driver heap, 47 queries of accumulated cache
    # means storage eviction + GC churn mid-run (observed 6x inflation on
    # dedup_minhash_lsh). Real heap + clearCache between queries keeps each
    # timing a cold, independent measurement.
    spark = get_spark("bigdatatiler-bench", extra_conf={"spark.driver.memory": "8g"})
    spark.sparkContext.setLogLevel("ERROR")

    from bigdatatiler_spark.operators.graph import labels_store_path

    # freshness transparency (r12 verdict item 6): a store left in /tmp by
    # an earlier run on the same fixture makes the label-store line a ~0 s
    # no-op read — record whether this run found no store and so built it,
    # so the artifact can't pass off a warm read as a build.
    label_store_built = not os.path.exists(
        os.path.join(labels_store_path(SF_DIR), "_SUCCESS")
    )

    # warmup: JVM codegen + parquet footer caches, then the worker pool
    _run(specs["events_filtered_topk"].fn(spark, SF_DIR))
    _warm_python_workers(spark)
    _clear(spark)

    timings = {name: time_line(spark, specs, name) for name in LINES[:prefix]}
    for name in args.names:
        timings[name] = time_line(spark, specs, name, args.reps)

    total = round(sum(timings.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    # Apples-to-apples trend line: the headline set GROWS every round
    # (47 → 127+ entries), so the grand total is not comparable across
    # rounds. The round-1 query subset reads "within 2x of the recorded
    # baseline" against the same work.
    r1_queries: set[str] = set()
    r1_path = os.path.join(REPO, "BENCH_r01.json")
    try:
        with open(r1_path) as f:
            r1_queries = set(json.load(f)["parsed"]["queries"])
    except (OSError, KeyError, ValueError):
        pass
    r1_timings = {k: v for k, v in timings.items() if k in r1_queries}

    # Named-regression tripwire: compare against the committed per-query
    # budget (2x a solo-run measurement, 1.5 s floor — see
    # tools/time_budget.py). Violations ride the detail line so the
    # bounded final line stays parseable; shared-box load noise stays
    # under the generous threshold, a real plan regression does not.
    budget_violations: dict[str, list[float]] = {}
    budget_path = os.path.join(
        REPO, "bigdatatiler_spark", "plans", "time_budget.json"
    )
    # budget_status makes a DISABLED tripwire visible in bench artifacts
    # (ADVICE r7: a missing/malformed/sf-mismatched budget file must not
    # silently skip the named-regression check).
    try:
        with open(budget_path) as f:
            budget = json.load(f)
        if str(budget.get("sf")) != str(sf_val):
            budget_status = (
                f"skipped: budget sf={budget.get('sf')} != run sf={sf_val}"
            )
        else:
            for name, sec in timings.items():
                cap = budget["budget_sec"].get(name)
                if cap is not None and sec > cap:
                    budget_violations[name] = [sec, cap]
            budget_status = "ok"
    except OSError as e:
        budget_status = f"skipped: budget file unreadable ({e.__class__.__name__})"
    # TypeError/AttributeError: budget parses but has the wrong SHAPE
    # (top-level array, budget_sec not a dict) — ADVICE r8; without them
    # budget_status stays unbound and the summary print dies on NameError
    except (KeyError, ValueError, TypeError, AttributeError) as e:
        budget_status = f"skipped: budget file malformed ({e.__class__.__name__})"

    detail = {
        "metric": "headline_queries_detail",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "budget_violations": budget_violations,
        "budget_status": budget_status,
        "label_store_built": label_store_built,
    }
    # Full per-query detail (for humans / PLANS.md diffing) — NOT last.
    print(json.dumps(detail))
    # Compact, bounded summary as the FINAL stdout line (driver-parseable).
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        # bounded: only the r1 subset (empty if BENCH_r01 is absent) — the
        # full map is on the preceding detail line; falling back to the
        # full map here would reintroduce the tail-capture overflow.
        "queries": r1_timings,
        "sf": sf_val,
        "n_queries": len(timings),
    }
    if r1_timings:
        out["r1_subset_sec"] = round(sum(r1_timings.values()), 3)
        out["r1_subset_n"] = len(r1_timings)
    print(json.dumps(out))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
