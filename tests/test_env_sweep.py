"""Conf-invariance smoke (full matrix: tools/env_sweep.py).

Round 2 had 8 queries red on the driver while byte-exact locally — a
session-conf divergence the repo couldn't see. These tests pin (a) that
the fixture canaries pass, so a regenerated fixture fails ONE named test
instead of dozens of mysterious ones, and (b) that the formerly-divergent
queries hash-match the oracle under hostile session confs.
"""

from __future__ import annotations

import pytest

from bigdatatiler_spark.tables import TABLES, table
from tools.env_sweep import VARIANTS, oracle_hashes, run_variant

SF = "/root/testdata/sf0.001"

#: the round-2 driver-divergent set + one pushdown-heavy canary per family
SMOKE_QUERIES = (
    "tpch_q12_late_shipment",
    "corpus_language_profile",
    "doc_bpe_token_counts",
    "pack_token_budget",
    "tokenizer_vocab_coverage",
    "sample_train_test_split",
    "sample_domain_mixture",
    "doc_duplicate_spans",
    "events_filtered_topk",
    # round-3 rounding-tie conversions: one per converted family
    "doc_quality_score",
    "tpch_q1_pricing_summary",
    "dedup_minhash_lsh",
    # round-10 distributed rank/prefix kernels: spark_partition_id over
    # repartitionByRange must stay layout-independent under hostile
    # shuffle counts, tiny splits, and no-AQE (the exact confs that
    # could re-shape the range buckets)
    "pack_training_sequences",
    "customer_rfm_segments",
    "dedup_minhash_lsh_capped",
)

SMOKE_VARIANTS = ("tz_nyc", "ansi_on", "ntz_infer_off", "small_splits", "no_aqe")


def test_fixture_canaries_pass(spark):
    """Every table loads through its schema canary at every shipped SF.
    When the driver regenerates fixtures with a breaking schema, THIS is
    the test that goes red — with the table and column in the message —
    rather than 31 downstream AnalysisExceptions (round-2 postmortem)."""
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        for name in TABLES:
            df = table(spark, sf, name)
            assert df.columns, f"{sf}/{name}"


def test_events_postconditions(spark):
    """table('events') must expose canonical (ts timestamp, ts_ns long)
    whatever physical encoding the fixture uses."""
    ev = table(spark, SF, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    assert dict(ev.dtypes)["ts_ns"] == "bigint"
    row = ev.selectExpr("unix_micros(ts) * 1000 AS a", "ts_ns").first()
    assert row["a"] == row["ts_ns"]


@pytest.mark.parametrize("variant", SMOKE_VARIANTS)
def test_divergent_set_is_conf_invariant(spark, variant):
    from bigdatatiler_spark.registry import load_all

    specs = {k: v for k, v in load_all().items() if k in SMOKE_QUERIES}
    golden = oracle_hashes(SF, specs)
    res = run_variant(spark, VARIANTS[variant], specs, SF)
    bad = {
        q: r
        for q, r in res.items()
        if isinstance(r, Exception) or r[1] != golden[q][1]
    }
    assert not bad, f"conf-sensitive under {variant}: {bad}"
