"""Graph-loop unit tests. Connected components: chains (long ones with
shuffled ids too), cycles, disjoint clusters and random graphs — the
large-star/small-star fixpoint must equal the true components. Also the
BFS and k-core loops and the dedup queries built on the components."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdatatiler_spark.operators.graph import (
    bfs_hops,
    connected_components,
    kcore_peel,
)


def _clusters(spark, edges, **kw):
    df = spark.createDataFrame(edges, ["a", "b"])
    rows = connected_components(df, "a", "b", **kw).collect()
    return {r["node"]: r["cluster_id"] for r in rows}


def test_chain_collapses_to_min(spark):
    # 1-2-3-4-5 chain: diameter > 1 forces multiple iterations
    got = _clusters(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_cycle_and_disjoint_components(spark):
    got = _clusters(spark, [(10, 20), (20, 30), (30, 10), (7, 8), (100, 50)])
    assert got == {10: 10, 20: 10, 30: 10, 7: 7, 8: 7, 100: 50, 50: 50}


def test_duplicate_and_reversed_edges(spark):
    got = _clusters(spark, [(2, 1), (1, 2), (2, 1), (3, 2)])
    assert got == {1: 1, 2: 1, 3: 1}


def test_reliable_lineage_cut_mode(spark, tmp_path):
    """lineage_cut='reliable' must produce identical components through
    the fault-tolerant checkpoint path (the real-cluster setting, where
    localCheckpoint blocks die with a lost executor), and must refuse to
    run without a checkpoint dir rather than fail rounds in."""
    edges = [(1, 2), (2, 3), (3, 4), (9, 8)]
    with pytest.raises(ValueError, match="setCheckpointDir"):
        _clusters(spark, edges, lineage_cut="reliable")
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    reliable = _clusters(spark, edges, lineage_cut="reliable")
    local = _clusters(spark, edges, lineage_cut="local")
    assert reliable == local == {1: 1, 2: 1, 3: 1, 4: 1, 9: 8, 8: 8}


def test_invalid_lineage_cut_rejected(spark):
    with pytest.raises(ValueError, match="lineage_cut"):
        _clusters(spark, [(1, 2)], lineage_cut="bogus")


@pytest.mark.parametrize("cut", ["round", "shared"])
@pytest.mark.parametrize(
    "loop",
    [
        lambda e, cut: connected_components(e, "a", "b", lineage_cut=cut),
        lambda e, cut: bfs_hops(e, e.select(F.col("a").alias("node")), lineage_cut=cut),
        lambda e, cut: kcore_peel(e, lineage_cut=cut),
    ],
    ids=["cc_star", "bfs", "kcore"],
)
def test_lineage_cut_takes_only_loop_values(spark, loop, cut):
    """Every loop accepts exactly 'local' and 'reliable': the staging
    helper's own mode names are not part of the loops' API."""
    edges = spark.createDataFrame([(1, 2)], ["a", "b"])
    with pytest.raises(ValueError, match="lineage_cut"):
        loop(edges, cut)


def _shuffled_chain(seed, n, first):
    """A path over ``n`` ids from ``first``, visited in shuffled order so
    the chain order doesn't coincide with id order (the adversarial
    layout: diameter n - 1, min id somewhere in the middle)."""
    import random

    ids = list(range(first, first + n))
    random.Random(seed).shuffle(ids)
    return ids, list(zip(ids, ids[1:]))


def test_two_star_beats_diameter_bound_on_deep_chain(spark):
    """The scale argument for the two-star kernel: a 60-node chain has
    diameter 59, which one-hop-per-round label propagation cannot cover
    inside MAX_ITERS (15) rounds, while large-star/small-star contracts
    it in O(log² n) rounds — here within 8 — and returns the exact
    components."""
    ids, edges = _shuffled_chain(7, 60, 1000)
    got = _clusters(spark, edges, max_rounds=8)
    assert set(got.values()) == {min(ids)}
    assert set(got) == set(ids)


def test_long_chain_is_one_cluster_at_default_bound(spark):
    """A 100-node chain with shuffled ids, at the kernel's default round
    bound, is exactly one cluster: a round cap that cuts the loop off
    before the fixpoint would split it into several labels silently."""
    ids, edges = _shuffled_chain(100, 100, 2000)
    got = _clusters(spark, edges)
    assert set(got) == set(ids)
    assert set(got.values()) == {min(ids)}


def test_cc_on_minhash_edges_matches_union_find(spark):
    """The kernel equals the union-find reference on the real
    candidate-pair graph used by the registered dedup queries (sf0.001
    MinHash band mates)."""
    from bigdatatiler_spark.operators.dedup import dedup_minhash_lsh

    pairs = dedup_minhash_lsh(spark, "/root/testdata/sf0.001").select(
        F.col("doc_id_1").alias("a"), F.col("doc_id_2").alias("b")
    )
    edges = [(r["a"], r["b"]) for r in pairs.collect()]
    assert edges, "fixture has no near-dup candidates"
    got = {
        r["node"]: r["cluster_id"]
        for r in connected_components(pairs, "a", "b").collect()
    }
    assert got == _true_components(edges)


def _true_components(edges):
    """Reference union-find for the property test."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_cc_property_random_graphs(spark):
    """The distributed kernel must equal a driver-side union-find on
    randomized graphs (chains, cliques-ish, forests, self-loops,
    duplicates) — one batch per layout to keep Spark job count sane."""
    import random

    rng = random.Random(20260813)
    for trial in range(4):
        n = rng.randrange(10, 40)
        m = rng.randrange(5, 60)
        nodes = rng.sample(range(10_000), n)
        edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(m)]
        assert _clusters(spark, edges) == _true_components(edges), f"trial {trial}"


def test_keep_canonical_one_survivor_per_cluster(spark):
    """Every cluster keeps exactly one doc; the survivor has the
    cluster's max n_chars (lowest doc_id among ties); singletons keep
    themselves; the output covers the whole corpus exactly once."""
    from pyspark.sql import functions as F

    from bigdatatiler_spark.operators.graph import dedup_keep_canonical
    from bigdatatiler_spark.tables import table

    sf = "/root/testdata/sf0.001"
    out = dedup_keep_canonical(spark, sf)
    n_docs = table(spark, sf, "documents").count()
    rows = out.collect()
    assert len(rows) == n_docs
    assert len({r.doc_id for r in rows}) == n_docs
    per_cluster = (
        out.groupBy("cluster_id")
        .agg(F.sum("keep").alias("kept"), F.count("*").alias("n"))
        .collect()
    )
    assert all(r.kept == 1 for r in per_cluster)
    sizes = {r.cluster_id: r.n for r in per_cluster}
    chars = {
        r.doc_id: r.n_chars
        for r in table(spark, sf, "documents").select("doc_id", "n_chars").collect()
    }
    for r in rows:
        assert sizes[r.cluster_id] == r.cluster_size
        if r.cluster_size == 1:
            assert r.keep == 1 and r.survivor_id == r.doc_id == r.cluster_id
        if r.keep == 1:
            assert r.doc_id == r.survivor_id
            members = [m for m in rows if m.cluster_id == r.cluster_id]
            mx = max(chars[m.doc_id] for m in members)
            assert chars[r.doc_id] == mx
            assert r.doc_id == min(
                m.doc_id for m in members if chars[m.doc_id] == mx
            )


def test_two_star_round_exhaustion_stays_well_formed(spark):
    """Exhausting max_rounds before the fixpoint must degrade to
    partially-merged clusters — never to duplicate node rows with
    conflicting cluster_ids (review finding: pre-fix, an unconverged
    edge set could leave a node with two outgoing edges and the final
    mapping join emitted it twice)."""
    ids, edges = _shuffled_chain(99, 60, 500)
    df = spark.createDataFrame(edges, ["a", "b"])

    rows = connected_components(df, "a", "b", max_rounds=1).collect()
    nodes = [r["node"] for r in rows]
    assert len(nodes) == len(set(nodes)) == len(ids), "duplicate node rows"
    # and with enough rounds the same graph fully converges
    full = connected_components(df, "a", "b", max_rounds=8).collect()
    assert {r["cluster_id"] for r in full} == {min(ids)}


def test_leakage_safe_split_keeps_neardup_pairs_together(spark):
    """The guarantee the operator exists for: every MinHash candidate
    pair (the near-dup edge set) must land on ONE side of the split —
    and the fixture must actually contain pairs for this to mean
    anything. Also pins the doc count identity vs the corpus."""
    from bigdatatiler_spark.operators.graph import (
        _band_edges,
        sample_leakage_safe_split,
    )
    from bigdatatiler_spark.operators.sampling import split_column
    from bigdatatiler_spark.tables import table

    sf = "/root/testdata/sf0.001"
    edges = _band_edges(spark, sf)
    assert edges.count() > 0, "fixture has no near-dup candidates"

    labels = connected_components(edges, "a", "b")
    docs = table(spark, sf, "documents").select("doc_id")
    g = docs.join(
        labels.withColumnRenamed("node", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("group_id"),
    )
    assign = g.select(
        "doc_id", split_column(F.col("group_id")).alias("split")
    )
    a = assign.withColumnRenamed("doc_id", "a").withColumnRenamed(
        "split", "split_a"
    )
    b = assign.withColumnRenamed("doc_id", "b").withColumnRenamed(
        "split", "split_b"
    )
    crossed = (
        edges.join(a, "a").join(b, "b")
        .where(F.col("split_a") != F.col("split_b"))
        .count()
    )
    assert crossed == 0, f"{crossed} near-dup pairs straddle the split"

    out = {r.split: r.n_docs for r in sample_leakage_safe_split(spark, sf).collect()}
    assert sum(out.values()) == docs.count()


def test_bfs_hops_path_graph(spark):
    from bigdatatiler_spark.operators.graph import bfs_hops

    # path 1-2-3-4-5-6, seeds {1, 99 (isolated)}: depth cap 4 reaches 5, not 6
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)], ["a", "b"]
    )
    seeds = spark.createDataFrame([(1,), (99,)], ["node"])
    out = {r["node"]: r["hops"] for r in bfs_hops(edges, seeds).collect()}
    assert out == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4, 99: 0}


def test_bfs_hops_multi_source_min(spark):
    from bigdatatiler_spark.operators.graph import bfs_hops

    # two seeds on a path: every node takes the NEAREST seed's distance
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], ["a", "b"])
    seeds = spark.createDataFrame([(1,), (4,)], ["node"])
    out = {r["node"]: r["hops"] for r in bfs_hops(edges, seeds).collect()}
    assert out == {1: 0, 2: 1, 3: 1, 4: 0}


def test_bfs_hops_cycle_terminates(spark):
    from bigdatatiler_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], ["a", "b"])
    seeds = spark.createDataFrame([(1,)], ["node"])
    out = {r["node"]: r["hops"] for r in bfs_hops(edges, seeds).collect()}
    assert out == {1: 0, 2: 1, 3: 1}


def test_kcore_peel_triangle_with_tail(spark):
    from bigdatatiler_spark.operators.graph import kcore_peel

    # triangle 1-2-3 (2-core) with a tail 3-4-5: the tail peels off
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], ["a", "b"]
    )
    out = {r["node"]: r["degree"] for r in kcore_peel(edges).collect()}
    assert out == {1: 2, 2: 2, 3: 2}


def test_kcore_peel_all_survive(spark):
    from bigdatatiler_spark.operators.graph import kcore_peel

    # 4-cycle: every node has degree exactly 2 — nothing peels
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (4, 1)], ["a", "b"])
    out = {r["node"]: r["degree"] for r in kcore_peel(edges).collect()}
    assert out == {1: 2, 2: 2, 3: 2, 4: 2}


def test_incremental_components_equal_full_recompute(spark):
    """The incremental merge (stored old labels + contracted subgraph CC)
    must land on the IDENTICAL fixpoint as clustering the whole corpus
    from scratch — per node, not just per histogram."""
    from bigdatatiler_spark.registry import load_all

    specs = load_all()
    sf = "/root/testdata/sf0.001"
    inc = {
        tuple(r)
        for r in specs["dedup_incremental_components"].fn(spark, sf).collect()
    }
    full = {
        tuple(r)
        for r in specs["dedup_components_two_star"].fn(spark, sf).collect()
    }
    assert inc == full
    assert len(inc) > 0


def test_labels_store_path_keys_on_directory_members(tmp_path):
    """A directory-shaped documents fixture keys the label store on its
    parquet members' (path, mtime_ns, size): rewriting a member moves
    the store path, a non-parquet file beside them does not."""
    from bigdatatiler_spark.operators.graph import labels_store_path

    docs = tmp_path / "documents.parquet"
    docs.mkdir()
    (docs / "part-0.parquet").write_bytes(b"x")
    before = labels_store_path(str(tmp_path))
    (docs / "_SUCCESS").write_bytes(b"")
    assert labels_store_path(str(tmp_path)) == before
    (docs / "part-0.parquet").write_bytes(b"xy")
    assert labels_store_path(str(tmp_path)) != before
