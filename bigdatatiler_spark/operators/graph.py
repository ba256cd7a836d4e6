"""Iterative graph operator: connected components for dedup clustering.

Pair-level dedup (MinHash/SimHash/cosine) emits *edges*; turning them
into canonical groups ("keep one doc per cluster") is connected
components over the dup graph — the step every large-scale dedup
pipeline ends with, and the engine's one genuinely iterative algorithm.

Spark-first shape: one kernel, alternating large-star/small-star to a
fixpoint (Kiveris et al., see ``connected_components``). Each round is
groupBy-min + equi-join on the edge list (all built-in, shuffle on node
id); the *driver* only coordinates the loop and reads a 1-row set
signature per round — no data ever collects. A lineage cut each round
keeps the plan O(1), or round N replays rounds 1..N-1 and the plan grows
exponentially (the classic iterative-Spark trap).

Rounds needed are O(log² n) whatever the cluster diameter. Plain label
propagation needs one round per hop, so a MAX_ITERS cap splits a long
chained near-dup cluster into several labels with no error; star
contraction returns one label for it (tests/test_graph.py's shuffled-id
chains). MAX_ITERS still bounds the loop. The DuckDB oracle
computes the same fixpoint declaratively with a recursive CTE (min label
over the reachable set), so the iterative implementation is verified
against an independent formulation. Its oracle fragments live here once:
``edges_sql`` (the symmetric ``edges`` CTE) and ``components_sql``
(``edges``, the ``reach`` recursion and the min label ``comp``), read
over dedup.py's ``band_pairs_sql`` or ``verified_pairs_sql`` pairs.

Why not Spark's own recursive CTE (new in Spark 4)? Checked: it accepts
only UNION ALL recursion ([UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE]), and
without set-dedup between rounds a reachability recursion on a CYCLIC
dup graph never terminates — DuckDB's UNION-dedup semantics are exactly
what makes the oracle's formulation legal there. The driver-coordinated
loop stays the correct Spark shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..registry import register
from ._util import stage
from .dedup import (
    _SHINGLED_SQL,
    band_pairs,
    band_pairs_sql,
    minhash_bands,
    minhash_bands_sql,
    verified_pairs_sql,
)

MAX_ITERS = 15


def _loop_mode(lineage_cut: str) -> str:
    """The ``stage`` mode for a loop's ``lineage_cut``: ``"local"`` is a
    lazy per-round cut, ``"reliable"`` the fault-tolerant checkpoint."""
    if lineage_cut not in ("local", "reliable"):
        raise ValueError(f"lineage_cut must be 'local' or 'reliable', got {lineage_cut!r}")
    return "round" if lineage_cut == "local" else "reliable"


def _band_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash band-mate candidate pairs as undirected (a, b) edges — the
    shared input of the band-graph queries (``band_pairs``, the candidate
    rule of dedup_minhash_lsh, renamed)."""
    from .dedup import _shingled

    # lazy although band_pairs' self-join reads it twice: eager "shared"
    # measured no faster on any band-graph bench line and slower on the
    # label-store build (sf0.1, 4 cores, min of 3 over 3 alternating runs:
    # 10.36 s against 9.52-10.22 s lazy)
    bands = stage(minhash_bands(_shingled(spark, sf_dir)), "round")
    return band_pairs(bands).select(
        F.col("doc_id_1").alias("a"), F.col("doc_id_2").alias("b")
    )


def connected_components(
    edges: DataFrame,
    node_col_a: str,
    node_col_b: str,
    lineage_cut: str = "local",
    max_rounds: int = MAX_ITERS,
) -> DataFrame:
    """(node, cluster_id): min node id reachable in the undirected graph,
    via alternating large-star/small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond").

    ``edges`` rows are undirected pairs; isolated nodes (absent from
    edges) are the caller's concern — a left join + coalesce(doc_id)
    afterwards keeps singletons as their own cluster.

    A chained near-dup cluster (doc A ~ B ~ C ~ ... — common in scraped
    corpora where each revision resembles the last) has an unbounded
    diameter; the two-star iteration contracts paths aggressively and
    converges in O(log² n) rounds regardless of diameter (groupBy-min +
    equi-join on the edge list per round, everything keyed by node id —
    no all-pairs, no driver data).

    ``lineage_cut`` picks how each round's edge list is materialized so
    the plan stays O(1) per round:

    - ``"local"`` — ``localCheckpoint``: executor-local blocks, no extra
      I/O. Right for local mode and short interactive runs, but an
      executor loss mid-loop destroys its blocks and FAILS THE JOB
      (the lineage needed to recompute them was just truncated).
    - ``"reliable"`` — ``checkpoint``: rounds persist to the cluster's
      fault-tolerant checkpoint dir (``spark.sparkContext.
      setCheckpointDir`` — HDFS/object store on a real cluster), so the
      loop survives executor loss. The per-round write is the edge list
      only, not the upstream corpus. This is the 100 TB setting.

    Each round:
    - large-star: every node u connects its strictly-larger neighbors to
      ``min(N(u) ∪ {u})`` → edges always point larger→smaller afterwards;
    - small-star: every node u re-points its parent set P at ``min(P)``
      and keeps ``(u, min(P))``.
    Fixpoint = forest of stars rooted at each component's min node, so
    the final edge list IS the (node, cluster_id) mapping.
    """
    mode = _loop_mode(lineage_cut)

    def sig(df: DataFrame) -> tuple:
        """Cheap set signature (count, Σ xxhash64 as exact decimal) for the
        convergence check: two 1-row aggregates instead of exceptAll's full
        shuffle+sort per round. Both rounds' edge lists are DISTINCT sets,
        so count+hash-sum equality means set equality up to a 2^-64-scale
        collision — negligible against the cost it removes."""
        row = df.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h"),
        ).first()
        return (row["n"], row["h"])

    raw = edges.select(
        F.col(node_col_a).alias("src"), F.col(node_col_b).alias("dst")
    )
    nodes = stage(
        raw.select(F.col("src").alias("node"))
        .union(raw.select(F.col("dst").alias("node")))
        .distinct(),
        mode,
    )
    # canonical parent edges: larger → smaller, no self-loops
    e = stage(
        raw.where(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .distinct(),
        mode,
    )
    e_sig = sig(e)
    for _ in range(max_rounds):
        sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        # large-star: m(u) = min(N(u) ∪ {u}); emit (v, m(u)) for v > u
        mins = (
            sym.groupBy("src")
            .agg(F.min("dst").alias("mn"))
            .select("src", F.least("src", "mn").alias("m"))
        )
        # no .distinct() here (r12): min-aggregation below is duplicate-
        # insensitive and new_e re-distincts, so the extra (src, dst)
        # exchange bought nothing — one fewer shuffle per round
        large = (
            sym.join(mins, "src")
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        # small-star over larger→smaller edges: re-point each parent set
        # P(u) at min(P(u)) and keep (u, min(P(u)))
        mins2 = large.groupBy("src").agg(F.min("dst").alias("m"))
        repointed = (
            large.join(mins2, "src")
            .where(F.col("dst") != F.col("m"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        new_e = stage(
            repointed.union(mins2.select("src", F.col("m").alias("dst")))
            .where(F.col("src") != F.col("dst"))
            .distinct(),
            mode,
        )
        new_sig = sig(new_e)
        e = new_e
        if new_sig == e_sig:
            break
        e_sig = new_sig
    # min-resolve before the mapping join: if max_rounds exhausted before
    # the fixpoint, a node can still carry two outgoing edges — the output
    # must stay one row per node (labels degrade to partially-contracted
    # clusters, but never to duplicate rows)
    labels = e.groupBy("src").agg(F.min("dst").alias("label"))
    return nodes.join(
        labels.select(F.col("src").alias("node"), "label"),
        "node",
        "left",
    ).select("node", F.coalesce("label", "node").alias("cluster_id"))


def edges_sql(pairs: str = "cand") -> str:
    """DuckDB CTE ``edges(a, b)``: both orientations of the (doc_id_1,
    doc_id_2) pair CTE named ``pairs``."""
    return f"""
    edges AS (
      SELECT doc_id_1 AS a, doc_id_2 AS b FROM {pairs}
      UNION
      SELECT doc_id_2, doc_id_1 FROM {pairs}
    )"""


def components_sql(pairs: str = "cand") -> str:
    """DuckDB CTEs ``edges``, ``reach`` and ``comp(doc_id, cluster_id)``:
    the oracle twin of ``connected_components``, the one Spark kernel,
    over the pair CTE named ``pairs`` — the min label over each node's
    reachable set, by a UNION-deduplicated recursion (the query needs
    ``WITH RECURSIVE``), where the Spark side reaches the same labels by
    star contraction."""
    return f"""{edges_sql(pairs)},
    reach(node, label) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.a, r.label FROM edges e JOIN reach r ON e.b = r.node
    ),
    comp AS (
      SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY node
    )"""


def _cc_oracle() -> str:
    return f"""
    WITH RECURSIVE {_SHINGLED_SQL},
    {minhash_bands_sql()},
    {band_pairs_sql()},
    {components_sql()}
    SELECT doc_id, cluster_id FROM comp
    """


@register("dedup_connected_components", oracle=_cc_oracle())
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical dedup clusters: MinHash band-mate candidate pairs as
    edges → connected components → (doc_id, cluster_id = min doc in
    component). cluster_id is the canonical survivor; `WHERE doc_id !=
    cluster_id` is the delete list. The iterative two-star kernel (see
    module docstring) verified against DuckDB's recursive-CTE fixpoint."""
    return connected_components(_band_edges(spark, sf_dir), "a", "b").select(
        F.col("node").alias("doc_id"), "cluster_id"
    )


@register("dedup_components_two_star", oracle=_cc_oracle())
def dedup_components_two_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same dedup clustering as dedup_connected_components, and now the
    same kernel: both run ``connected_components`` (large-star/small-star,
    O(log² n) rounds independent of cluster diameter) over the same band
    edges and share the recursive-CTE oracle verbatim. Kept registered
    under its own name for the query contract's history."""
    return connected_components(_band_edges(spark, sf_dir), "a", "b").select(
        F.col("node").alias("doc_id"), "cluster_id"
    )


def labels_store_path(sf_dir: str) -> str:
    """The fixture-keyed /tmp path of the component-label store, WITHOUT
    building it — pure key computation, split out (r12 verdict item 6) so
    bench.py can report whether its build line was a real build or a
    warm-store no-op read."""
    import hashlib
    import os
    import tempfile

    from ..tables import _members, _stat_key

    doc_path = os.path.join(sf_dir, "documents.parquet")
    # key on the sorted per-member (path, mtime_ns, size) list, not the
    # top-level stat (r11 ADVICE): rewriting members of a DIRECTORY-shaped
    # fixture in place does not change the directory's own mtime/size, so
    # the old key silently served stale labels after a regeneration —
    # the exact class _readable_path's member signature already covers.
    key = sorted(_stat_key(f) for f in _members(doc_path))
    sig = hashlib.md5(repr(key).encode()).hexdigest()[:16]
    return os.path.join(tempfile.gettempdir(), f"bdt_cc_labels_{sig}")


def old_labels_path(
    spark: SparkSession, sf_dir: str, edges: DataFrame | None = None
) -> str:
    """Build-once parquet store of the OLD corpus's component labels —
    the production artifact a previous clustering run leaves behind,
    which ``dedup_incremental_components`` merges new batches into.
    Keyed on the documents file's identity via a key-derived /tmp path
    (the _readable_path shadow-dir pattern), so the table survives
    process boundaries — a fresh bench/driver run finds the previous
    run's labels, a regenerated fixture lands on a fresh path and
    rebuilds. bench.py times this build as its own line (the
    ann_ivf_index_build split: one-time index cost vs per-ingest cost)."""
    import os
    import shutil

    from .dedup import INCREMENTAL_BATCH_MOD

    path = labels_store_path(sf_dir)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        if edges is None:
            edges = _band_edges(spark, sf_dir)
        old = F.col("a") % INCREMENTAL_BATCH_MOD != 0
        old_edges = edges.where(old & (F.col("b") % INCREMENTAL_BATCH_MOD != 0))
        # write to a unique temp dir, then atomically rename into place
        # (r11 ADVICE): two concurrent runs that both miss _SUCCESS no
        # longer overwrite each other's half-read store; the loser's
        # rename fails on the existing dir and its copy is swept.
        tmp = f"{path}.build.{os.getpid()}"
        connected_components(old_edges, "a", "b").select(
            F.col("node"), F.col("cluster_id").alias("rep")
        ).write.mode("overwrite").parquet(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            # a concurrent builder won the rename; use its store
            shutil.rmtree(tmp, ignore_errors=True)
    return path


@register("dedup_incremental_components", oracle=_cc_oracle())
def dedup_incremental_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup clustering — the daily-ingest shape: merge a
    new batch of documents into EXISTING component labels without
    re-clustering the corpus, landing on the identical fixpoint as a
    full recompute (the shared recursive-CTE oracle certifies exactly
    that). Batch role = doc_id % INCREMENTAL_BATCH_MOD == 0, the same
    replayable split as dedup_incremental_minhash.

    Algorithm (component contraction):

    1. old labels = connected components over edges whose endpoints
       are BOTH old — in production this is the STORED label table the
       previous run left behind (its recomputation here exists only so
       the oracle can replay the whole history);
    2. every edge touching a new doc maps its old endpoints to their
       old label (an old component contracts to its min-doc label
       node), keeping new-doc endpoints as themselves;
    3. connected components over the CONTRACTED graph — whose size is
       O(new batch + touched components), not O(corpus) — yields the
       merged label per contracted node; since each old label IS its
       component's min doc id, the contracted minimum equals the global
       minimum of the merged component;
    4. final label(x) = merged(rep(x)) where rep = old label for old
       docs, x itself otherwise; untouched components never enter step
       3 and keep their labels verbatim.

    Scale: the corpus-sized work is ONE banded equi-join for the new
    edges plus a join against the stored label table; the iterative
    part runs on the contracted subgraph only. A doc joining two old
    mega-clusters costs the contraction two nodes, not two clusters."""
    from .dedup import INCREMENTAL_BATCH_MOD

    edges = stage(_band_edges(spark, sf_dir), "round")

    def is_new(c: str):
        return F.col(c) % INCREMENTAL_BATCH_MOD == 0

    new_edges = edges.where(is_new("a") | is_new("b"))
    ol = spark.read.parquet(old_labels_path(spark, sf_dir, edges))

    ea = new_edges.join(
        ol.select(F.col("node").alias("a"), F.col("rep").alias("rep_a")),
        "a",
        "left",
    )
    eab = ea.join(
        ol.select(F.col("node").alias("b"), F.col("rep").alias("rep_b")),
        "b",
        "left",
    )
    contracted = (
        eab.select(
            F.coalesce("rep_a", F.col("a")).alias("ca"),
            F.coalesce("rep_b", F.col("b")).alias("cb"),
        )
        # both endpoints already in one old component: nothing to merge
        .where(F.col("ca") != F.col("cb"))
    )
    merged = connected_components(contracted, "ca", "cb").select(
        F.col("node").alias("rep"), F.col("cluster_id").alias("final")
    )

    nodes = (
        edges.select(F.col("a").alias("node"))
        .union(edges.select(F.col("b").alias("node")))
        .distinct()
    )
    with_rep = nodes.join(ol, "node", "left").select(
        "node", F.coalesce("rep", F.col("node")).alias("rep")
    )
    return with_rep.join(merged, "rep", "left").select(
        F.col("node").alias("doc_id"),
        F.coalesce("final", F.col("rep")).alias("cluster_id"),
    )


def _cluster_hist_oracle() -> str:
    return f"""
    WITH RECURSIVE {_SHINGLED_SQL},
    {minhash_bands_sql()},
    {band_pairs_sql()},
    {components_sql()},
    sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY cluster_id),
    hist AS (
      SELECT cluster_size,
             count(*) AS n_clusters,
             CAST(cluster_size * count(*) AS BIGINT) AS n_docs
      FROM sizes GROUP BY cluster_size
    ),
    single AS (
      SELECT CAST(1 AS BIGINT) AS cluster_size,
             count(DISTINCT s.doc_id) AS n_clusters,
             count(DISTINCT s.doc_id) AS n_docs
      FROM shingled s
      WHERE NOT EXISTS (SELECT 1 FROM comp c WHERE c.doc_id = s.doc_id)
    )
    SELECT cluster_size, n_clusters, n_docs FROM hist
    UNION ALL
    SELECT cluster_size, n_clusters, n_docs FROM single WHERE n_clusters > 0
    """


@register("dedup_cluster_size_histogram", oracle=_cluster_hist_oracle())
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE dedup report: the distribution of near-dup cluster sizes —
    per size, how many clusters and how many documents they hold,
    including the size-1 row (shingle-eligible docs touching no
    candidate pair). Read before trusting a dedup pass at 100 TB: a fat
    tail here means template spam (and is what the BAND_BUCKET_CAP
    guard bounds); n_docs summed over rows equals the shingled-universe
    cardinality, so the report doubles as a conservation check.

    Plan: the components' edges (bounded O(log² n) rounds +
    lineage cuts) → cluster-id sizes → a size histogram (three
    cluster/size-bounded aggregates); singletons via one anti-join of
    the shingled universe against the clustered nodes."""
    from .dedup import _shingled

    comp = connected_components(
        _band_edges(spark, sf_dir), "a", "b"
    ).select(F.col("node").alias("doc_id"), "cluster_id")
    sizes = comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    hist = sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters")
    ).select(
        "cluster_size",
        "n_clusters",
        (F.col("cluster_size") * F.col("n_clusters"))
        .cast("long")
        .alias("n_docs"),
    )
    singles = (
        _shingled(spark, sf_dir)
        .select("doc_id")
        .distinct()
        .join(comp.select(F.col("doc_id")), "doc_id", "left_anti")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .where(F.col("n_clusters") > 0)
        .select(
            F.lit(1).cast("long").alias("cluster_size"),
            "n_clusters",
            F.col("n_clusters").cast("long").alias("n_docs"),
        )
    )
    return hist.unionByName(singles)


def _cc_verified_oracle() -> str:
    return f"""
    WITH RECURSIVE {_SHINGLED_SQL},
    {minhash_bands_sql()},
    {band_pairs_sql()},
    {verified_pairs_sql()},
    {components_sql("verified")}
    SELECT doc_id, cluster_id, count(*) OVER () AS n_clustered_docs FROM comp
    """


@register("dedup_clusters_verified", oracle=_cc_verified_oracle())
def dedup_clusters_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True near-dup clusters: the full dedup endgame in one plan —
    MinHash banding → candidate pairs → exact-Jaccard verification
    (≥ 0.6) → connected components over the *verified* edges only.
    Clusters here are guaranteed chains of real near-dups (candidate-only
    clustering, dedup_connected_components, can glue unrelated docs
    through a band collision). `WHERE doc_id != cluster_id` is the
    delete list."""
    from .dedup import dedup_minhash_lsh

    pairs = dedup_minhash_lsh(spark, sf_dir).select(
        F.col("doc_id_1").alias("a"), F.col("doc_id_2").alias("b")
    )
    labels = connected_components(pairs, "a", "b")
    return labels.select(
        F.col("node").alias("doc_id"),
        "cluster_id",
        # unpartitioned window is fine: the clustered-node set is tiny
        F.count("*").over(Window.partitionBy()).alias("n_clustered_docs"),
    )


def _keep_canonical_oracle() -> str:
    return f"""
    WITH RECURSIVE {_SHINGLED_SQL},
    {minhash_bands_sql()},
    {band_pairs_sql()},
    {verified_pairs_sql()},
    {components_sql("verified")},
    full_docs AS (
      SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id, d.n_chars
      FROM documents d LEFT JOIN comp l USING (doc_id)
    ),
    best AS (
      SELECT cluster_id, max(n_chars) AS max_chars, count(*) AS cluster_size
      FROM full_docs GROUP BY cluster_id
    ),
    surv AS (
      SELECT f.cluster_id, min(f.doc_id) AS survivor_id
      FROM full_docs f JOIN best b
        ON f.cluster_id = b.cluster_id AND f.n_chars = b.max_chars
      GROUP BY f.cluster_id
    )
    SELECT f.doc_id, f.cluster_id, b.cluster_size, s.survivor_id,
           CAST(f.doc_id = s.survivor_id AS INT) AS keep
    FROM full_docs f
    JOIN best b ON f.cluster_id = b.cluster_id
    JOIN surv s ON f.cluster_id = s.cluster_id
    """


@register("dedup_keep_canonical", oracle=_keep_canonical_oracle())
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup endgame as a pipeline would actually ship it: verified
    near-dup clusters → ONE canonical survivor per cluster → a per-doc
    keep/drop verdict over the WHOLE corpus (singletons keep themselves
    via cluster_id = doc_id). Survivor rule is content-driven and
    integer-deterministic: most characters wins, lowest doc_id breaks
    ties — expressed as max(n_chars) per cluster then min(doc_id) among
    the maximal docs, so no float ordering and no window over the corpus.

    Plan: the clustered-label table is dup-cluster-sized and joins the
    corpus keyed by doc_id (broadcast at any realistic dup rate); the
    survivor selection is two cluster-keyed partial aggs + equi-joins —
    every shuffle keys on doc_id/cluster_id, nothing all-pairs, nothing
    corpus-wide-windowed. `WHERE keep = 0` is the delete list a 100 TB
    rewrite would apply."""
    from .dedup import dedup_minhash_lsh
    from ..tables import table

    pairs = dedup_minhash_lsh(spark, sf_dir).select(
        F.col("doc_id_1").alias("a"), F.col("doc_id_2").alias("b")
    )
    labels = connected_components(pairs, "a", "b").select(
        F.col("node").alias("doc_id"), "cluster_id"
    )
    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    full_docs = docs.join(F.broadcast(labels), "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
        "n_chars",
    )
    # best/surv are one row PER CLUSTER (singletons included) — corpus-
    # sized at scale, so they stay plain equi-joins keyed on cluster_id
    # (AQE broadcasts them when small); only `labels` above is guaranteed
    # dup-cluster-sized and safe to broadcast unconditionally.
    best = full_docs.groupBy("cluster_id").agg(
        F.max("n_chars").alias("max_chars"), F.count("*").alias("cluster_size")
    )
    surv = (
        full_docs.join(best, "cluster_id")
        .where(F.col("n_chars") == F.col("max_chars"))
        .groupBy("cluster_id")
        .agg(F.min("doc_id").alias("survivor_id"))
    )
    return (
        full_docs.join(best.select("cluster_id", "cluster_size"), "cluster_id")
        .join(surv, "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            "cluster_size",
            "survivor_id",
            (F.col("doc_id") == F.col("survivor_id")).cast("int").alias("keep"),
        )
    )


# ── leakage-safe corpus split ───────────────────────────────────────────


def _leakage_split_oracle() -> str:
    bucket = (
        "CAST(('0x' || substr(md5(CAST(group_id AS VARCHAR)), 1, 8))::UBIGINT"
        " % 100 AS BIGINT)"
    )
    return f"""
    WITH RECURSIVE {_SHINGLED_SQL},
    {minhash_bands_sql()},
    {band_pairs_sql()},
    {components_sql()},
    g AS (
      SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS group_id
      FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
    )
    SELECT CASE WHEN {bucket} < 80 THEN 'train'
                WHEN {bucket} < 90 THEN 'valid'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           count(DISTINCT group_id) AS n_groups
    FROM g
    GROUP BY 1
    """


@register("sample_leakage_safe_split", oracle=_leakage_split_oracle())
def sample_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/valid/test split that cannot leak near-duplicates across
    sides: the split hash keys on the document's DEDUP CLUSTER canonical
    id (connected components over MinHash band candidates; singletons =
    their own id), so every near-dup pair — which by construction shares
    a cluster — lands on ONE side. A plain per-doc split
    (sample_train_test_split) puts ~2·p·(1-p) of near-dup pairs across
    the train/test boundary, silently inflating eval scores on
    memorizable content; group-aware splitting is the standard fix
    (GroupKFold semantics), here at corpus scale.

    Plan: the CC label pass (same iterative kernel and cost as
    dedup_connected_components), one left join to attach labels to the
    corpus (absent docs coalesce to themselves), a stateless md5 split
    projection, and a 3-group aggregate. Stability note: the assignment
    is reproducible run-to-run on the same corpus; new data can MERGE
    clusters, which may move a whole (small) cluster to the new
    canonical id's side — per-cluster stability, the price of the
    leakage guarantee."""
    from ..tables import table
    from .sampling import split_column

    labels = connected_components(_band_edges(spark, sf_dir), "a", "b")
    docs = table(spark, sf_dir, "documents").select("doc_id")
    g = docs.join(
        labels.withColumnRenamed("node", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("group_id"),
    )
    return (
        g.select(split_column(F.col("group_id")).alias("split"), "group_id")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("group_id").alias("n_groups"),
        )
    )


# --- multi-source BFS hop distance ------------------------------------------
# The reachability question a curation pipeline asks after clustering:
# "how far (in dup-graph hops) is every document from a trusted seed
# set?" — contamination spreads along near-dup edges, so hop distance
# from known-contaminated (or known-good) seeds is the standard blast-
# radius metric. New kernel class beside the components fixpoint
# above: BOUNDED multi-source BFS (min-plus iteration to depth K), i.e.
# shortest paths where every edge has weight 1.
#
# Spark-first shape: DELTA iteration. Each round joins only the
# FRONTIER (nodes whose distance improved last round) against the edge
# list — not the whole distance table — so round k's shuffle is
# O(edges touching frontier), the classic Pregel/GraphX message shape.
# localCheckpoint truncates lineage per round (same trap as connected
# components: without it round N replays rounds 1..N-1). At 100 TB the
# loop is K bounded rounds of (broadcast-or-shuffle equi-join + groupBy
# min) on node id — no all-pairs, no driver data; `lineage_cut=
# "reliable"` is the cluster setting (see connected_components).
#
# The DuckDB oracle is the independent declarative formulation: a
# recursive CTE walking (node, hops) pairs with UNION dedup, depth-
# bounded by `hops < K` so it terminates on cyclic graphs, then
# min(hops) per node.

BFS_MAX_HOPS = 4
BFS_SEED_MOD = 17  #: seeds = doc_id ≡ 0 (mod 17) — deterministic, ~6% of docs


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = BFS_MAX_HOPS,
    lineage_cut: str = "local",
) -> DataFrame:
    """(node, hops): minimum hop count from any seed, capped at max_hops.

    ``edges`` rows are undirected (a, b) pairs; ``seeds`` has one
    ``node`` column. Seeds themselves emit hops = 0 whether or not they
    appear in the graph (an isolated seed is still distance 0 from
    itself)."""
    mode = _loop_mode(lineage_cut)

    fwd = edges.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    both = stage(
        fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct(),
        mode,
    )
    dist = stage(
        seeds.select("node", F.lit(0).cast("bigint").alias("hops")).distinct(), mode
    )
    frontier = dist
    for _ in range(max_hops):
        # relax one hop out of the frontier only (delta iteration)
        candidates = (
            both.join(frontier, both.src == frontier.node)
            .select(F.col("dst").alias("node"), (F.col("hops") + 1).alias("hops"))
            .groupBy("node")
            .agg(F.min("hops").alias("hops"))
        )
        improved = stage(
            candidates.join(dist.withColumnRenamed("hops", "old"), "node", "left")
            .where(F.col("old").isNull() | (F.col("hops") < F.col("old")))
            .select("node", "hops"),
            mode,
        )
        # full count: materializes the lazy checkpoint in the same job
        if improved.count() == 0:
            break
        dist = stage(
            dist.union(improved).groupBy("node").agg(F.min("hops").alias("hops")),
            mode,
        )
        frontier = improved
    return dist


def _bfs_oracle() -> str:
    return f"""
    WITH RECURSIVE {_SHINGLED_SQL},
    {minhash_bands_sql()},
    {band_pairs_sql()},
    {edges_sql()},
    walk(node, hops) AS (
      SELECT doc_id, 0 FROM documents WHERE doc_id % {BFS_SEED_MOD} = 0
      UNION
      SELECT e.b, w.hops + 1
      FROM walk w JOIN edges e ON e.a = w.node
      WHERE w.hops < {BFS_MAX_HOPS}
    )
    SELECT node AS doc_id, CAST(min(hops) AS BIGINT) AS hops
    FROM walk
    GROUP BY node
    """


@register("graph_bfs_hops", oracle=_bfs_oracle())
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blast radius of a seed document set: minimum hop distance (≤ 4)
    from docs with doc_id ≡ 0 (mod 17) along MinHash band-mate edges —
    bounded multi-source BFS by frontier delta-iteration, verified
    against DuckDB's depth-bounded recursive-CTE walk (see block
    comment)."""
    from ..tables import table

    seeds = (
        table(spark, sf_dir, "documents")
        .where((F.col("doc_id") % BFS_SEED_MOD) == 0)
        .select(F.col("doc_id").alias("node"))
    )
    return bfs_hops(_band_edges(spark, sf_dir), seeds).select(
        F.col("node").alias("doc_id"), "hops"
    )


# --- bounded k-core peeling ---------------------------------------------------
# Graph summarization for dedup QA: the DENSE part of the near-dup
# graph. A k-core is the maximal subgraph where every node keeps degree
# ≥ k; peeling (drop degree<k nodes, recompute, repeat) finds it. Dense
# cores in a dup graph are template/boilerplate families — the docs a
# curation pipeline samples for rule-mining. BOUNDED at 3 peel rounds
# (the engine's iterative-bounded idiom: each round is one groupBy-
# degree + two semi-joins, lineage-cut like the other fixpoints; real
# deployments cap rounds the same way and report convergence). The
# oracle replays the SAME 3 rounds as an unrolled CTE chain — no
# recursion needed for a bounded peel, so the formulation stays
# independent of the Spark loop.

KCORE_K = 2
KCORE_ROUNDS = 3


def kcore_peel(
    edges: DataFrame, k: int = KCORE_K, rounds: int = KCORE_ROUNDS,
    lineage_cut: str = "local",
) -> DataFrame:
    """(node, degree): nodes surviving `rounds` peels at threshold k,
    with their degree in the induced subgraph after the last peel.
    ``edges`` rows are undirected (a, b) pairs."""
    mode = _loop_mode(lineage_cut)

    fwd = edges.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    sym = stage(
        fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct(),
        mode,
    )
    for _ in range(rounds):
        keep = (
            sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
            .where(F.col("deg") >= k)
            .select("src")
        )
        sym = stage(
            sym.join(keep, "src", "left_semi")
            .join(keep.withColumnRenamed("src", "dst"), "dst", "left_semi")
            .select("src", "dst"),
            mode,
        )
    return (
        sym.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
        .select(F.col("src").alias("node"), "degree")
    )


def _kcore_oracle() -> str:
    # its own peel: the 3 bounded rounds unrolled, not a recursion
    k, peel = KCORE_K, []
    prev = "edges"
    for r in range(1, KCORE_ROUNDS + 1):
        peel.append(
            f"""k{r} AS (
      SELECT a FROM (SELECT a, count(*) AS c FROM {prev} GROUP BY a)
      WHERE c >= {k}
    ),
    e{r} AS (
      SELECT a, b FROM {prev}
      WHERE a IN (SELECT a FROM k{r}) AND b IN (SELECT a FROM k{r})
    )"""
        )
        prev = f"e{r}"
    chain = ",\n    ".join(peel)
    return f"""
    WITH {_SHINGLED_SQL},
    {minhash_bands_sql()},
    {band_pairs_sql()},
    {edges_sql()},
    {chain}
    SELECT a AS doc_id, CAST(count(*) AS BIGINT) AS degree
    FROM {prev} GROUP BY a
    """


@register("graph_kcore_peel", oracle=_kcore_oracle())
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense near-dup families: 3 peel rounds at k=2 over the MinHash
    band-mate graph, emitting survivors with their induced degree —
    verified against an unrolled peel chain in the oracle (see block
    comment)."""
    return kcore_peel(_band_edges(spark, sf_dir)).select(
        F.col("node").alias("doc_id"), "degree"
    )
