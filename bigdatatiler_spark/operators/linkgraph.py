"""Link-graph analytics over the dedup candidate graph: PageRank and
triangle counting.

Dedup banding (operators/dedup.py) gives the engine a document graph —
MinHash band-mate pairs as undirected edges. Two classic graph kernels
complete that family beyond connected components (operators/graph.py):

- **PageRank** ranks documents by duplication centrality: a doc that is
  near-dup-linked to many well-linked docs is the template/boilerplate
  hub of its cluster — exactly what corpus curation wants surfaced
  (reference parity: the reference exposes record-graph traversal via
  its change-feed linkage, LogChange.cs:99-342; ranking the link graph
  is the analytical extension).
- **Triangle counting** measures cluster cohesion: band-candidate edges
  that close triangles are almost never hash-collision accidents, so
  per-doc triangle counts separate true near-dup cliques from stray
  band collisions without computing exact Jaccard on every pair.

Determinism (the registry's de-float rule applied to an iterative
algorithm): PageRank is computed in **micro-unit integer arithmetic** —
ranks start at 1_000_000, each contribution is ``rank div degree``
(floor), damping 0.85 is applied as ``(17 · Σcontrib) div 20`` — so
every intermediate is a BIGINT and Spark and DuckDB agree bit-for-bit;
no float summation order can perturb the hash. The floor truncation
drifts ~1e-6-scale per hop from real-valued PageRank, irrelevant for
ranking and priceless for cross-engine verification. A FIXED iteration
count (3) replaces fixpoint detection: rank queries want a stable
budget, and the oracle unrolls the same three rounds as plain CTEs.

Scale shape (100 TB): every step is keyed by node id — degree is one
groupBy, each iteration is one equi-join (edges × ranks, shuffle on
node) + one aggregation; nothing all-pairs, nothing driver-side. The
symmetrized edge list is staged ONCE so the upstream
MinHash band self-join does not replay per iteration (same lineage
rationale as graph.py's loop; 'reliable' checkpointing applies
identically on a real cluster). Triangle counting uses degree-ordered
orientation (each edge directed low-(degree,id) → high-(degree,id)):
wedges are generated only at each triangle's LOWEST-degree vertex, the
standard bound of Σ deg(v)·min(deg(v), √m) join work that keeps
celebrity nodes from exploding the wedge join — the a<b<c oracle
formulation is the independent cross-check, not the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import register
from ._util import stage
from .dedup import _SHINGLED_SQL, band_pairs_sql, minhash_bands_sql
from .graph import _band_edges

#: fixed power-iteration budget (unrolled identically in the oracle)
PAGERANK_ITERS = 3
#: damping 0.85 as an exact rational (never a float)
DAMP_NUM, DAMP_DEN = 17, 20
#: rank scale: micro-units
PR_SCALE = 1_000_000
#: teleport term: (1 - d) · SCALE, exact
PR_TELEPORT = (PR_SCALE * (DAMP_DEN - DAMP_NUM)) // DAMP_DEN


def pagerank_integer(edges: DataFrame, iters: int = PAGERANK_ITERS) -> DataFrame:
    """(node, pr_micro, degree) — integer-arithmetic PageRank on the
    undirected graph given as canonical (a, b) edge rows.

    Every node in the symmetrized graph has degree ≥ 1, so there is no
    dangling-mass term; isolated docs (no edges) are out of scope by
    construction — their rank is the teleport constant and carries no
    information.
    """
    # cut the band-self-join lineage: joined every round
    sym = stage(
        edges.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(edges.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    )
    deg = stage(sym.groupBy("src").agg(F.count("*").alias("deg")))
    ranks = deg.select(F.col("src").alias("node"), F.lit(PR_SCALE).cast("long").alias("r"))
    for _ in range(iters):
        contrib = ranks.join(deg, ranks.node == deg.src).select(
            F.col("src"), F.expr("r div deg").alias("c")
        )
        ranks = (
            sym.join(contrib, "src")
            .groupBy("dst")
            .agg(
                (
                    F.lit(PR_TELEPORT)
                    + F.expr(f"({DAMP_NUM} * sum(c)) div {DAMP_DEN}")
                ).alias("r")
            )
            .select(F.col("dst").alias("node"), "r")
        )
    return ranks.join(deg, ranks.node == deg.src).select(
        "node", F.col("r").alias("pr_micro"), F.col("deg").alias("degree")
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """(node, tri_count) for every node on ≥ 1 triangle, via
    degree-ordered edge orientation (see module docstring)."""
    # cut lineage once: the edge list (often an expensive self-join
    # upstream, e.g. MinHash banding) is consumed by four joins below —
    # without the cut every reuse replays it (first audit of this plan:
    # 139 exchanges; with the cuts: the wedge+closing joins only)
    e = stage(edges.select(F.col("a"), F.col("b")))
    sym = e.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
        e.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    deg = sym.groupBy("src").agg(F.count("*").alias("deg"))
    # orient each undirected edge low-(deg,id) → high-(deg,id)
    with_deg = (
        e.join(deg.select(F.col("src").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("src").alias("b"), F.col("deg").alias("db")), "b")
    )
    lower_first = F.struct("da", "a") < F.struct("db", "b")
    # reused by both wedge legs and the closing join
    o = stage(
        with_deg.select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
            F.when(lower_first, F.col("db")).otherwise(F.col("da")).alias("ddeg"),
        )
    )
    x, y = o.alias("x"), o.alias("y")
    wedges = x.join(
        y,
        (F.col("x.src") == F.col("y.src"))
        & (
            F.struct(F.col("x.ddeg"), F.col("x.dst"))
            < F.struct(F.col("y.ddeg"), F.col("y.dst"))
        ),
    ).select(
        F.col("x.src").alias("u"), F.col("x.dst").alias("v"), F.col("y.dst").alias("w")
    )
    closing = o.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    tris = wedges.join(closing, ["v", "w"])
    corners = (
        tris.select(F.col("u").alias("node"))
        .union(tris.select(F.col("v").alias("node")))
        .union(tris.select(F.col("w").alias("node")))
    )
    return corners.groupBy("node").agg(F.count("*").alias("tri_count"))


# The oracles below read the band-candidate graph ``cand(doc_id_1,
# doc_id_2)`` from the shared dedup fragments; their pagerank, triangle
# and assortativity bodies are each their own kernel.
def _pagerank_oracle() -> str:
    prev = "r0"
    iter_ctes = []
    for i in range(1, PAGERANK_ITERS + 1):
        iter_ctes.append(f"""
    r{i} AS (
      SELECT e.dst AS node,
             CAST({PR_TELEPORT}
                  + ({DAMP_NUM} * sum(r.r // d.deg)) // {DAMP_DEN}
                  AS BIGINT) AS r
      FROM sym e
      JOIN {prev} r ON e.src = r.node
      JOIN deg d ON d.src = e.src
      GROUP BY e.dst
    )""")
        prev = f"r{i}"
    return f"""
    WITH {_SHINGLED_SQL},
    {minhash_bands_sql()},
    {band_pairs_sql()},
    sym AS (SELECT doc_id_1 AS src, doc_id_2 AS dst FROM cand
            UNION ALL SELECT doc_id_2, doc_id_1 FROM cand),
    deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY src),
    r0 AS (SELECT src AS node, CAST({PR_SCALE} AS BIGINT) AS r FROM deg),
    {",".join(iter_ctes)}
    SELECT d.src AS doc_id, r.r AS pr_micro, d.deg AS degree
    FROM {prev} r JOIN deg d ON d.src = r.node
    """


@register("graph_pagerank_docs", oracle=_pagerank_oracle())
def graph_pagerank_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication-centrality ranking: integer-arithmetic PageRank (3
    unrolled iterations, micro-unit ranks, 0.85 = 17/20 damping) over
    the MinHash band-candidate graph. High pr_micro = the template/hub
    document of a near-dup neighborhood. Verified against DuckDB
    replaying the identical integer recurrence as plain CTEs."""
    return pagerank_integer(_band_edges(spark, sf_dir)).select(
        F.col("node").alias("doc_id"), "pr_micro", "degree"
    )


def _triangle_oracle() -> str:
    return f"""
    WITH {_SHINGLED_SQL},
    {minhash_bands_sql()},
    {band_pairs_sql()},
    tri AS (
      SELECT e1.doc_id_1 AS x, e1.doc_id_2 AS y, e2.doc_id_2 AS z
      FROM cand e1
      JOIN cand e2 ON e2.doc_id_1 = e1.doc_id_2
      JOIN cand e3 ON e3.doc_id_1 = e1.doc_id_1 AND e3.doc_id_2 = e2.doc_id_2
    ),
    corners AS (
      SELECT x AS doc_id FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    )
    SELECT doc_id, count(*) AS tri_count FROM corners GROUP BY doc_id
    """


@register("graph_triangle_cohesion", oracle=_triangle_oracle())
def graph_triangle_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-cohesion triangles: per-doc count of closed triangles in
    the MinHash band-candidate graph (degree-ordered wedge generation;
    see module docstring for the skew bound). Docs with tri_count > 0
    sit in true near-dup cliques; band-collision strays never close a
    triangle. Oracle counts the same triangles via the canonical
    a < b < c three-way self-join — an independent formulation."""
    return triangle_counts(_band_edges(spark, sf_dir)).select(
        F.col("node").alias("doc_id"), "tri_count"
    )


# --- degree assortativity ------------------------------------------------
# Does the near-dup graph link hubs to hubs (template clusters pile
# up) or hubs to leaves? Newman's degree assortativity = the Pearson
# correlation of endpoint degrees over every directed edge (each
# undirected edge counted in both orientations — the standard
# symmetrization). Moments run in HUGEINT/DECIMAL(38,0) exact integers
# (the corr-kernel precedent: hourly ACF, price/quantity corr), the
# only float ops one sqrt + one divide; a degree-regular graph (zero
# variance) yields NULL, guarded identically on both engines.


def _assortativity_oracle() -> str:
    return f"""
    WITH {_SHINGLED_SQL},
    {minhash_bands_sql()},
    {band_pairs_sql()},
    sym AS (
      SELECT doc_id_1 AS src, doc_id_2 AS dst FROM cand
      UNION ALL
      SELECT doc_id_2 AS src, doc_id_1 AS dst FROM cand
    ),
    deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY src),
    pairs AS (
      SELECT CAST(da.deg AS HUGEINT) AS x, CAST(db.deg AS HUGEINT) AS y
      FROM sym e
      JOIN deg da ON da.src = e.src
      JOIN deg db ON db.src = e.dst
    ),
    s AS (
      SELECT count(*) AS k,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
      FROM pairs
    )
    SELECT
      (SELECT count(*) FROM deg) AS n_nodes,
      (SELECT count(*) FROM cand) AS n_edges,
      CAST(k AS BIGINT) AS n_endpoints,
      CASE WHEN k * sxx - sx * sx > 0 AND k * syy - sy * sy > 0
           THEN round(CAST(k * sxy - sx * sy AS DOUBLE)
                / sqrt(CAST(k * sxx - sx * sx AS DOUBLE)
                       * CAST(k * syy - sy * sy AS DOUBLE)), 4)
      END AS assortativity
    FROM s
    """


@register("graph_degree_assortativity", oracle=_assortativity_oracle())
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the near-dup candidate graph (see block
    comment). Plan: the candidate edge list feeds FIVE branches (two
    sym orientations, degrees, node/edge counts) — stage it
    once (the pagerank precedent) so the MinHash band self-join runs a
    single time instead of replaying per branch (cold-plan audit read
    46 exchanges before the cut, 5 after); degrees broadcast onto both
    endpoints; the moment aggregate is a single row."""
    edges = stage(_band_edges(spark, sf_dir))
    sym = edges.selectExpr("a AS src", "b AS dst").unionAll(
        edges.selectExpr("b AS src", "a AS dst")
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    dec = "decimal(38,0)"
    pairs = (
        sym.join(F.broadcast(deg.withColumnRenamed("src", "_a")), sym.src == F.col("_a"))
        .withColumnRenamed("deg", "x")
        .join(
            F.broadcast(
                deg.withColumnRenamed("src", "_b").withColumnRenamed("deg", "y")
            ),
            sym.dst == F.col("_b"),
        )
        .select(F.col("x").cast(dec).alias("x"), F.col("y").cast(dec).alias("y"))
    )
    s = pairs.agg(
        F.count(F.lit(1)).cast(dec).alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).alias("syy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"),
    )
    n_nodes = F.broadcast(deg.agg(F.count(F.lit(1)).alias("n_nodes")))
    n_edges = F.broadcast(edges.agg(F.count(F.lit(1)).alias("n_edges")))
    vx = F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("k") * F.col("syy") - F.col("sy") * F.col("sy")
    cov = F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")
    r = F.when(
        (vx > 0) & (vy > 0),
        F.round(
            cov.cast("double") / F.sqrt(vx.cast("double") * vy.cast("double")),
            4,
        ),
    )
    return (
        s.crossJoin(n_nodes)
        .crossJoin(n_edges)
        .select(
            "n_nodes",
            "n_edges",
            F.col("k").cast("bigint").alias("n_endpoints"),
            r.alias("assortativity"),
        )
    )
