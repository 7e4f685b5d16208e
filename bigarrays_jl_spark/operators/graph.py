"""Graph analytics over the embedding k-NN graph (builder extension,
SURVEY §2C round 8).

The reference has no graph surface; this family demonstrates the
iterative-algorithm shape a Spark engine needs for link analysis over
similarity graphs (the "which documents anchor a near-dup cluster"
question that follows dedup_components).  Three operators:

- ``graph_knn_edges``   — the exact k-NN edge table (k=3, cosine),
- ``graph_degree_stats``— in-degree histogram of that graph,
- ``graph_pagerank``    — damped PageRank, N_ITER synchronous
                          iterations, driven as a DataFrame loop.

Scale posture: the demo edge construction is brute-force all-pairs
(node count capped at N_GRAPH so the DuckDB twin stays tractable); at
100 TB edge discovery is the banded-LSH candidate path
(``similarity.sim_lsh_pairs``) or the IVF-routed scan — both already in
tree — and PageRank itself only ever touches the *edge table*, whose
size is nodes×k, never pairs.  Each iteration is one shuffle (join on
src + groupBy dst); the edge table is materialized once so the
k-NN construction is not re-evaluated five times (same
executor-loss tradeoff as ordering.distributed_prefix_sum).

Cross-engine float parity: cosine goes through the shared
``functions.guarded_cosine`` canon (fold-order-matched dot, round 6,
-2.0 sentinel on zero-norm vectors so a degenerate embedding can never
win a k-NN slot on one engine and lose it on the other); PageRank
contributions accumulate in exact DECIMAL with ONE double division per
iteration, and each iteration re-rounds to RANK_DIGITS decimals on BOTH
engines so summation-order ulps can never compound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from bigarrays_jl_spark.checkpointing import materialize
from bigarrays_jl_spark.functions import dot as _dot
from bigarrays_jl_spark.functions import norm2 as _norm2
# DuckDB twins of the functions.dot / functions.norm2 fold canon —
# single source of truth in similarity.py (an inline copy could drift
# and break the graph family's cross-engine hashes alone)
from bigarrays_jl_spark.operators.similarity import _DOT_SQL, _NORM2_SQL
from bigarrays_jl_spark.sources.tables import load

N_GRAPH = 1000     # node cap: all of sf0.01, half of sf0.1 (oracle budget)
K_NN = 3           # out-degree of every node
DAMPING = 0.85
N_ITER = 5
RANK_DIGITS = 10   # per-iteration re-round: kills summation-order ulps


# the edge-table CTE shared verbatim by all three oracle twins
_EDGES_CTE = f"""
nodes0 AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {N_GRAPH}),
scored AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         CASE WHEN {_NORM2_SQL.format(a='a.embedding')} > 0
               AND {_NORM2_SQL.format(a='b.embedding')} > 0
              THEN round({_DOT_SQL.format(a='a.embedding', b='b.embedding')}
                         / (sqrt({_NORM2_SQL.format(a='a.embedding')})
                            * sqrt({_NORM2_SQL.format(a='b.embedding')})), 6)
              ELSE -2.0 END AS cosine
  FROM nodes0 a, nodes0 b WHERE a.vec_id <> b.vec_id),
ranked AS (
  SELECT src, dst, cosine,
         row_number() OVER (PARTITION BY src
                            ORDER BY cosine DESC, dst) AS r
  FROM scored),
edges AS (SELECT src, dst, cosine, CAST(r AS INT) AS rank
          FROM ranked WHERE r <= {K_NN})"""


def _knn_edges(spark: SparkSession, sf: str) -> DataFrame:
    """src → its K_NN most-cosine-similar dst (ties broken by dst id).

    Two value-preserving evaluation cuts on the O(N²) demo product
    (the fold evaluations are its dominant cost):

    - cosine is computed once per UNORDERED pair (src < dst) and
      mirrored — the expression is exactly symmetric (commutative
      per-element multiply, identical fold order), so the mirrored
      value is bit-identical;
    - each vector's squared norm is computed ONCE (N folds) instead of
      inline per pair (2·N² folds), leaving one dot fold per pair.
      The per-pair expression sqrt(n2_a)·sqrt(n2_b) consumes the same
      norm2 doubles the inline ``guarded_cosine`` form produces, so
      every rounded cosine — and the oracle twin, which keeps the
      inline form — is unchanged bit-for-bit."""
    e = (load(spark, sf, "embeddings")
         .filter(F.col("vec_id") < N_GRAPH)
         .select("vec_id", "embedding", _norm2(F.col("embedding")).alias("n2")))
    q = e.select(F.col("vec_id").alias("src"), F.col("embedding").alias("qe"),
                 F.col("n2").alias("qn2"))
    guarded = F.when(
        (F.col("qn2") > 0) & (F.col("n2") > 0),
        F.round(_dot(F.col("qe"), F.col("embedding"))
                / (F.sqrt(F.col("qn2")) * F.sqrt(F.col("n2"))), 6)
    ).otherwise(F.lit(-2.0))
    half = (e.select(F.col("vec_id").alias("dst"), "embedding", "n2")
             .crossJoin(F.broadcast(q))
             .filter(F.col("src") < F.col("dst"))
             .select("src", "dst", guarded.alias("cosine")))
    scored = half.unionAll(half.select(F.col("dst").alias("src"),
                                       F.col("src").alias("dst"), "cosine"))
    w = W.partitionBy("src").orderBy(F.col("cosine").desc(), F.col("dst"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= K_NN)
                  .select("src", "dst", "cosine", "rank"))


# One materialization of the capped all-pairs demo fit per
# (spark application, sf dir): graph_pagerank / graph_degree_stats /
# graph_triangle_stats all consume the same 1000-node k-NN table, and
# before round 11 each query re-paid the O(N²) construction from
# scratch (8.8 s of the 8.8 s graph_pagerank clean time was the fit).
# Same idiom as the demo_volume sentinel (round10k), in-memory because
# a checkpointed table is already materialized.  Keyed by
# applicationId so a fresh session (fresh executors — old checkpoint
# blocks gone) can never see a stale handle.
_EDGE_CACHE: dict[tuple[str, str], DataFrame] = {}


def _knn_edges_cached(spark: SparkSession, sf: str) -> DataFrame:
    app = spark.sparkContext.applicationId
    key = (app, sf)
    df = _EDGE_CACHE.get(key)
    if df is None:
        # evict entries from dead applications first: a long-lived
        # driver spanning many Spark apps would otherwise accumulate
        # stale DataFrame handles (and pin their lineage) forever
        for k in [k for k in _EDGE_CACHE if k[0] != app]:
            del _EDGE_CACHE[k]
        df = materialize(_knn_edges(spark, sf), eager=True)
        _EDGE_CACHE[key] = df
    return df


def graph_knn_edges(spark: SparkSession, sf: str) -> DataFrame:
    return _knn_edges_cached(spark, sf)


GRAPH_KNN_EDGES_SQL = f"""
WITH {_EDGES_CTE}
SELECT src, dst, cosine, rank FROM edges
"""


def graph_degree_stats(spark: SparkSession, sf: str) -> DataFrame:
    """In-degree histogram: how concentrated are the similarity links
    (hub nodes = canonical representatives of dense near-dup regions).
    Nodes nobody links to appear as in_deg = 0 via the left anti shape."""
    # nodes and indeg both consume the shared per-session k-NN fit
    edges = _knn_edges_cached(spark, sf)
    nodes = edges.select(F.col("src").alias("vec_id")).distinct()
    indeg = edges.groupBy(F.col("dst").alias("vec_id")).agg(
        F.count("*").alias("in_deg"))
    per_node = (nodes.join(indeg, "vec_id", "left")
                .select("vec_id", F.coalesce("in_deg", F.lit(0)).alias("in_deg")))
    return (per_node.groupBy("in_deg")
            .agg(F.count("*").alias("n_nodes")))


GRAPH_DEGREE_STATS_SQL = f"""
WITH {_EDGES_CTE},
nodes AS (SELECT DISTINCT src AS vec_id FROM edges),
indeg AS (SELECT dst AS vec_id, count(*) AS in_deg FROM edges GROUP BY dst),
per_node AS (
  SELECT n.vec_id, coalesce(i.in_deg, 0) AS in_deg
  FROM nodes n LEFT JOIN indeg i ON n.vec_id = i.vec_id)
SELECT in_deg, count(*) AS n_nodes FROM per_node GROUP BY in_deg
"""


def graph_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """Damped PageRank over the k-NN graph, N_ITER synchronous
    iterations:  r' = (1-d)/N + d * Σ_in r/K_NN.

    Every node has out-degree exactly K_NN (no dangling mass), so the
    uniform-split contribution is r/K_NN.  The edge table is
    materialized so the five join+agg iterations reuse one
    materialization instead of re-running the k-NN construction; each
    iteration is a single shuffle.  Ranks re-round to RANK_DIGITS on
    both engines per iteration (see module doc)."""
    edges = _knn_edges_cached(spark, sf).select("src", "dst")
    nodes = edges.select(F.col("src").alias("vec_id")).distinct()
    n = nodes.agg(F.count("*").cast("double").alias("n"))
    base = nodes.crossJoin(F.broadcast(n))          # (vec_id, n)
    ranks = base.select("vec_id", "n",
                        F.round(F.lit(1.0) / F.col("n"), RANK_DIGITS)
                         .alias("rank"))
    for _ in range(N_ITER):
        r = ranks.select(F.col("vec_id").alias("r_src"), "rank")
        # EXACT decimal accumulation of the incoming ranks (they carry
        # ≤ RANK_DIGITS decimals, far inside decimal(28,12)), ONE double
        # division by K after: a partitioned double sum reaches the
        # round() boundary an ulp apart from DuckDB's sequential sum and
        # flips the 10th decimal (seen live at sf0.1); decimal partials
        # are order-independent at any partitioning.
        contrib = (edges.join(r, edges.src == r.r_src)
                   .groupBy(F.col("dst"))
                   .agg(F.sum(F.col("rank").cast("decimal(28,12)"))
                         .alias("csum")))
        ranks = (base.join(contrib, base.vec_id == contrib.dst, "left")
                 .select(base.vec_id, base.n,
                         F.round((1.0 - DAMPING) / base.n
                                 + DAMPING
                                 * (F.coalesce(contrib.csum.cast("double"),
                                               F.lit(0.0)) / float(K_NN)),
                                 RANK_DIGITS).alias("rank")))
    return ranks.select("vec_id", F.col("rank").alias("pagerank"))


def _pagerank_sql() -> str:
    """Programmatically unrolled N_ITER-iteration twin of the DataFrame
    loop above — identical arithmetic, identical per-iteration round."""
    cte = [f"WITH {_EDGES_CTE},",
           "nodes AS (SELECT DISTINCT src AS vec_id FROM edges),",
           "n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),",
           f"r0 AS (SELECT v.vec_id, round(1.0 / n.n, {RANK_DIGITS}) AS rank"
           "  FROM nodes v CROSS JOIN n)"]
    for i in range(1, N_ITER + 1):
        cte.append(
            f", c{i} AS (SELECT e.dst,"
            f"  sum(CAST(r.rank AS DECIMAL(28,12))) AS csum"
            f"  FROM edges e JOIN r{i-1} r ON e.src = r.vec_id GROUP BY e.dst)"
            f", r{i} AS (SELECT v.vec_id,"
            f"  round({1.0 - DAMPING} / n.n"
            f"        + {DAMPING} * (coalesce(CAST(c.csum AS DOUBLE), 0.0)"
            f"                       / {float(K_NN)}), {RANK_DIGITS}) AS rank"
            f"  FROM nodes v CROSS JOIN n LEFT JOIN c{i} c ON v.vec_id = c.dst)")
    cte.append(f"SELECT vec_id, rank AS pagerank FROM r{N_ITER}")
    return "\n".join(cte)


GRAPH_PAGERANK_SQL = _pagerank_sql()


def graph_triangle_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the
    UNDIRECTED k-NN graph (how clique-ish the similarity structure is —
    high clustering means near-dup regions form tight blobs).

    Canonicalized edges (a < b) make each triangle appear exactly once
    as a < b < c: wedge join on the shared middle node, then one closing
    equi-join — the standard two-shuffle distributed triangle count,
    never an all-pairs product.  Wedge count Σ d(d-1)/2 comes from the
    degree table; both are exact integers on both engines."""
    und = materialize(
        _knn_edges_cached(spark, sf)
        .select(F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"))
        .distinct(), eager=True)  # reused by 3 joins + degrees
    e1 = und.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = und.select(F.col("a").alias("y2"), F.col("b").alias("z"))
    e3 = und.select(F.col("a").alias("x3"), F.col("b").alias("z3"))
    tri = (e1.join(e2, e1.y == e2.y2)
             .join(e3, (F.col("x") == e3.x3) & (F.col("z") == e3.z3))
             .agg(F.count("*").alias("n_triangles")))
    deg = (und.select(F.col("a").alias("node"))
           .unionAll(und.select(F.col("b").alias("node")))
           .groupBy("node").agg(F.count("*").alias("d")))
    wedges = deg.agg((F.sum(F.col("d") * (F.col("d") - 1)) / 2)
                     .cast("bigint").alias("n_wedges"))
    # UNROUNDED quotient: a ratio of exact integers can land on an
    # exact decimal tie where the two engines' round() disagree —
    # identical IEEE operands are bit-identical without the round
    # (repo canon: never round tie-prone quotients)
    return (tri.crossJoin(F.broadcast(wedges))
            .select("n_triangles", "n_wedges",
                    F.when(F.col("n_wedges") > 0,
                           3.0 * F.col("n_triangles") / F.col("n_wedges"))
                     .alias("global_clustering")))


GRAPH_TRIANGLE_STATS_SQL = f"""
WITH {_EDGES_CTE},
und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM edges),
tri AS (
  SELECT count(*) AS n_triangles
  FROM und e1
  JOIN und e2 ON e1.b = e2.a
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und)
  GROUP BY node),
w AS (SELECT CAST(sum(d * (d - 1)) / 2 AS BIGINT) AS n_wedges FROM deg)
SELECT tri.n_triangles, w.n_wedges,
       CASE WHEN w.n_wedges > 0
            THEN 3.0 * tri.n_triangles / w.n_wedges END
         AS global_clustering
FROM tri CROSS JOIN w
"""


QUERIES = {
    "graph_knn_edges": graph_knn_edges,
    "graph_degree_stats": graph_degree_stats,
    "graph_pagerank": graph_pagerank,
    "graph_triangle_stats": graph_triangle_stats,
}

ORACLES = {
    "graph_knn_edges": GRAPH_KNN_EDGES_SQL,
    "graph_degree_stats": GRAPH_DEGREE_STATS_SQL,
    "graph_pagerank": GRAPH_PAGERANK_SQL,
    "graph_triangle_stats": GRAPH_TRIANGLE_STATS_SQL,
}
