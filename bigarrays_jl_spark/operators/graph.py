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

Graphs over LSH-discovered edges (``similarity.sim_lsh_pairs``) sit
beside the k-NN family: PageRank, triangles (one ``_triangle_stats``
for both edge tables), BFS hops, SSSP and label propagation, plus the
pointer-doubling hierarchy depth (q62).
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
from bigarrays_jl_spark.operators.events import VQ
from bigarrays_jl_spark.operators.similarity import (SIM_LSH_PAIRS_SQL,
                                                     _DOT_SQL, _NORM2_SQL,
                                                     sim_lsh_pairs)
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
# Same idiom as the advanced.scratch_volume sentinel, in-memory because
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
        # without it `graph_pagerank`'s optimized plan has 407 lines, not 84
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


def _triangle_stats(und: DataFrame) -> DataFrame:
    """Triangle count, wedge count and global clustering of an
    undirected edge table ``und(a, b)`` with a < b on every row.

    Each triangle appears exactly once as a < b < c: wedge join on the
    shared middle node, then one closing equi-join — the standard
    two-shuffle distributed triangle count, never an all-pairs product.
    Wedge count Σ d(d-1)/2 comes from the degree table; both are exact
    integers on both engines."""
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


def graph_triangle_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the
    UNDIRECTED k-NN graph (how clique-ish the similarity structure is —
    high clustering means near-dup regions form tight blobs), over the
    canonicalized edges (a < b)."""
    und = (_knn_edges_cached(spark, sf)
           .select(F.least("src", "dst").alias("a"),
                   F.greatest("src", "dst").alias("b"))
           .distinct())
    return _triangle_stats(und)


# the DuckDB twin of _triangle_stats over a CTE ``und(a, b)``, a < b
_TRIANGLE_STATS_SQL = """tri AS (
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


GRAPH_TRIANGLE_STATS_SQL = f"""
WITH {_EDGES_CTE},
und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM edges),
{_TRIANGLE_STATS_SQL}"""


# Graph analytics over LSH-DISCOVERED edges (builder extension,
# SURVEY §2C round 9).
#
# Round 8's graph family (``graph.py``) proved the iterative PageRank /
# triangle machinery against an oracle, but its demo edge constructor was
# the N_GRAPH-capped all-pairs k-NN — the module doc *claimed* the banded
# LSH path as the production edge discovery without any registry query
# composing the two.  This module closes that gap: the edge table here IS
# ``similarity.sim_lsh_pairs`` — the parametric sign-LSH candidate join
# (bucketed, never all-pairs) with exact-cosine verification — so the
# whole pipeline "discover similarity edges at corpus scale → run link
# analysis on them" is oracle-checked end-to-end.
#
# ``graph_pagerank_lsh``  — damped PageRank on the symmetrized LSH
# similarity graph.  Unlike the k-NN demo the out-degree varies per
# node, so each node's contribution is rank/out_degree; the graph is
# symmetric, hence every node both emits and receives (no dangling
# mass) and N is the node count of the edge table.
#
# ``graph_triangles_lsh`` — triangle census + global clustering of the
# same graph (pairs are already canonical vec_a < vec_b).
#
# Scale posture: edge discovery is the banded LSH join (cost ∝ bucket
# occupancy, parametric in BAND_BITS), the edge table is ∝ true near
# pairs, and each PageRank iteration is one shuffle (join on src +
# groupBy dst) over that edge table — never over the corpus.
#
# Float parity: per-row contribution rank/deg is an IEEE double quotient
# (identical operands ⇒ bit-identical on both engines); accumulation
# casts each contribution to DECIMAL(28,12) (the `relational._dsum2`
# per-row-cast canon — deterministic, order-independent) and each
# iteration re-rounds to RANK_DIGITS on BOTH engines so ulps cannot
# compound (the ``graph.graph_pagerank`` discipline).  The clustering
# coefficient is emitted as the UNROUNDED double quotient — a ratio of
# exact integers can land on an exact decimal tie where the two engines'
# round() disagree (repo canon: never round tie-prone quotients).

def _lsh_edges(spark: SparkSession, sf: str) -> DataFrame:
    """Directed symmetrization (src, dst) of the LSH similarity pairs,
    materialized once for the iteration loop."""
    p = sim_lsh_pairs(spark, sf).select("vec_a", "vec_b")
    # without it `graph_hops_lsh` runs 26 Spark jobs, not 25
    return materialize(
        p.select(F.col("vec_a").alias("src"), F.col("vec_b").alias("dst"))
         .unionAll(p.select(F.col("vec_b").alias("src"),
                            F.col("vec_a").alias("dst"))), eager=True)


# the shared DuckDB edge CTE: the full LSH pair query nests as a
# derived CTE (standard SQL allows WITH inside a CTE body).  BOTH CTEs
# are MATERIALIZED — the unrolled PageRank iterations reference `edges`
# 2×N_ITER times, and letting the optimizer inline the 48-plane LSH
# projection per reference blows the oracle's memory (observed
# bad_alloc at sf0.1 in the full-registry sweep) — one evaluation is
# also what the Spark side does (materialized edge table).
_LSH_EDGES_CTE = f"""
pairs AS MATERIALIZED ({SIM_LSH_PAIRS_SQL}),
edges AS MATERIALIZED (
  SELECT vec_a AS src, vec_b AS dst FROM pairs
  UNION ALL
  SELECT vec_b AS src, vec_a AS dst FROM pairs)"""


def graph_pagerank_lsh(spark: SparkSession, sf: str) -> DataFrame:
    edges = _lsh_edges(spark, sf)
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    n = deg.agg(F.count("*").cast("double").alias("n"))
    # without it `graph_pagerank_lsh`'s optimized plan has 79 lines, not 37
    base = materialize(
        deg.select(F.col("src").alias("vec_id"), "deg")
           .crossJoin(F.broadcast(n)), eager=False)
    ranks = base.select("vec_id", "deg", "n",
                        F.round(F.lit(1.0) / F.col("n"), RANK_DIGITS)
                         .alias("rank"))
    for _ in range(N_ITER):
        r = ranks.select(F.col("vec_id").alias("r_src"),
                         (F.col("rank") / F.col("deg")).alias("contrib"))
        # per-iteration fold in ONE vec_id shuffle (the graph_hops_lsh
        # idiom): base rows ride the same grouped agg as the edge
        # contributions — min(deg)/min(n) recover the node attributes
        # (exactly one base row per node), decimal sum ignores the base
        # row's NULL contribution, and an all-NULL sum is NULL exactly
        # where the old left join missed — replacing the per-iteration
        # groupBy(dst) + join-back pair, bit-identical by construction
        flows = (edges.join(r, edges.src == r.r_src)
                 .select(F.col("dst").alias("vec_id"),
                         F.lit(None).cast("bigint").alias("deg"),
                         F.lit(None).cast("double").alias("n"),
                         F.col("contrib").cast("decimal(28,12)")
                          .alias("c")))
        ranks = (base.select("vec_id", "deg", "n",
                             F.lit(None).cast("decimal(28,12)").alias("c"))
                 .union(flows)
                 .groupBy("vec_id")
                 .agg(F.min("deg").alias("deg"), F.min("n").alias("n"),
                      F.sum("c").alias("csum"))
                 .select("vec_id", "deg", "n",
                         F.round((1.0 - DAMPING) / F.col("n")
                                 + DAMPING
                                 * (F.coalesce(F.col("csum").cast("double"),
                                               F.lit(0.0))),
                                 RANK_DIGITS).alias("rank")))
    return ranks.select("vec_id", F.col("rank").alias("pagerank"))


def _pagerank_lsh_sql() -> str:
    cte = [f"WITH {_LSH_EDGES_CTE},",
           "deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),",
           "n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),",
           f"r0 AS (SELECT d.src AS vec_id, d.deg,"
           f" round(1.0 / n.n, {RANK_DIGITS}) AS rank"
           "  FROM deg d CROSS JOIN n)"]
    for i in range(1, N_ITER + 1):
        cte.append(
            f", c{i} AS (SELECT e.dst,"
            f"  sum(CAST(r.rank / r.deg AS DECIMAL(28,12))) AS csum"
            f"  FROM edges e JOIN r{i-1} r ON e.src = r.vec_id"
            f"  GROUP BY e.dst)"
            f", r{i} AS (SELECT d.src AS vec_id, d.deg,"
            f"  round({1.0 - DAMPING} / n.n"
            f"        + {DAMPING} * coalesce(CAST(c.csum AS DOUBLE), 0.0),"
            f"        {RANK_DIGITS}) AS rank"
            f"  FROM deg d CROSS JOIN n LEFT JOIN c{i} c ON d.src = c.dst)")
    cte.append(f"SELECT vec_id, rank AS pagerank FROM r{N_ITER}")
    return "\n".join(cte)


GRAPH_PAGERANK_LSH_SQL = _pagerank_lsh_sql()


def graph_triangles_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """Triangle count + global clustering of the LSH similarity graph
    (pairs already canonical a < b, so each triangle appears once as
    a < b < c via the standard two-shuffle wedge join)."""
    # without it `graph_triangles_lsh`'s optimized plan has 65 lines, not 20
    und = materialize(sim_lsh_pairs(spark, sf).select(
        F.col("vec_a").alias("a"), F.col("vec_b").alias("b")), eager=True)
    return _triangle_stats(und)


GRAPH_TRIANGLES_LSH_SQL = f"""
WITH {_LSH_EDGES_CTE},
und AS (SELECT vec_a AS a, vec_b AS b FROM pairs),
{_TRIANGLE_STATS_SQL}"""


# q62: RECURSION under the oracle gate.  Spark has no recursive CTE,
# so ancestry walks become pointer-doubling self-joins — O(log depth)
# rounds, each a key-partitioned equi-join (the same doubling idiom as
# volume_components' label propagation, here over a relational
# hierarchy with a DuckDB ``WITH RECURSIVE`` twin).

# --------------------------------------------------------------------------
# q62 — hierarchy depth via pointer doubling (recursive-CTE shape).
# The part table carries an implicit binary-heap forest: parent(k) =
# k // 2, rooted at key 0 (its own parent).  Depth of every node is
# computed by ancestor pointer doubling: each round replaces a node's
# known ancestor with that ancestor's ancestor and adds the walked
# distances, so after r rounds every pointer has jumped 2^r edges.
# ROUNDS = 6 covers depth ≤ 2^6 = 64 — i.e. ANY 64-bit key space —
# with no data-dependent driver job; converged rows (ancestor = root,
# whose distance term is 0) are fixpoints, so extra rounds are no-ops.
#
# Scale shape: 6 key-partitioned self-joins, shuffle ∝ node count per
# round; lazy materialize per round truncates the doubling plan's
# exponential lineage (the pagerank idiom).  A WITH RECURSIVE oracle
# walks the same forest edge-by-edge in DuckDB.
# --------------------------------------------------------------------------

_DOUBLING_ROUNDS = 6


def q62_hierarchy_depth(spark: SparkSession, sf: str) -> DataFrame:
    p = load(spark, sf, "part").select("p_partkey", "p_retailprice")
    anc = p.select(
        F.col("p_partkey").alias("node"),
        (F.col("p_partkey") / 2).cast("bigint").alias("anc"),
        F.when(F.col("p_partkey") == 0, F.lit(0))
         .otherwise(F.lit(1)).cast("bigint").alias("d"))
    for _ in range(_DOUBLING_ROUNDS):
        b = anc.select(F.col("node").alias("b_node"),
                       F.col("anc").alias("b_anc"),
                       F.col("d").alias("b_d"))
        anc = materialize(
            anc.join(b, anc["anc"] == b["b_node"])
            .select("node", F.col("b_anc").alias("anc"),
                    (F.col("d") + F.col("b_d")).alias("d")), eager=False)
    return (anc.join(p, anc["node"] == p["p_partkey"])
            .groupBy(F.col("d").alias("depth"))
            .agg(F.count("*").alias("n_parts"),
                 F.round(F.sum(F.col("p_retailprice")
                               .cast("decimal(18,6)")), 2)
                  .cast("double").alias("total_retail")))


Q62_SQL = """
WITH RECURSIVE walk AS (
  SELECT p_partkey AS node, p_partkey AS cur, 0 AS d FROM part
  UNION ALL
  SELECT node, cur // 2, d + 1 FROM walk WHERE cur <> 0
),
depths AS (SELECT node, CAST(max(d) AS BIGINT) AS depth
           FROM walk GROUP BY node)
SELECT depth, count(*) AS n_parts,
       CAST(round(sum(CAST(p_retailprice AS DECIMAL(18,6))), 2) AS DOUBLE)
         AS total_retail
FROM depths JOIN part ON node = p_partkey
GROUP BY depth
"""


# graph_hops_lsh: bounded-round BFS (unit-weight Bellman-Ford) over
# the ``sim_lsh_pairs`` edge table — each round is one join + min-agg
# shuffle over EDGES (∝ true near pairs, never the corpus), the
# iterative-relaxation sibling of q62's pointer doubling.

# --------------------------------------------------------------------------
# graph_hops_lsh — BFS hop distances from the min-id seed node over the
# symmetrized LSH similarity graph.  HOP_ROUNDS rounds of frontier
# relaxation: dist' = min(dist, 1 + min over in-edges of src dist) —
# after r rounds every node within r hops has its final distance
# (unit-weight Bellman-Ford; the frontier argument).  Nodes farther
# than HOP_ROUNDS (or disconnected) report -1.
#
# Scale shape: each round shuffles the EDGE table once (join on src +
# min-agg on dst) — never the corpus; lazy materialize truncates
# the per-round lineage (the pagerank idiom).  The DuckDB twin unrolls
# the same bounded relaxation over MATERIALIZED CTEs (a WITH RECURSIVE
# min-dist walk would enumerate paths, not frontiers).
# --------------------------------------------------------------------------

HOP_ROUNDS = 4


def graph_hops_lsh(spark: SparkSession, sf: str) -> DataFrame:
    edges = _lsh_edges(spark, sf)
    nodes = edges.select(F.col("src").alias("vec_id")).distinct()
    seed = nodes.agg(F.min("vec_id").alias("s"))
    d = (nodes.crossJoin(F.broadcast(seed))
         .select("vec_id",
                 F.when(F.col("vec_id") == F.col("s"), F.lit(0))
                  .cast("int").alias("dist")))
    for _ in range(HOP_ROUNDS):
        fr = (d.filter(F.col("dist").isNotNull())
              .select(F.col("vec_id").alias("f_id"),
                      F.col("dist").alias("f_d")))
        # relaxation folds in ONE vec_id shuffle: min ignores nulls, so
        # union(current dists, per-in-edge f_d+1) + grouped min is the
        # old least/when ladder without the per-round groupBy(dst) +
        # left-join pair (min(f_d)+1 == min(f_d+1), +1 is monotone)
        relax = (edges.join(fr, edges.src == fr.f_id)
                 .select(F.col("dst").alias("vec_id"),
                         (F.col("f_d") + F.lit(1)).cast("int")
                          .alias("dist")))
        d = materialize(
            d.select("vec_id", "dist").union(relax)
            .groupBy("vec_id").agg(F.min("dist").alias("dist")), eager=False)
    return (d.groupBy(F.coalesce(F.col("dist"), F.lit(-1))
                       .cast("bigint").alias("hops"))
            .agg(F.count("*").alias("n_nodes")))


def _hops_sql() -> str:
    cte = [f"WITH {_LSH_EDGES_CTE},",
           "nodes AS MATERIALIZED (SELECT DISTINCT src AS vec_id FROM edges),",
           "seed AS (SELECT min(vec_id) AS s FROM nodes),",
           "d0 AS (SELECT vec_id, CASE WHEN vec_id = s THEN 0 END AS dist"
           "  FROM nodes CROSS JOIN seed)"]
    for i in range(1, HOP_ROUNDS + 1):
        cte.append(
            f", c{i} AS (SELECT e.dst, CAST(min(d.dist) + 1 AS INTEGER) AS nd"
            f"  FROM edges e JOIN d{i-1} d"
            f"    ON e.src = d.vec_id AND d.dist IS NOT NULL"
            f"  GROUP BY e.dst)"
            f", d{i} AS (SELECT n.vec_id,"
            f"  CASE WHEN n.dist IS NULL THEN c.nd"
            f"       WHEN c.nd IS NULL THEN n.dist"
            f"       ELSE least(n.dist, c.nd) END AS dist"
            f"  FROM d{i-1} n LEFT JOIN c{i} c ON n.vec_id = c.dst)")
    cte.append(f"SELECT CAST(coalesce(dist, -1) AS BIGINT) AS hops,"
               f" count(*) AS n_nodes FROM d{HOP_ROUNDS} GROUP BY 1")
    return "\n".join(cte)


GRAPH_HOPS_SQL = _hops_sql()


SSSP_ROUNDS = 4         # Bellman-Ford relaxation rounds (graph_hops canon)


# graph_sssp_lsh: single-source WEIGHTED shortest paths over the LSH
# similarity graph (weight = quantized cosine distance + 1) —
# Bellman-Ford frontier relaxation, the weighted sibling of
# graph_hops_lsh's unit-weight BFS: nd(dst) = min(dist(src) + w).

# --------------------------------------------------------------------------
# graph_sssp_lsh — weight = round((1 - cosine)*1e6) + 1; `cosine` is
# the pair table's 6-digit-rounded value (already hash-parity across
# engines), so the weight is the same exact integer on both sides.
# --------------------------------------------------------------------------


def graph_sssp_lsh(spark: SparkSession, sf: str) -> DataFrame:
    p = sim_lsh_pairs(spark, sf).select(
        "vec_a", "vec_b",
        (F.round((F.lit(1.0) - F.col("cosine")) * VQ).cast("bigint")
         + 1).alias("w"))
    # without it `graph_sssp_lsh` runs 25 Spark jobs, not 24
    edges = materialize(
        p.select(F.col("vec_a").alias("src"),
                 F.col("vec_b").alias("dst"), "w")
        .unionAll(p.select(F.col("vec_b").alias("src"),
                           F.col("vec_a").alias("dst"), "w")), eager=True)
    nodes = edges.select(F.col("src").alias("vec_id")).distinct()
    seed = nodes.agg(F.min("vec_id").alias("s"))
    d = (nodes.crossJoin(F.broadcast(seed))
         .select("vec_id",
                 F.when(F.col("vec_id") == F.col("s"), F.lit(0))
                  .cast("bigint").alias("dist")))
    for _ in range(SSSP_ROUNDS):
        fr = (d.filter(F.col("dist").isNotNull())
              .select(F.col("vec_id").alias("f_id"),
                      F.col("dist").alias("f_d")))
        # one vec_id shuffle per round: union + grouped min replaces
        # the groupBy(dst) + left-join pair (graph_hops_lsh idiom; min
        # ignores nulls, so unreached nodes keep dist NULL)
        relax = (edges.join(fr, edges.src == fr.f_id)
                 .select(F.col("dst").alias("vec_id"),
                         (F.col("f_d") + F.col("w")).alias("dist")))
        d = materialize(
            d.select("vec_id", "dist").union(relax)
            .groupBy("vec_id").agg(F.min("dist").alias("dist")), eager=False)
    return d.select("vec_id",
                    F.coalesce("dist", F.lit(-1)).alias("sssp_dist"))


def _sssp_sql() -> str:
    steps = []
    prev = "d0"
    for k in range(1, SSSP_ROUNDS + 1):
        steps.append(f"""
d{k} AS MATERIALIZED (
  SELECT d.vec_id,
         CASE WHEN d.dist IS NULL THEN c.nd
              WHEN c.nd IS NULL THEN d.dist
              ELSE least(d.dist, c.nd) END AS dist
  FROM {prev} d LEFT JOIN (
    SELECT e.dst AS vec_id, min(d2.dist + e.w) AS nd
    FROM ew e JOIN {prev} d2 ON e.src = d2.vec_id
    WHERE d2.dist IS NOT NULL GROUP BY 1) c USING (vec_id))""")
        prev = f"d{k}"
    return f"""
WITH {_LSH_EDGES_CTE},
ew AS MATERIALIZED (
  SELECT vec_a AS src, vec_b AS dst,
         CAST(round((1.0 - cosine) * {VQ}) AS BIGINT) + 1 AS w
  FROM pairs
  UNION ALL
  SELECT vec_b AS src, vec_a AS dst,
         CAST(round((1.0 - cosine) * {VQ}) AS BIGINT) + 1 AS w
  FROM pairs),
nodes AS (SELECT DISTINCT src AS vec_id FROM ew),
d0 AS (
  SELECT vec_id,
         CASE WHEN vec_id = (SELECT min(vec_id) FROM nodes)
              THEN CAST(0 AS BIGINT) END AS dist
  FROM nodes),{",".join(steps)}
SELECT vec_id, coalesce(dist, -1) AS sssp_dist FROM {prev}
"""


GRAPH_SSSP_SQL = _sssp_sql()


LPA_ROUNDS = 3


# graph_lpa_lsh: synchronous label-propagation community detection
# over the LSH similarity graph — each round every node adopts its
# neighbors' modal label (ties to the smallest label, the
# deterministic canon), bounded rounds like the package's other
# iterative graph ops.  Completes the graph family: components answer
# "connected?", PageRank "important?", LPA "which community?".

# --------------------------------------------------------------------------
# graph_lpa_lsh
# --------------------------------------------------------------------------


def graph_lpa_lsh(spark: SparkSession, sf: str) -> DataFrame:
    edges = _lsh_edges(spark, sf)
    labels = (edges.select(F.col("src").alias("vec_id")).distinct()
              .withColumn("label", F.col("vec_id")))
    for _ in range(LPA_ROUNDS):
        cnt = (edges.join(labels, edges.src == labels.vec_id)
               .groupBy("dst", "label").agg(F.count("*").alias("cnt")))
        # the winner pick is a grouped min over (-cnt, label) structs —
        # lexicographic struct order IS the old window's (cnt DESC,
        # label ASC) sort, so the pick is identical while the sort-
        # based Window (exchange + per-key sort + rn filter) becomes a
        # map-side-combinable aggregate
        labels = materialize(
            cnt.groupBy("dst")
            .agg(F.min(F.struct((-F.col("cnt")).alias("nc"),
                                F.col("label").alias("l")))
                  .alias("p"))
            .select(F.col("dst").alias("vec_id"),
                    F.col("p.l").alias("label")), eager=False)
    return (labels.groupBy(F.col("label").alias("community"))
            .agg(F.count("*").cast("bigint").alias("n_members"),
                 F.min("vec_id").alias("min_member")))


def _lpa_sql() -> str:
    steps = []
    prev = "l0"
    for k in range(1, LPA_ROUNDS + 1):
        steps.append(f"""
l{k} AS MATERIALIZED (
  SELECT dst AS vec_id, label FROM (
    SELECT e.dst, l.label, count(*) AS cnt,
           row_number() OVER (PARTITION BY e.dst
                              ORDER BY count(*) DESC, l.label) AS rn
    FROM edges e JOIN {prev} l ON e.src = l.vec_id
    GROUP BY e.dst, l.label)
  WHERE rn = 1)""")
        prev = f"l{k}"
    return f"""
WITH {_LSH_EDGES_CTE},
l0 AS (SELECT DISTINCT src AS vec_id, src AS label FROM edges),{",".join(steps)}
SELECT label AS community, count(*) AS n_members,
       min(vec_id) AS min_member
FROM {prev} GROUP BY 1
"""


GRAPH_LPA_SQL = _lpa_sql()


QUERIES = {
    "graph_knn_edges": graph_knn_edges,
    "graph_degree_stats": graph_degree_stats,
    "graph_pagerank": graph_pagerank,
    "graph_triangle_stats": graph_triangle_stats,
    "graph_pagerank_lsh": graph_pagerank_lsh,
    "graph_triangles_lsh": graph_triangles_lsh,
    "q62_hierarchy_depth": q62_hierarchy_depth,
    "graph_hops_lsh": graph_hops_lsh,
    "graph_sssp_lsh": graph_sssp_lsh,
    "graph_lpa_lsh": graph_lpa_lsh,
}

ORACLES = {
    "graph_knn_edges": GRAPH_KNN_EDGES_SQL,
    "graph_degree_stats": GRAPH_DEGREE_STATS_SQL,
    "graph_pagerank": GRAPH_PAGERANK_SQL,
    "graph_triangle_stats": GRAPH_TRIANGLE_STATS_SQL,
    "graph_pagerank_lsh": GRAPH_PAGERANK_LSH_SQL,
    "graph_triangles_lsh": GRAPH_TRIANGLES_LSH_SQL,
    "q62_hierarchy_depth": Q62_SQL,
    "graph_hops_lsh": GRAPH_HOPS_SQL,
    "graph_sssp_lsh": GRAPH_SSSP_SQL,
    "graph_lpa_lsh": GRAPH_LPA_SQL,
}
