"""Graph analytics over LSH-DISCOVERED edges (builder extension,
SURVEY §2C round 9).

Round 8's graph family (``graph.py``) proved the iterative PageRank /
triangle machinery against an oracle, but its demo edge constructor was
the N_GRAPH-capped all-pairs k-NN — the module doc *claimed* the banded
LSH path as the production edge discovery without any registry query
composing the two.  This module closes that gap: the edge table here IS
``similarity.sim_lsh_pairs`` — the parametric sign-LSH candidate join
(bucketed, never all-pairs) with exact-cosine verification — so the
whole pipeline "discover similarity edges at corpus scale → run link
analysis on them" is oracle-checked end-to-end.

- ``graph_pagerank_lsh``  — damped PageRank on the symmetrized LSH
  similarity graph.  Unlike the k-NN demo the out-degree varies per
  node, so each node's contribution is rank/out_degree; the graph is
  symmetric, hence every node both emits and receives (no dangling
  mass) and N is the node count of the edge table.
- ``graph_triangles_lsh`` — triangle census + global clustering of the
  same graph (pairs are already canonical vec_a < vec_b).

Scale posture: edge discovery is the banded LSH join (cost ∝ bucket
occupancy, parametric in BAND_BITS), the edge table is ∝ true near
pairs, and each PageRank iteration is one shuffle (join on src +
groupBy dst) over that edge table — never over the corpus.

Float parity: per-row contribution rank/deg is an IEEE double quotient
(identical operands ⇒ bit-identical on both engines); accumulation
casts each contribution to DECIMAL(28,12) (the `relational._dsum2`
per-row-cast canon — deterministic, order-independent) and each
iteration re-rounds to RANK_DIGITS on BOTH engines so ulps cannot
compound (the ``graph.graph_pagerank`` discipline).  The clustering
coefficient is emitted as the UNROUNDED double quotient — a ratio of
exact integers can land on an exact decimal tie where the two engines'
round() disagree (repo canon: never round tie-prone quotients).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigarrays_jl_spark.checkpointing import materialize
from bigarrays_jl_spark.operators.graph import DAMPING, N_ITER, RANK_DIGITS
from bigarrays_jl_spark.operators.similarity import (SIM_LSH_PAIRS_SQL,
                                                     sim_lsh_pairs)


def _lsh_edges(spark: SparkSession, sf: str) -> DataFrame:
    """Directed symmetrization (src, dst) of the LSH similarity pairs,
    materialized once for the iteration loop."""
    p = sim_lsh_pairs(spark, sf).select("vec_a", "vec_b")
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
    # base is referenced once per unrolled iteration (N_ITER + 1 plan
    # occurrences) — materialize the node-sized table once so the deg
    # groupBy + count agg don't re-run per iteration in the one big
    # lineage (the checkpointed edges table only deduped edge
    # DISCOVERY, not this aggregate)
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
    und = materialize(sim_lsh_pairs(spark, sf).select(
        F.col("vec_a").alias("a"), F.col("vec_b").alias("b")), eager=True)
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
    return (tri.crossJoin(F.broadcast(wedges))
            .select("n_triangles", "n_wedges",
                    F.when(F.col("n_wedges") > 0,
                           3.0 * F.col("n_triangles") / F.col("n_wedges"))
                     .alias("global_clustering")))


GRAPH_TRIANGLES_LSH_SQL = f"""
WITH {_LSH_EDGES_CTE},
und AS (SELECT vec_a AS a, vec_b AS b FROM pairs),
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
    "graph_pagerank_lsh": graph_pagerank_lsh,
    "graph_triangles_lsh": graph_triangles_lsh,
}

ORACLES = {
    "graph_pagerank_lsh": GRAPH_PAGERANK_LSH_SQL,
    "graph_triangles_lsh": GRAPH_TRIANGLES_LSH_SQL,
}
