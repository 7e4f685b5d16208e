"""Round-10 plan shapes: iterative transitive closure (the recursive-CTE
class), sweep-line interval concurrency, and histogram-two-phase
weighted median.

Three computation classes the registry lacked:

- q62: RECURSION under the oracle gate.  Spark has no recursive CTE,
  so ancestry walks become pointer-doubling self-joins — O(log depth)
  rounds, each a key-partitioned equi-join (the same doubling idiom as
  volume_components' label propagation, here over a relational
  hierarchy with a DuckDB ``WITH RECURSIVE`` twin).
- q63: the interval-overlap/sweep-line class (max concurrency) — +1/-1
  boundary points, a per-key running sum, never an interval self-join
  (which is O(n²) per key and unbounded state at 100 TB).
- q64: exact weighted quantiles at scale — the raw-row window sort is
  single-task per group, so the value domain is histogrammed FIRST
  (map-side partial agg, shuffle ∝ distinct values) and the cumulative
  window runs over the compressed histogram, whose size is bounded by
  the value domain, independent of row count.
"""
from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from bigarrays_jl_spark.checkpointing import materialize
from bigarrays_jl_spark.sources.tables import load

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


# --------------------------------------------------------------------------
# q63 — max concurrent activity per user (sweep line).  Each event
# opens an interval [ts, ts + clamp(value, 1..3600) seconds); the
# classic question "how many were active at once" is answered WITHOUT
# an interval self-join: every interval contributes a +1 point at its
# start and a -1 at its end, and a per-user running sum over the
# ordered points IS the concurrency curve; its max is the answer.
#
# Determinism: ORDER BY (t, delta) with the default peers-inclusive
# RANGE frame — ends (-1) sort before starts (+1) at the same instant
# (touching intervals don't overlap), and peer rows share one
# cumulative value, so engine-side tie order can't leak.  Epoch
# seconds follow the repo canon (cast long == floor(epoch_us/1e6)).
#
# Scale shape: state is per-user and the window is user-partitioned —
# 2 rows per event, one shuffle, no join.  An interval self-join twin
# would be O(events² per user); this is O(events log events).
# --------------------------------------------------------------------------

def q63_interval_concurrency(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events")
    s = F.col("ts").cast("long")
    dur = F.floor(F.least(F.greatest(F.coalesce(F.col("value"), F.lit(1.0)),
                                     F.lit(1.0)),
                          F.lit(3600.0))).cast("long")
    iv = ev.select("user_id", s.alias("s"), (s + dur).alias("e"))
    pts = (iv.select("user_id", F.col("s").alias("t"),
                     F.lit(1).alias("delta"))
           .unionAll(iv.select("user_id", F.col("e").alias("t"),
                               F.lit(-1).alias("delta"))))
    w = Window.partitionBy("user_id").orderBy("t", "delta")
    run = pts.withColumn("cc", F.sum("delta").over(w))
    mx = run.groupBy("user_id").agg(F.max("cc").alias("max_cc"))
    return mx.groupBy("max_cc").agg(F.count("*").alias("n_users"))


Q63_SQL = """
WITH iv AS (
  SELECT user_id,
         CAST(floor(epoch_us(ts)/1000000) AS BIGINT) AS s,
         CAST(floor(epoch_us(ts)/1000000) AS BIGINT)
           + CAST(floor(least(greatest(coalesce(value, 1.0), 1.0), 3600.0))
                  AS BIGINT) AS e
  FROM events),
pts AS (
  SELECT user_id, s AS t, 1 AS delta FROM iv
  UNION ALL
  SELECT user_id, e AS t, -1 AS delta FROM iv),
run AS (
  SELECT user_id,
         sum(delta) OVER (PARTITION BY user_id ORDER BY t, delta) AS cc
  FROM pts),
mx AS (SELECT user_id, CAST(max(cc) AS BIGINT) AS max_cc
       FROM run GROUP BY user_id)
SELECT max_cc, count(*) AS n_users FROM mx GROUP BY max_cc
"""


# --------------------------------------------------------------------------
# q64 — exact weighted median per return flag (weight = quantity).
# A raw-row cumulative window sorts EVERY row of a group in one task —
# the single-task-per-group trap at 100 TB.  Prices are exact cents,
# so the value domain is histogrammed first: groupBy (flag, cents)
# with map-side partial sums compresses a billion rows to at most one
# row per distinct price, the cumulative-weight window runs over that
# bounded histogram, and the median is the least value whose doubled
# cumulative weight reaches the total (2·cw ≥ tot — integer compare,
# no float halving).  round(price·100) is exact on both engines: the
# product lands within an ulp of an integer, never near .5.
# --------------------------------------------------------------------------

def q64_weighted_median(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem")
    hist = (li.select(F.col("l_returnflag").alias("flag"),
                      F.round(F.col("l_extendedprice") * 100)
                       .cast("bigint").alias("cents"),
                      F.col("l_quantity").cast("bigint").alias("w"))
            .groupBy("flag", "cents").agg(F.sum("w").alias("w")))
    cum = Window.partitionBy("flag").orderBy("cents")
    tot = Window.partitionBy("flag")
    c = (hist.withColumn("cw", F.sum("w").over(cum))
         .withColumn("tot", F.sum("w").over(tot)))
    return (c.filter(2 * F.col("cw") >= F.col("tot"))
            .groupBy("flag")
            .agg((F.min("cents") / F.lit(100.0)).alias("w_median"),
                 F.max("tot").alias("total_qty")))


Q64_SQL = """
WITH hist AS (
  SELECT l_returnflag AS flag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
  FROM lineitem GROUP BY 1, 2),
c AS (
  SELECT flag, cents, w,
         sum(w) OVER (PARTITION BY flag ORDER BY cents) AS cw,
         sum(w) OVER (PARTITION BY flag) AS tot
  FROM hist)
SELECT flag, CAST(min(cents) AS DOUBLE) / 100.0 AS w_median,
       CAST(max(tot) AS BIGINT) AS total_qty
FROM c WHERE 2 * cw >= tot GROUP BY flag
"""


QUERIES = {
    "q62_hierarchy_depth": q62_hierarchy_depth,
    "q63_interval_concurrency": q63_interval_concurrency,
    "q64_weighted_median": q64_weighted_median,
}

ORACLES = {
    "q62_hierarchy_depth": Q62_SQL,
    "q63_interval_concurrency": Q63_SQL,
    "q64_weighted_median": Q64_SQL,
}
