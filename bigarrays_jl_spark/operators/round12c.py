"""Round-12 batch 3 (builder extension, SURVEY §2C):

- ``leadtime_quantiles`` — order-to-ship lead time (days between
  o_orderdate and l_shipdate) P50/P90 per order priority, through
  ``ordering.bucketed_quantile_pick`` — the SinglePartition-free
  two-level quantile primitive (the day-domain is bounded at ~120
  values, but the primitive costs nothing extra and keeps the repo's
  one quantile implementation on every quantile query).  The supply-
  chain SLA readout: does priority actually buy shipping speed?
- ``basket_triples`` — Apriori-style frequent 3-itemsets over order
  baskets at the BRAND level (part-level baskets are support-1 sparse
  on TPC-H: zero triples repeat at sf0.1): items below TRI_ITEM_SUP
  leave before any pair forms, pairs below TRI_PAIR_SUP leave before
  the third item joins — the level-wise candidate prune that makes
  Apriori scale — and the answer is the top-20 triples by support via
  a TakeOrdered heap, so the output is meaningful and fixed-size at
  every scale instead of a threshold that is empty at one SF and
  everything at another.

Scale: lead-time folds to (priority, day) cells map-side before the
pick; the triple miner's joins are all keyed by orderkey with
support-filtered sides; top-k rides the heap, never a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigarrays_jl_spark.checkpointing import materialize
from bigarrays_jl_spark.operators.ordering import bucketed_quantile_picks
from bigarrays_jl_spark.sources.tables import load

TRI_ITEM_SUP = 2       # Apriori level-1 threshold
TRI_PAIR_SUP = 2       # level-2 threshold
TRI_TOPK = 20          # fixed-size answer: top triples by support


def leadtime_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    o = load(spark, sf, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority")
    days = F.datediff(F.col("l_shipdate").cast("date"),
                      F.col("o_orderdate").cast("date"))
    # hist feeds two picks + the totals row — materialize once, or the
    # lineitem⋈orders join + day fold runs 3× (the q70/q72 checkpoint
    # idiom; the day domain is ~120 cells so the checkpoint is tiny)
    hist = materialize(
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
          .select("o_orderpriority", days.alias("d"))
          .groupBy("o_orderpriority", "d")
          .agg(F.count("*").alias("w")),
        eager=False)
    # both fractions ride ONE shared pick chain (r18: per-pick chains
    # re-ran the bucket fold + checkpoint per fraction — see
    # ordering.bucketed_quantile_picks)
    picks = bucketed_quantile_picks(
        hist, "o_orderpriority", "d", "w",
        [(1, 2, "p50_days"), (9, 10, "p90_days")])
    tot = (hist.groupBy("o_orderpriority")
           .agg(F.sum("w").cast("bigint").alias("n_lineitems")))
    return (tot.join(picks, "o_orderpriority")
            .select("o_orderpriority", "n_lineitems",
                    F.col("p50_days").cast("bigint").alias("p50_days"),
                    F.col("p90_days").cast("bigint").alias("p90_days")))


LEADTIME_SQL = """
WITH h AS (
  SELECT o_orderpriority,
         date_diff('day', CAST(o_orderdate AS DATE),
                   CAST(l_shipdate AS DATE)) AS d,
         count(*) AS w
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2),
c AS (
  SELECT o_orderpriority, d, w,
         sum(w) OVER (PARTITION BY o_orderpriority ORDER BY d
                      ROWS UNBOUNDED PRECEDING) AS cum,
         sum(w) OVER (PARTITION BY o_orderpriority) AS tot
  FROM h)
SELECT o_orderpriority,
       CAST(max(tot) AS BIGINT) AS n_lineitems,
       CAST(min(CASE WHEN 2 * cum >= tot THEN d END) AS BIGINT)
         AS p50_days,
       CAST(min(CASE WHEN 10 * cum >= 9 * tot THEN d END) AS BIGINT)
         AS p90_days
FROM c GROUP BY o_orderpriority
"""


def basket_triples(spark: SparkSession, sf: str) -> DataFrame:
    li = (load(spark, sf, "lineitem")
          .join(F.broadcast(load(spark, sf, "part")
                            .select("p_partkey", "p_brand")),
                F.col("l_partkey") == F.col("p_partkey"))
          .select(F.col("l_orderkey").alias("o"),
                  F.col("p_brand").alias("p")).distinct())
    freq = (li.groupBy("p").agg(F.count("*").alias("s"))
            .filter(F.col("s") >= TRI_ITEM_SUP).select("p"))
    li2 = materialize(li.join(F.broadcast(freq), "p", "semi"), eager=False)
    a = li2.select("o", F.col("p").alias("pa"))
    b = li2.select("o", F.col("p").alias("pb"))
    c = li2.select("o", F.col("p").alias("pc"))
    # NOT materialized: the in-order pair stream is consumed twice
    # (level-2 support + the triple probe), but ReuseExchange shares
    # the a/b shuffles between the two consumers and an A/B at sf0.1
    # measured the explicit checkpoint neutral (3.30 vs 3.45 s) while
    # adding executor storage for the LARGEST intermediate — the wrong
    # trade at scale (r17 optimization round)
    pair_sup = (a.join(b, "o").filter(F.col("pa") < F.col("pb"))
                .groupBy("pa", "pb").agg(F.count("*").alias("ps"))
                .filter(F.col("ps") >= TRI_PAIR_SUP)
                .select("pa", "pb"))
    pairs_in_order = (a.join(b, "o").filter(F.col("pa") < F.col("pb"))
                      .join(F.broadcast(pair_sup), ["pa", "pb"], "semi"))
    return (pairs_in_order.join(c, "o")
            .filter(F.col("pb") < F.col("pc"))
            .groupBy("pa", "pb", "pc")
            .agg(F.count("*").alias("sup"))
            .orderBy(F.col("sup").desc(), "pa", "pb", "pc")
            .limit(TRI_TOPK)
            .select(F.col("pa").alias("brand_a"),
                    F.col("pb").alias("brand_b"),
                    F.col("pc").alias("brand_c"),
                    F.col("sup").cast("bigint").alias("triple_sup")))


BASKET_TRIPLES_SQL = f"""
WITH li AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS o, p_brand AS p
  FROM lineitem JOIN part ON l_partkey = p_partkey),
freq AS MATERIALIZED (SELECT p FROM li GROUP BY p
         HAVING count(*) >= {TRI_ITEM_SUP}),
li2 AS MATERIALIZED (SELECT o, p FROM li
                     WHERE p IN (SELECT p FROM freq)),
pair_sup AS MATERIALIZED (
  SELECT a.p AS pa, b.p AS pb
  FROM li2 a JOIN li2 b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2 HAVING count(*) >= {TRI_PAIR_SUP}),
-- MATERIALIZED: DuckDB's default CTE inlining re-derives li2 once per
-- consumer here and the combined plan explodes (the bare query hung
-- at sf0.01; materialized it closes in 0.5 s)
tri AS (
  SELECT a.p AS pa, b.p AS pb, c.p AS pc, count(*) AS sup
  FROM li2 a
  JOIN li2 b ON a.o = b.o AND a.p < b.p
  JOIN pair_sup ps ON ps.pa = a.p AND ps.pb = b.p
  JOIN li2 c ON a.o = c.o AND b.p < c.p
  GROUP BY 1, 2, 3)
SELECT pa AS brand_a, pb AS brand_b, pc AS brand_c,
       CAST(sup AS BIGINT) AS triple_sup
FROM tri
ORDER BY sup DESC, pa, pb, pc
LIMIT {TRI_TOPK}
"""


QUERIES = {
    "leadtime_quantiles": leadtime_quantiles,
    "basket_triples": basket_triples,
}

ORACLES = {
    "leadtime_quantiles": LEADTIME_SQL,
    "basket_triples": BASKET_TRIPLES_SQL,
}
