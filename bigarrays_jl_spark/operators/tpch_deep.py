"""TPC-H deep plan stressors Q2 / Q15 / Q18 (builder extension,
SURVEY §2B relational surface, round 9).

The two classic Catalyst behaviors the six-table chains (multijoin.py)
don't pin:

- ``q50_min_cost_supplier`` — TPC-H Q2 shape: min-cost supplier per
  part over a supplier→nation→region dim chain, with the correlated
  scalar ``cost = (SELECT min(cost) …)`` subquery.  The testdata has
  no partsupp table, so the part↔supplier cost relation derives from
  lineitem (min observed unit price per (part, supplier)) — same join
  topology, same decorrelation.  Spark side expresses the subquery in
  its decorrelated form (per-part min aggregate joined back on
  (partkey, cost)) — exactly the plan Catalyst rewrites the correlated
  form into — with the dim chain broadcast into the cost-relation scan.
- ``q51_top_supplier`` — TPC-H Q15 shape: agg-of-agg view (quarterly
  revenue per supplier), then the suppliers achieving the global max
  revenue — the scalar-subquery-on-a-view pattern.  The max is one
  broadcast row; winners (tiny) broadcast into the supplier join.
- ``q52_large_orders`` — TPC-H Q18 shape: orders whose total quantity
  exceeds a threshold (HAVING on a grouped sum), joined back to orders
  and customer — the large semi-join-on-a-grouped-threshold stressor;
  the threshold table grows with the data so this is a key-partitioned
  shuffle join, deliberately NOT broadcast.

Float parity: money sums go through the decimal-partials canon
(`relational._dsum2`); the Q2 unit cost is a per-row IEEE quotient of
low-scale decimals — the exact-decimal-tie class the repo canon never
rounds — so it is emitted UNROUNDED (bit-identical on both engines),
and the min/equality comparisons run on those bit-identical doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigarrays_jl_spark.checkpointing import materialize
from bigarrays_jl_spark.operators.relational import _dsum2
from bigarrays_jl_spark.sources.tables import load

Q50_REGION = "EUROPE"
Q50_TYPE = "STANDARD"
Q50_MAX_SIZE = 10

Q51_DATE_LO = "1996-01-01"
Q51_DATE_HI = "1996-04-01"

Q52_MIN_QTY = 250


def _elig_costs(spark: SparkSession, sf: str) -> DataFrame:
    """(p, s, cost, s_name, s_acctbal, n_name): min observed unit price
    per (part, supplier), suppliers restricted to Q50_REGION via the
    broadcast dim chain."""
    r = load(spark, sf, "region").filter(F.col("r_name") == Q50_REGION)
    n = (load(spark, sf, "nation")
         .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
         .select("n_nationkey", "n_name"))
    s = (load(spark, sf, "supplier")
         .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
         .select("s_suppkey", "s_name", "s_acctbal", "n_name"))
    ps = (load(spark, sf, "lineitem")
          .select("l_partkey", "l_suppkey",
                  (F.col("l_extendedprice") / F.col("l_quantity"))
                  .alias("unit"))
          .groupBy(F.col("l_partkey").alias("p"),
                   F.col("l_suppkey").alias("sk"))
          .agg(F.min("unit").alias("cost")))
    # without it `q50_min_cost_supplier` runs 7 parquet scans, not 5
    return materialize(
        ps.join(F.broadcast(s), ps.sk == s.s_suppkey).drop("sk"), eager=False)


def q50_min_cost_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q2: for each qualifying part, the region's supplier(s)
    offering the minimum cost — correlated scalar min, decorrelated."""
    elig = _elig_costs(spark, sf)
    min_cost = elig.groupBy("p").agg(F.min("cost").alias("min_cost"))
    parts = (load(spark, sf, "part")
             .filter((F.col("p_type") == Q50_TYPE)
                     & (F.col("p_size") <= Q50_MAX_SIZE))
             .select("p_partkey", "p_name"))
    return (elig.join(min_cost, "p")
                .filter(F.col("cost") == F.col("min_cost"))
                .join(parts, F.col("p") == F.col("p_partkey"))
                .select("p_partkey", "p_name", "s_name", "n_name",
                        "s_acctbal", F.col("cost").alias("unit_cost")))


Q50_SQL = f"""
WITH ps AS (
  SELECT l_partkey AS p, l_suppkey AS sk,
         min(l_extendedprice / l_quantity) AS cost
  FROM lineitem GROUP BY 1, 2),
elig AS (
  SELECT ps.p, ps.cost, su.s_name, su.s_acctbal, n.n_name
  FROM ps
  JOIN supplier su ON su.s_suppkey = ps.sk
  JOIN nation n ON n.n_nationkey = su.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  WHERE r.r_name = '{Q50_REGION}')
SELECT p.p_partkey, p.p_name, e.s_name, e.n_name, e.s_acctbal,
       e.cost AS unit_cost
FROM part p JOIN elig e ON e.p = p.p_partkey
WHERE p.p_type = '{Q50_TYPE}' AND p.p_size <= {Q50_MAX_SIZE}
  AND e.cost = (SELECT min(e2.cost) FROM elig e2 WHERE e2.p = p.p_partkey)
"""


def q51_top_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with the maximum quarterly revenue —
    agg-of-agg view + scalar-max equality."""
    # without it `q51_top_supplier` runs 3 parquet scans, not 2
    rev = materialize(
        load(spark, sf, "lineitem")
        .filter((F.col("l_shipdate") >= Q51_DATE_LO)
                & (F.col("l_shipdate") < Q51_DATE_HI))
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(_dsum2(F.col("l_extendedprice") * (1 - F.col("l_discount")))
             .alias("total_revenue")), eager=False)
    top = rev.agg(F.max("total_revenue").alias("mr"))
    winners = (rev.crossJoin(F.broadcast(top))
                  .filter(F.col("total_revenue") == F.col("mr"))
                  .select("supplier_no", "total_revenue"))
    s = load(spark, sf, "supplier").select("s_suppkey", "s_name")
    return (s.join(F.broadcast(winners),
                   s.s_suppkey == F.col("supplier_no"))
             .select("s_suppkey", "s_name", "total_revenue"))


Q51_SQL = f"""
WITH rev AS (
  SELECT l_suppkey AS supplier_no,
         CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= '{Q51_DATE_LO}' AND l_shipdate < '{Q51_DATE_HI}'
  GROUP BY 1)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s JOIN rev r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
"""


def q52_large_orders(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q18: orders whose lineitem quantity total exceeds
    Q52_MIN_QTY, with customer attribution.  The grouped-threshold
    table joins orders on the key — a shuffle join by design (the
    threshold side grows with the fact table)."""
    big = (load(spark, sf, "lineitem")
           .groupBy("l_orderkey")
           .agg(F.sum(F.col("l_quantity").cast("decimal(18,6)"))
                .alias("dq"))
           .filter(F.col("dq") > Q52_MIN_QTY)
           .select("l_orderkey",
                   F.round("dq", 2).cast("double").alias("sum_qty")))
    o = load(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    c = load(spark, sf, "customer").select("c_custkey", "c_name")
    return (big.join(o, big.l_orderkey == o.o_orderkey)
               .join(c, o.o_custkey == c.c_custkey)
               .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                       "o_totalprice", "sum_qty"))


Q52_SQL = f"""
WITH big AS (
  SELECT l_orderkey,
         CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS sum_qty
  FROM lineitem GROUP BY 1
  HAVING sum(CAST(l_quantity AS DECIMAL(18,6))) > {Q52_MIN_QTY})
SELECT c.c_name, c.c_custkey, o.o_orderkey,
       CAST(o.o_orderdate AS TIMESTAMP) AS o_orderdate,
       o.o_totalprice, b.sum_qty
FROM big b
JOIN orders o ON o.o_orderkey = b.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
"""


QUERIES = {
    "q50_min_cost_supplier": q50_min_cost_supplier,
    "q51_top_supplier": q51_top_supplier,
    "q52_large_orders": q52_large_orders,
}

ORACLES = {
    "q50_min_cost_supplier": Q50_SQL,
    "q51_top_supplier": Q51_SQL,
    "q52_large_orders": Q52_SQL,
}
