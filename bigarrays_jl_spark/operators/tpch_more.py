"""TPC-H Q11 / Q22 plan shapes (builder extension, SURVEY §2B
relational surface, round 9).

- ``q53_important_parts`` — TPC-H Q11 shape: per-part value within a
  subject supplier class (odd nations), kept only when it exceeds Q53_FACTOR × the mean
  per-part value — the HAVING-against-a-scalar-subquery pattern (the
  threshold is an aggregate over the SAME derived relation).  TPC-H's
  literal FRACTION-of-total constant must shrink with SF to stay
  non-vacuous (the spec scales it by 1/SF); thresholding against the
  in-query MEAN is the SF-invariant formulation of the same plan.  The
  value relation derives from lineitem (no partsupp in the testdata,
  as in q50).  Spark side: one shared per-part aggregate, the scalar
  (total, count) as a broadcast single row, filter — the decorrelated
  plan Catalyst produces for the scalar subquery.
- ``q54_idle_rich_customers`` — TPC-H Q22 shape: customers with
  above-average positive balance AND no RECENT orders (scalar-avg
  subquery + anti join against the date-filtered fact — the testdata's
  synthetic customers all have lifetime orders, so the literal "no
  orders ever" predicate is vacuous here; "churned since
  Q54_CHURN_DATE" keeps the identical plan shape non-vacuous),
  aggregated per nation (the stand-in for Q22's phone country code).

Float parity: money through the decimal-partials canon; both threshold
comparisons run on doubles cast from the exact decimal sums with the
fraction/avg computed identically on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigarrays_jl_spark.checkpointing import materialize
from bigarrays_jl_spark.operators.relational import _dsum2
from bigarrays_jl_spark.sources.tables import load

# subject supplier class: odd nations — a fixed FRACTION of the
# supplier population at every SF (a single nation key is empty at
# sf0.001's ten-supplier corpus)
Q53_NATION_MOD = 2
Q53_NATION_REM = 1
Q53_FACTOR = 1.5        # keep parts worth > FACTOR x the mean part value

Q54_MIN_BAL = 0.0       # only positive balances feed the average
Q54_CHURN_DATE = "2000-01-01"


def q53_important_parts(spark: SparkSession, sf: str) -> DataFrame:
    s = (load(spark, sf, "supplier")
         .filter(F.col("s_nationkey") % Q53_NATION_MOD == Q53_NATION_REM)
         .select("s_suppkey"))
    # without it `q53_important_parts`'s optimized plan has 23 lines, not 8
    v = materialize(
        load(spark, sf, "lineitem")
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,6)"))
             .alias("dv")), eager=False)
    total = v.agg(F.sum("dv").cast("double").alias("t"),
                  F.count("*").cast("double").alias("n"))
    return (v.crossJoin(F.broadcast(total))
             .filter(F.col("dv").cast("double")
                     > Q53_FACTOR * (F.col("t") / F.col("n")))
             .select("l_partkey",
                     F.round("dv", 2).cast("double").alias("value")))


Q53_SQL = f"""
WITH v AS (
  SELECT l_partkey,
         sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS dv
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  WHERE s_nationkey % {Q53_NATION_MOD} = {Q53_NATION_REM}
  GROUP BY l_partkey)
SELECT l_partkey, CAST(round(dv, 2) AS DOUBLE) AS value
FROM v
WHERE CAST(dv AS DOUBLE) > {Q53_FACTOR}
      * ((SELECT CAST(sum(dv) AS DOUBLE) FROM v)
         / (SELECT CAST(count(*) AS DOUBLE) FROM v))
"""


def q54_idle_rich_customers(spark: SparkSession, sf: str) -> DataFrame:
    c = load(spark, sf, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal")
    # scalar subquery: average positive balance (exact decimal sum /
    # count, one double division — the _davg canon without rounding,
    # since the value only thresholds and is never emitted)
    avg_bal = (c.filter(F.col("c_acctbal") > Q54_MIN_BAL)
               .agg((F.sum(F.col("c_acctbal").cast("decimal(18,6)"))
                     .cast("double")
                     / F.count("c_acctbal")).alias("ab")))
    rich = (c.crossJoin(F.broadcast(avg_bal))
             .filter(F.col("c_acctbal") > F.col("ab")))
    o = (load(spark, sf, "orders")
         .filter(F.col("o_orderdate") >= Q54_CHURN_DATE)
         .select("o_custkey"))
    idle = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return (idle.groupBy("c_nationkey")
                .agg(F.count("*").alias("n_custs"),
                     _dsum2(F.col("c_acctbal")).alias("total_bal")))


Q54_SQL = f"""
WITH ab AS (
  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
           / count(c_acctbal) AS ab
  FROM customer WHERE c_acctbal > {Q54_MIN_BAL}),
idle AS (
  SELECT c.c_nationkey, c.c_acctbal
  FROM customer c CROSS JOIN ab
  WHERE c.c_acctbal > ab.ab
    AND NOT EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate >= '{Q54_CHURN_DATE}'))
SELECT c_nationkey, count(*) AS n_custs,
       CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE)
         AS total_bal
FROM idle GROUP BY c_nationkey
"""


QUERIES = {
    "q53_important_parts": q53_important_parts,
    "q54_idle_rich_customers": q54_idle_rich_customers,
}

ORACLES = {
    "q53_important_parts": Q53_SQL,
    "q54_idle_rich_customers": Q54_SQL,
}
