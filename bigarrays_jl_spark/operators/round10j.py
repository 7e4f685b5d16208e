"""Round-10 tenth batch: entity-resolution closure, inequality
measurement, and forecast backtesting.

- entity_res_golden: the master-data-management closure over the
  PassJoin fuzzy matcher — fuzzy name pairs (edit distance ≤ 3) become
  edges, min-label propagation forms match clusters, and each cluster
  collapses to a GOLDEN RECORD (canonical = lexicographically smallest
  member, the deterministic survivorship rule).  Composes three proven
  pieces: PassJoin blocking (fuzzy_name_pairs), the dedup_components
  iteration discipline (converge-or-raise), and canonical pick.
- q82_gini: the Gini concentration coefficient of extended price per
  return flag — the inequality/concentration read-out ("how skewed is
  revenue") — computed EXACTLY over the value-domain histogram: items
  of value v occupy ranks (cum−w, cum], so Σ rank·x folds to
  Σ v·(w·cum − w(w−1)/2) in integers (the q64 domain-compression
  discipline), and G = 2Σ/(n·Σx) − (n+1)/n closes in doubles once.
- q83_seasonal_backtest: forecast evaluation — seasonal-naive
  ŷ(d) = y(d−7) over per-type daily revenue, scored with MAE and bias
  on every day whose lag exists.  The join is (type, day−7) equi —
  robust to missing days, never a window over a gapped series; all
  errors are exact integers until the two closing divisions.

Float parity: fixed-point/cents integers throughout; every quotient is
one identical double expression emitted unrounded; string min/labels
are ASCII part names (binary collation identical on both engines).

Scale shapes (SCALE.md "Round-10 batch 10"): entity resolution
shuffles the EDGE table per round (bounded by PassJoin's candidate
linearity) and converges-or-raises like every CC in the package; the
Gini histogram shrinks the fact table to distinct cents before any
window (the weighted-median shape); the backtest reduces facts to
(type × day) partials map-side, then self-joins that tiny series.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from bigarrays_jl_spark.checkpointing import materialize
from bigarrays_jl_spark.operators.retrieval import (FUZZY_NAME_PAIRS_SQL,
                                                    fuzzy_name_pairs)
from bigarrays_jl_spark.sources.tables import load

VQ = 1_000_000
ER_MAX_ROUNDS = 20
LAG_DAYS = 7


# --------------------------------------------------------------------------
# entity_res_golden
# --------------------------------------------------------------------------


def entity_res_golden(spark: SparkSession, sf: str) -> DataFrame:
    pairs = fuzzy_name_pairs(spark, sf).select("name_a", "name_b")
    edges = materialize(pairs.union(pairs.select(
        F.col("name_b").alias("name_a"), F.col("name_a").alias("name_b")))
        .toDF("src", "dst"), eager=True)
    labels = materialize(edges.select(F.col("src").alias("node")).distinct()
                         .withColumn("label", F.col("node")), eager=True)
    changed = None
    for _ in range(ER_MAX_ROUNDS):
        # the convergence check rides the SAME shuffle as the label
        # fold: each node appears exactly once with own=1 (its previous
        # label), so min(when(own)) recovers "old" without the
        # join-back the first cut paid per round
        prop = (edges.join(labels, edges["src"] == labels["node"])
                .select(F.col("dst").alias("node"), "label",
                        F.lit(0).alias("own")))
        merged = materialize(
            labels.select("node", "label", F.lit(1).alias("own"))
            .union(prop)
            .groupBy("node")
            .agg(F.min("label").alias("label"),
                 F.min(F.when(F.col("own") == 1, F.col("label")))
                  .alias("old")), eager=True)
        changed = merged.filter(F.col("label") != F.col("old")).count()
        labels = merged.select("node", "label")
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"entity resolution did not converge in {ER_MAX_ROUNDS} "
            f"rounds ({changed} labels still changing)")
    return (labels.groupBy(F.col("label").alias("canonical_name"))
            .agg(F.count("*").cast("bigint").alias("n_members"),
                 F.max("node").alias("last_member")))


ENTITY_RES_SQL = f"""
WITH RECURSIVE
prs AS (SELECT name_a, name_b FROM ({FUZZY_NAME_PAIRS_SQL}) q),
edges AS (SELECT name_a AS src, name_b AS dst FROM prs
          UNION SELECT name_b, name_a FROM prs),
reach(node, lab) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node),
comp AS (SELECT node, min(lab) AS canonical_name FROM reach
         GROUP BY node)
SELECT canonical_name, count(*) AS n_members,
       max(node) AS last_member
FROM comp GROUP BY canonical_name
"""


# --------------------------------------------------------------------------
# q82_gini
# --------------------------------------------------------------------------


def q82_gini(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
         .alias("v"))
    hist = li.groupBy("l_returnflag", "v").agg(F.count("*").alias("w"))
    w_cum = (Window.partitionBy("l_returnflag").orderBy("v")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    h = hist.withColumn("cum", F.sum("w").over(w_cum))
    # items of value v occupy ranks (cum-w, cum]: their rank sum is
    # w*cum - w*(w-1)/2 — exact integers end to end
    six_term = (F.col("v").cast("decimal(38,0)")
                * (F.col("w") * F.col("cum")
                   - (F.col("w") * (F.col("w") - 1) / 2).cast("bigint"))
                .cast("decimal(38,0)"))
    m = (h.groupBy("l_returnflag")
         .agg(F.sum("w").cast("double").alias("n"),
              F.sum((F.col("v") * F.col("w")).cast("decimal(38,0)"))
               .cast("double").alias("sx"),
              F.sum(six_term).cast("double").alias("six")))
    return m.select("l_returnflag",
                    F.col("n").cast("bigint").alias("n"),
                    (F.col("sx") / F.col("n") / 100.0)
                    .alias("mean_price"),
                    ((2.0 * F.col("six")) / (F.col("n") * F.col("sx"))
                     - (F.col("n") + 1.0) / F.col("n")).alias("gini"))


Q82_SQL = """
WITH li AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS v
  FROM lineitem),
hist AS (
  SELECT l_returnflag, v, count(*) AS w FROM li GROUP BY 1, 2),
h AS (
  SELECT *, sum(w) OVER (PARTITION BY l_returnflag ORDER BY v
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS cum
  FROM hist),
m AS (
  SELECT l_returnflag,
         CAST(sum(w) AS DOUBLE) AS n,
         CAST(sum(CAST(v AS HUGEINT) * w) AS DOUBLE) AS sx,
         CAST(sum(CAST(v AS HUGEINT)
                  * (w * cum - (w * (w - 1)) // 2)) AS DOUBLE) AS six
  FROM h GROUP BY 1)
SELECT l_returnflag, CAST(n AS BIGINT) AS n,
       sx / n / 100.0 AS mean_price,
       (2.0 * six) / (n * sx) - (n + 1.0) / n AS gini
FROM m
"""


# --------------------------------------------------------------------------
# q83_seasonal_backtest
# --------------------------------------------------------------------------


def q83_seasonal_backtest(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "events").select(
        "event_type",
        F.floor(F.col("ts").cast("long") / 86400).cast("bigint")
         .alias("day"),
        F.round(F.col("value").cast("double") * VQ)
         .cast("bigint").alias("vi"))
    daily = materialize(e.groupBy("event_type", "day")
                        .agg(F.sum("vi").alias("rev")), eager=False)
    fc = daily.select("event_type",
                      (F.col("day") + LAG_DAYS).alias("day"),
                      F.col("rev").alias("fc"))
    scored = daily.join(fc, ["event_type", "day"])
    return (scored.groupBy("event_type")
            .agg(F.count("*").cast("bigint").alias("n_days"),
                 (F.sum(F.abs(F.col("rev") - F.col("fc")))
                   .cast("double") / F.count("*") / VQ).alias("mae"),
                 (F.sum(F.col("rev") - F.col("fc")).cast("double")
                  / F.count("*") / VQ).alias("bias")))


Q83_SQL = f"""
WITH e AS (
  SELECT event_type,
         CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) // 86400 AS day,
         CAST(round(CAST(value AS DOUBLE) * {VQ}) AS BIGINT) AS vi
  FROM events),
daily AS (
  SELECT event_type, day, CAST(sum(vi) AS BIGINT) AS rev
  FROM e GROUP BY 1, 2),
scored AS (
  SELECT a.event_type, a.rev, f.rev AS fc
  FROM daily a JOIN daily f
    ON a.event_type = f.event_type AND f.day = a.day - {LAG_DAYS})
SELECT event_type, count(*) AS n_days,
       CAST(sum(abs(rev - fc)) AS DOUBLE) / count(*) / {VQ} AS mae,
       CAST(sum(rev - fc) AS DOUBLE) / count(*) / {VQ} AS bias
FROM scored GROUP BY 1
"""


QUERIES = {
    "entity_res_golden": entity_res_golden,
    "q82_gini": q82_gini,
    "q83_seasonal_backtest": q83_seasonal_backtest,
}

ORACLES = {
    "entity_res_golden": ENTITY_RES_SQL,
    "q82_gini": Q82_SQL,
    "q83_seasonal_backtest": Q83_SQL,
}
