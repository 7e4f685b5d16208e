"""Round-10 sixth batch: ECDF quantile normalization and winsorized
robust means.

- q71_quantile_screen: rank-based feature screening — every embedding
  element is mapped to its per-dimension ECDF percentile (the
  quantile-transform normalization ML pipelines apply before models
  that assume uniform marginals), then label-conditional mean
  percentiles expose which labels sit systematically high or low in
  feature space.  A label whose mean percentile strays from 0.5 is
  separable; one that doesn't isn't — the screen costs two shuffles
  regardless of dimensionality.
- q72_winsorized_mean: the robust-mean sibling of q70's MAD — exact
  p5/p95 per group from the value-domain histogram (20·cum ≥ tot and
  20·cum ≥ 19·tot integer rules), values clamped to those fences, and
  the winsorized mean emitted as ONE division of an exact integer sum.
  Trims tail influence without dropping rows.

Float parity: the ECDF is pure integer counting over the 1e-6
fixed-point domain (the emb_covariance canon — tie-free for dyadic
floats); each query's only division happens once, on exact integers,
producing one IEEE double identically on both engines.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from bigarrays_jl_spark.checkpointing import materialize
from bigarrays_jl_spark.sources.tables import fan_out, load

EMB_Q = 1_000_000

# --------------------------------------------------------------------------
# q71_quantile_screen — per-dim ECDF percentile of every element, then
# label-conditional mean percentile per dimension bucket.
#
# Scale shape: the ECDF is a (dim, value) histogram (map-side
# combinable, ∝ distinct values per dim) + one cumulative window over
# each dim's distinct values (domain-bounded, the q64 discipline);
# elements join back to their percentile on (dim, value) — an equi-
# join co-partitioned with the histogram, no broadcast of anything
# corpus-sized.  Output is labels × dim-buckets.
# --------------------------------------------------------------------------


def q71_quantile_screen(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "embeddings").select(
        "vec_id", "label", F.posexplode("embedding").alias("i", "x"))
    el = e.select("label", "i",
                  F.round(F.col("x").cast("double") * EMB_Q)
                   .cast("bigint").alias("xi"))
    # fold the exploded elements to (label, i, xi) cells FIRST: the
    # ecdf histogram is then a cheap second-level fold of the cells
    # (Σv over labels), and the percentile join-back runs on cells
    # instead of raw elements — one n×64-row explode+shuffle instead
    # of two (el previously fed hist AND the join as separate
    # evaluations), and the join side is the (smaller) cell table
    # (guide §2.3 "aggregate before you shuffle").  The checkpoint on
    # elc matters: ReuseExchange does NOT match its two consumers
    # (A/B: 2.5 s unmaterialized vs 1.2 s with it), and the cell table
    # is value-domain × label bounded, never corpus-sized.
    elc = materialize(
        el.groupBy("label", "i", "xi").agg(F.count("*").alias("v")),
        eager=False)
    hist = elc.groupBy("i", "xi").agg(F.sum("v").alias("w"))
    w_cum = (Window.partitionBy("i").orderBy("xi")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    ecdf = hist.withColumn("cum", F.sum("w").over(w_cum))
    n = load(spark, sf, "embeddings").agg(
        F.count("*").cast("bigint").alias("n"))
    # Σcum over elements ≡ Σcum·v over cells; count(*) ≡ Σv — exact
    # integer folds, so the one double division sees identical operands
    return (elc.join(ecdf.select("i", "xi", "cum"), ["i", "xi"])
            .groupBy("label", (F.col("i") % 8).alias("dim_bucket"))
            .agg(F.sum(F.col("cum") * F.col("v")).alias("sum_cum"),
                 F.sum("v").alias("n_elems"))
            .crossJoin(F.broadcast(n))
            .select("label", "dim_bucket", "n_elems",
                    (F.col("sum_cum").cast("double")
                     / (F.col("n_elems").cast("double")
                        * F.col("n").cast("double")))
                    .alias("mean_pct")))


Q71_SQL = f"""
WITH el AS (
  SELECT e.label, d.i,
         CAST(round(CAST(e.embedding[d.i + 1] AS DOUBLE) * {EMB_Q})
              AS BIGINT) AS xi
  FROM embeddings e,
       (SELECT CAST(range AS BIGINT) AS i FROM range(0, 64)) d),
hist AS (SELECT i, xi, count(*) AS w FROM el GROUP BY 1, 2),
ecdf AS (
  SELECT i, xi, sum(w) OVER (PARTITION BY i ORDER BY xi
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum
  FROM hist),
n AS (SELECT count(*) AS n FROM embeddings)
SELECT el.label, el.i % 8 AS dim_bucket,
       count(*) AS n_elems,
       CAST(sum(ecdf.cum) AS DOUBLE)
         / (CAST(count(*) AS DOUBLE) * CAST(min(n.n) AS DOUBLE))
         AS mean_pct
FROM el JOIN ecdf ON el.i = ecdf.i AND el.xi = ecdf.xi
CROSS JOIN n
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# q72_winsorized_mean — exact p5/p95 fences from the cents histogram
# (lower-quantile integer rules), values clamped, one exact division.
# --------------------------------------------------------------------------


def q72_winsorized_mean(spark: SparkSession, sf: str) -> DataFrame:
    # fan_out: parallelize the single-split (flag, cents) partial agg —
    # the q70 treatment (A/B at sf0.1: 1.61 → 1.29 s)
    li = fan_out(spark, load(spark, sf, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
         .alias("cents")))
    hist = materialize(li.groupBy("l_returnflag", "cents")
                       .agg(F.count("*").alias("w")), eager=False)
    # both fences ride ONE shared pick chain (r18: the per-pick form
    # re-ran the bucket fold + its checkpoint per fraction)
    from bigarrays_jl_spark.operators.ordering import bucketed_quantile_picks
    fences = bucketed_quantile_picks(hist, "l_returnflag", "cents", "w",
                                     [(1, 20, "lo"), (19, 20, "hi")])
    # winsorize over the CHECKPOINTED histogram instead of a third
    # lineitem scan (the q70 fold-over-cells idiom): Σ clamp(cents)
    # over rows ≡ Σ clamp(cents)·w over cells and n ≡ Σw, both exact
    # integers, so the one double division sees identical operands
    return (hist.join(F.broadcast(fences), "l_returnflag")
            .withColumn("cl", F.greatest(
                F.least(F.col("cents"), F.col("hi")), F.col("lo")))
            .groupBy("l_returnflag")
            .agg(F.sum("w").alias("n"),
                 (F.min("lo") / 100.0).alias("fence_lo"),
                 (F.min("hi") / 100.0).alias("fence_hi"),
                 (F.sum(F.col("cl") * F.col("w")).cast("double")
                  / F.sum("w") / 100.0).alias("winsorized_mean"),
                 F.sum(F.when((F.col("cents") < F.col("lo"))
                              | (F.col("cents") > F.col("hi")),
                              F.col("w"))
                        .otherwise(0)).alias("n_clamped")))


Q72_SQL = """
WITH li AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem),
hist AS (
  SELECT l_returnflag, cents, count(*) AS w FROM li GROUP BY 1, 2),
c AS (
  SELECT *, sum(w) OVER (PARTITION BY l_returnflag ORDER BY cents
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS cum,
         sum(w) OVER (PARTITION BY l_returnflag) AS tot
  FROM hist),
p05 AS (SELECT l_returnflag, min(cents) AS lo FROM c
        WHERE 20 * cum >= tot GROUP BY 1),
p95 AS (SELECT l_returnflag, min(cents) AS hi FROM c
        WHERE 20 * cum >= 19 * tot GROUP BY 1),
f AS (SELECT p05.l_returnflag, lo, hi FROM p05
      JOIN p95 ON p05.l_returnflag = p95.l_returnflag)
SELECT li.l_returnflag, count(*) AS n,
       CAST(min(f.lo) / 100.0 AS DOUBLE) AS fence_lo,
       CAST(min(f.hi) / 100.0 AS DOUBLE) AS fence_hi,
       CAST(CAST(sum(greatest(least(li.cents, f.hi), f.lo)) AS DOUBLE)
            / count(*) / 100.0 AS DOUBLE) AS winsorized_mean,
       sum(CASE WHEN li.cents < f.lo OR li.cents > f.hi
                THEN 1 ELSE 0 END) AS n_clamped
FROM li JOIN f ON li.l_returnflag = f.l_returnflag
GROUP BY 1
"""


QUERIES = {
    "q71_quantile_screen": q71_quantile_screen,
    "q72_winsorized_mean": q72_winsorized_mean,
}

ORACLES = {
    "q71_quantile_screen": Q71_SQL,
    "q72_winsorized_mean": Q72_SQL,
}
