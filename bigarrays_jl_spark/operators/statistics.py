"""Hypothesis tests and distribution summaries over the TPC-H-ish and
events tables: weighted medians and quantile screens, Pareto frontiers,
allocation, CUSUM, MAD outliers, winsorized means, regression, privacy
(k-anonymity, t-closeness), mutual information, Welch / KS / Mann-Whitney
/ chi-squared / Wilson tests, CUPED, Gini and Lorenz curves, survival and
autocorrelation, cohort and RFM segmentation, seasonality and Benford
screens, correlation matrices, and frequent item pairs and triples.

Every statistic is exact on both engines: values ride integer or
decimal folds (``events.VQ`` fixed point for event values), the
ordering work goes through ``ordering.bucketed_running`` and the
bucketed quantile picks (no single-partition window), and quotients of
exact integers are emitted unrounded.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from bigarrays_jl_spark.checkpointing import materialize
from bigarrays_jl_spark.operators.advanced import distributed_ntile
from bigarrays_jl_spark.operators.events import VQ, _ss, _vi
from bigarrays_jl_spark.operators.ordering import (bucketed_quantile_picks,
                                                   bucketed_running)
from bigarrays_jl_spark.operators.similarity import EMB_Q
from bigarrays_jl_spark.sources.tables import fan_out, load


# q64: exact weighted quantiles at scale — the raw-row window sort is
# single-task per group, so the value domain is histogrammed FIRST
# (map-side partial agg, shuffle ∝ distinct values) and the cumulative
# window runs over the compressed histogram, whose size is bounded by
# the value domain, independent of row count.

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
    cum = W.partitionBy("flag").orderBy("cents")
    tot = W.partitionBy("flag")
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


# basket_pairs: frequent co-occurring item pairs — the A-priori shape:
# frequent singletons first (map-side agg + broadcast semi-join
# prune), THEN the basket-keyed self-join whose per-basket cost is
# bounded by basket size, then the pair-support threshold.

# --------------------------------------------------------------------------
# basket_pairs — co-occurring part pairs across orders (market-basket
# mining, the A-priori plan): (1) frequent singletons via map-side
# count + HAVING; (2) the basket stream semi-joined against that
# (broadcast) frequent-item set BEFORE pairing — at a real support
# threshold this prune is what makes the pair join feasible at 100 TB;
# (3) basket-keyed self-join (per-basket cost ∝ basket size², bounded
# by the order line cap), pair-support threshold, and lift against the
# singleton supports.  Lift is a quotient of exact int64 counts —
# emitted UNROUNDED per the exact-tie canon.
# --------------------------------------------------------------------------

MIN_ITEM_SUP = 2
MIN_PAIR_SUP = 2


def basket_pairs(spark: SparkSession, sf: str) -> DataFrame:
    li = (load(spark, sf, "lineitem")
          .select("l_orderkey", "l_partkey").distinct())
    # without it `basket_pairs` runs 3 parquet scans, not 2
    freq = materialize(
        li.groupBy("l_partkey")
          .agg(F.count("*").alias("item_sup"))
          .filter(F.col("item_sup") >= MIN_ITEM_SUP),
        eager=False)
    # without it `basket_pairs` runs 3 parquet scans, not 2
    li2 = materialize(li.join(F.broadcast(freq.select("l_partkey")),
                              "l_partkey", "semi"), eager=False)
    n = li2.select("l_orderkey").distinct().agg(
        F.count("*").cast("double").alias("n_orders"))
    a = li2.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = li2.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    pairs = (a.join(b, "l_orderkey")
             .filter(F.col("part_a") < F.col("part_b"))
             .groupBy("part_a", "part_b")
             .agg(F.count("*").alias("pair_sup"))
             .filter(F.col("pair_sup") >= MIN_PAIR_SUP))
    fa = freq.select(F.col("l_partkey").alias("part_a"),
                     F.col("item_sup").alias("sup_a"))
    fb = freq.select(F.col("l_partkey").alias("part_b"),
                     F.col("item_sup").alias("sup_b"))
    return (pairs.join(F.broadcast(fa), "part_a")
            .join(F.broadcast(fb), "part_b")
            .crossJoin(F.broadcast(n))
            .select("part_a", "part_b", "pair_sup",
                    (F.col("pair_sup").cast("double") * F.col("n_orders")
                     / (F.col("sup_a") * F.col("sup_b"))).alias("lift")))


BASKET_PAIRS_SQL = f"""
WITH li AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
freq AS MATERIALIZED (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS item_sup
  FROM li GROUP BY 1 HAVING count(*) >= {MIN_ITEM_SUP}),
li2 AS MATERIALIZED (
  SELECT * FROM li WHERE l_partkey IN (SELECT l_partkey FROM freq)),
n AS (SELECT CAST(count(DISTINCT l_orderkey) AS DOUBLE) AS n_orders
      FROM li2),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(count(*) AS BIGINT) AS pair_sup
  FROM li2 a JOIN li2 b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= {MIN_PAIR_SUP})
SELECT part_a, part_b, pair_sup,
       CAST(pair_sup AS DOUBLE) * n.n_orders
         / (fa.item_sup * fb.item_sup) AS lift
FROM pairs
JOIN freq fa ON part_a = fa.l_partkey
JOIN freq fb ON part_b = fb.l_partkey
CROSS JOIN n
"""


# q65_pareto_frontier: the 2D skyline query (minimize price, maximize
# size over ``part``).  The naive relational form is a NOT EXISTS
# dominance self-join — O(n²).  Here the value domain is compressed
# FIRST (groupBy price-cents → max size, map-side combinable), the
# frontier test is ONE running-max window over *distinct prices*
# (bounded domain, same trick as q64's weighted median), and the
# surviving (price, size) pairs broadcast back into the part scan.
#
# q66_allocation: largest-remainder (Hamilton) proration — each
# order's total is split across its lineitems proportionally in exact
# integer cents, flooring quotients and bumping the largest
# fractional remainders by 1 cent so every order's allocations sum to
# its total EXACTLY.  The financial-ledger shape: all windows are
# per-order (key-partitioned), all arithmetic integer.
#
# q68_cusum: change-point detection — per user, the running CUSUM of
# deviations from the global mean, flagging the first time |S| breaches
# a threshold.  Global mean is a broadcast scalar; the running sum
# accumulates in DECIMAL per the float canon so partitioned and
# windowed evaluation agree bit-for-bit with the oracle.

# --------------------------------------------------------------------------
# q65_pareto_frontier — parts Pareto-optimal on (price min, size max).
# A part is dominated iff another part is ≤ price AND ≥ size with at
# least one strict.  Equivalent domain-compressed test: let smax(c) be
# the max size at price c; a part (c, s) is on the frontier iff
# s == smax(c) AND smax(c) > max(smax(c') for all c' < c).
#
# Scale shape: the frontier scan runs over DISTINCT price points via
# bucketed_running (r13 — no single-partition window at all); the part
# table is touched by two scans, one map-side aggregate and one
# broadcast-join filter.  No self-join, no cartesian.
# --------------------------------------------------------------------------


def q65_pareto_frontier(spark: SparkSession, sf: str) -> DataFrame:
    p = load(spark, sf, "part").select(
        "p_partkey", "p_brand", "p_size",
        F.round(F.col("p_retailprice") * 100).cast("bigint")
         .alias("price_cents"))
    px = p.groupBy("price_cents").agg(F.max("p_size").alias("smax"))
    # r13 de-funnel: the running max over the distinct-price domain was
    # a whole-domain ORDER BY window (allowlisted) — now the two-level
    # bucketed running max; max is order-independent, so bit-identical
    fr = (bucketed_running(px, "price_cents",
                           [("m_lt", "smax", "max", False)])
          .filter(F.col("smax") > F.coalesce(F.col("m_lt"), F.lit(-1)))
          .select(F.col("price_cents").alias("f_cents"),
                  F.col("smax").alias("f_smax")))
    return (p.join(F.broadcast(fr),
                   (F.col("price_cents") == F.col("f_cents"))
                   & (F.col("p_size") == F.col("f_smax")))
            .select("p_partkey", "p_brand", "price_cents", "p_size"))


Q65_SQL = """
WITH px AS (
  SELECT CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
         max(p_size) AS smax
  FROM part GROUP BY 1),
fr AS (
  SELECT price_cents, smax,
         max(smax) OVER (ORDER BY price_cents
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING) AS m_lt
  FROM px)
SELECT p.p_partkey, p.p_brand, f.price_cents, p.p_size
FROM part p
JOIN (SELECT price_cents, smax FROM fr
      WHERE smax > coalesce(m_lt, -1)) f
  ON CAST(round(p.p_retailprice * 100) AS BIGINT) = f.price_cents
 AND p.p_size = f.smax
"""


# --------------------------------------------------------------------------
# q66_allocation — largest-remainder proration.  For order total T
# (cents) and item weights e_i (cents, sum S): base_i = floor(T*e_i/S),
# deficit R = T - Σ base_i (0 ≤ R < n by construction), and the R
# items with the largest remainder (T*e_i) mod S — ties broken by line
# number — get one extra cent.  Σ alloc_i == T exactly, per order.
#
# Scale shape: one orderkey shuffle join + three per-order windows
# (weight sum, base sum, remainder rank) — every window key-partitioned,
# all arithmetic on BIGINTs (T ≤ ~6e7 cents × e ≤ ~1e7 cents < 2^63).
# --------------------------------------------------------------------------


def q66_allocation(spark: SparkSession, sf: str) -> DataFrame:
    # (l_orderkey, l_linenumber) is NOT unique in the synthetic data;
    # (orderkey, linenumber, partkey, suppkey, price, flag) is — the
    # remainder rank orders by the full tuple so the 1-cent bumps are a
    # deterministic total order on both engines.
    li = load(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
         .alias("e"))
    o = load(spark, sf, "orders").select(
        F.col("o_orderkey"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("t"))
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).drop("o_orderkey")
    ws = W.partitionBy("l_orderkey")
    j = (j.withColumn("s", F.sum("e").over(ws))
         .withColumn("num", F.col("t") * F.col("e"))
         .withColumn("base", F.expr("num div s"))
         .withColumn("rem", F.expr("num % s")))
    wr = (W.partitionBy("l_orderkey")
          .orderBy(F.desc("rem"), "l_linenumber", "l_partkey",
                   "l_suppkey", "e", "l_returnflag"))
    j = (j.withColumn("rn", F.row_number().over(wr))
         .withColumn("deficit", F.col("t") - F.sum("base").over(ws))
         .withColumn("alloc", F.col("base")
                     + F.when(F.col("rn") <= F.col("deficit"), 1)
                        .otherwise(0)))
    return (j.groupBy("l_returnflag")
            .agg(F.sum("alloc").alias("allocated_cents"),
                 F.sum(F.when(F.col("rn") <= F.col("deficit"), 1)
                        .otherwise(0)).alias("n_bumped"),
                 F.count("*").alias("n_items")))


Q66_SQL = """
WITH j AS (
  SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_suppkey,
         l.l_returnflag,
         CAST(round(l.l_extendedprice * 100) AS BIGINT) AS e,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS t
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
b AS (
  SELECT *, sum(e) OVER (PARTITION BY l_orderkey) AS s,
         t * e AS num
  FROM j),
c AS (
  SELECT *, num // s AS base, num % s AS rem FROM b),
d AS (
  SELECT *,
         row_number() OVER (PARTITION BY l_orderkey
                            ORDER BY rem DESC, l_linenumber, l_partkey,
                                     l_suppkey, e, l_returnflag) AS rn,
         t - sum(base) OVER (PARTITION BY l_orderkey) AS deficit
  FROM c)
SELECT l_returnflag,
       sum(base + CASE WHEN rn <= deficit THEN 1 ELSE 0 END)
         AS allocated_cents,
       sum(CASE WHEN rn <= deficit THEN 1 ELSE 0 END) AS n_bumped,
       count(*) AS n_items
FROM d GROUP BY 1
"""


# --------------------------------------------------------------------------
# q68_cusum — control-chart change-point detection.  Per user, the
# running sum S_i of deviations (value − global mean) in event order;
# a user "breaches" at the first event where |S_i| > 500.  Output per
# user-id bucket: breaching-user count and exact total seconds from
# the user's first event to the breach.
#
# Scale shape: the global mean is one map-side-combined aggregate
# broadcast into the scan (no shuffle of the fact side for it); the
# running sum is a per-user rows-frame window (one user-keyed
# shuffle); deviations accumulate in DECIMAL(28,12) so the windowed
# running sum is exact — partitioning and engine cannot change it.
# --------------------------------------------------------------------------

CUSUM_THRESHOLD = 500


def q68_cusum(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events").filter(F.col("value").isNotNull()).select(
        "user_id", F.col("ts").cast("long").alias("t"), "event_id", "value")
    g = ev.agg(
        (F.sum(F.col("value").cast("decimal(28,12)")).cast("double")
         / F.count("*")).alias("mu"))
    w = (W.partitionBy("user_id")
         .orderBy("t", "event_id")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    dev = (ev.crossJoin(F.broadcast(g))
           .withColumn("d", (F.col("value") - F.col("mu"))
                       .cast("decimal(28,12)"))
           .withColumn("cusum", F.sum("d").over(w)))
    breach = (dev.filter(F.abs(F.col("cusum")) > CUSUM_THRESHOLD)
              .groupBy("user_id").agg(F.min("t").alias("bt")))
    first = ev.groupBy("user_id").agg(F.min("t").alias("t0"))
    return (breach.join(first, "user_id")
            .groupBy((F.col("user_id") % 10).alias("bucket"))
            .agg(F.count("*").alias("n_breached"),
                 F.sum(F.col("bt") - F.col("t0")).alias("sum_secs_to_breach")))


Q68_SQL = """
WITH ev AS (
  SELECT user_id, CAST(floor(epoch_us(ts)/1000000) AS BIGINT) AS t,
         event_id, value
  FROM events WHERE value IS NOT NULL),
g AS (
  SELECT CAST(sum(CAST(value AS DECIMAL(28,12))) AS DOUBLE) / count(*)
           AS mu
  FROM ev),
dev AS (
  SELECT ev.*, CAST(ev.value - g.mu AS DECIMAL(28,12)) AS d
  FROM ev CROSS JOIN g),
cs AS (
  SELECT *, sum(d) OVER (PARTITION BY user_id ORDER BY t, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS cusum
  FROM dev),
breach AS (
  SELECT user_id, min(t) AS bt FROM cs WHERE abs(cusum) > 500
  GROUP BY 1),
first AS (
  SELECT user_id, min(t) AS t0 FROM ev GROUP BY 1)
SELECT b.user_id % 10 AS bucket,
       count(*) AS n_breached,
       sum(b.bt - f.t0) AS sum_secs_to_breach
FROM breach b JOIN first f ON b.user_id = f.user_id
GROUP BY 1
"""


# q70_mad_outliers: robust dispersion per group — exact median via the
# value-domain histogram trick (q64), exact median absolute deviation
# via a SECOND histogram over |x − median| (integer cents, so both
# medians are exact), then the 1.5×MAD outlier census (integer form
# 2·|d| > 3·MAD — near-uniform price columns make 3×MAD vacuous,
# 1.5×MAD discriminates).  The robust
# z-score shape that survives the heavy-tailed columns a mean/stddev
# screen chokes on.
#
# Both are exact integer arithmetic end-to-end — no float canon needed.

# --------------------------------------------------------------------------
# q70_mad_outliers — per l_returnflag over l_extendedprice cents:
# median = smallest value whose cumulative count ≥ half the total
# (lower median, 2·cum ≥ n — integer rule, no interpolation), MAD =
# the same rule over |x − median|, outliers = rows with
# 2·|x − median| > 3·MAD.
#
# Scale shape: each phase histograms the value domain FIRST (groupBy
# cents — map-side combinable), so the cumulative windows run over
# distinct values per group, never rows — q64's discipline, applied
# twice.  The per-group medians broadcast back into the fact scan.
# --------------------------------------------------------------------------


def _lower_median(hist: DataFrame, group: str, val: str,
                  cnt: str, out: str) -> DataFrame:
    """Smallest ``val`` per ``group`` with 2·cum(count) ≥ total —
    bucketed two-phase pick, so no task ever windows a group's whole
    value domain (r11: the old per-flag window was the 4.8× family in
    the sf1 scale proof; the bucket pick is bit-identical by the
    monotone-bucket offset argument in ordering.py)."""
    from bigarrays_jl_spark.operators.ordering import bucketed_quantile_pick
    return bucketed_quantile_pick(hist, group, val, cnt, 1, 2, out)


def q70_mad_outliers(spark: SparkSession, sf: str) -> DataFrame:
    # fan_out: the single-split testdata ran the (flag, cents) partial
    # aggregation — the one corpus pass left in this operator —
    # single-threaded (guide §2.5).  A/B at sf0.1: 3.82 → 2.54 s;
    # no-op guard on a multi-split cluster source.
    li = fan_out(spark, load(spark, sf, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
         .alias("cents")))
    # without it `q70_mad_outliers` runs 3 parquet scans, not 1
    h1 = materialize(li.groupBy("l_returnflag", "cents")
                     .agg(F.count("*").alias("w")), eager=False)
    med = _lower_median(h1, "l_returnflag", "cents", "w", "med")
    dev = (h1.join(F.broadcast(med), "l_returnflag")
           .withColumn("d", F.abs(F.col("cents") - F.col("med"))))
    h2 = (dev.groupBy("l_returnflag", "d")
          .agg(F.sum("w").alias("w")))
    mad = _lower_median(h2, "l_returnflag", "d", "w", "mad")
    stats = med.join(mad, "l_returnflag")
    # the outlier census folds over the CHECKPOINTED histogram, not a
    # third lineitem scan (guide §1.2 step 1 — don't re-read what a
    # kept aggregate already summarizes): count(*) over rows ≡ Σw over
    # (flag, cents) cells and the outlier test depends only on cents,
    # so the weighted fold is integer-exact-identical
    return (h1.join(F.broadcast(stats), "l_returnflag")
            .groupBy("l_returnflag")
            .agg(F.sum("w").alias("n"),
                 (F.min("med") / 100.0).alias("median_price"),
                 (F.min("mad") / 100.0).alias("mad_price"),
                 F.sum(F.when(2 * F.abs(F.col("cents") - F.col("med"))
                              > 3 * F.col("mad"), F.col("w")).otherwise(0))
                  .alias("n_outliers")))


Q70_SQL = """
WITH li AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem),
h1 AS (
  SELECT l_returnflag, cents, count(*) AS w FROM li GROUP BY 1, 2),
c1 AS (
  SELECT *, sum(w) OVER (PARTITION BY l_returnflag ORDER BY cents
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS cum,
         sum(w) OVER (PARTITION BY l_returnflag) AS tot
  FROM h1),
med AS (
  SELECT l_returnflag, min(cents) AS med FROM c1
  WHERE 2 * cum >= tot GROUP BY 1),
h2 AS (
  SELECT h1.l_returnflag, abs(h1.cents - med.med) AS d, sum(h1.w) AS w
  FROM h1 JOIN med ON h1.l_returnflag = med.l_returnflag
  GROUP BY 1, 2),
c2 AS (
  SELECT *, sum(w) OVER (PARTITION BY l_returnflag ORDER BY d
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS cum,
         sum(w) OVER (PARTITION BY l_returnflag) AS tot
  FROM h2),
mad AS (
  SELECT l_returnflag, min(d) AS mad FROM c2
  WHERE 2 * cum >= tot GROUP BY 1)
SELECT li.l_returnflag, count(*) AS n,
       CAST(min(med.med) / 100.0 AS DOUBLE) AS median_price,
       CAST(min(mad.mad) / 100.0 AS DOUBLE) AS mad_price,
       sum(CASE WHEN 2 * abs(li.cents - med.med) > 3 * mad.mad
                THEN 1 ELSE 0 END) AS n_outliers
FROM li
JOIN med ON li.l_returnflag = med.l_returnflag
JOIN mad ON li.l_returnflag = mad.l_returnflag
GROUP BY 1
"""


# q71_quantile_screen: rank-based feature screening — every embedding
# element is mapped to its per-dimension ECDF percentile (the
# quantile-transform normalization ML pipelines apply before models
# that assume uniform marginals), then label-conditional mean
# percentiles expose which labels sit systematically high or low in
# feature space.  A label whose mean percentile strays from 0.5 is
# separable; one that doesn't isn't — the screen costs two shuffles
# regardless of dimensionality.
#
# q72_winsorized_mean: the robust-mean sibling of q70's MAD — exact
# p5/p95 per group from the value-domain histogram (20·cum ≥ tot and
# 20·cum ≥ 19·tot integer rules), values clamped to those fences, and
# the winsorized mean emitted as ONE division of an exact integer sum.
# Trims tail influence without dropping rows.
#
# Float parity: the ECDF is pure integer counting over the 1e-6
# fixed-point domain (the emb_covariance canon — tie-free for dyadic
# floats); each query's only division happens once, on exact integers,
# producing one IEEE double identically on both engines.

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
    # (guide §2.3 "aggregate before you shuffle").
    # without it `q71_quantile_screen` runs 3 parquet scans, not 2
    elc = materialize(
        el.groupBy("label", "i", "xi").agg(F.count("*").alias("v")),
        eager=False)
    hist = elc.groupBy("i", "xi").agg(F.sum("v").alias("w"))
    w_cum = (W.partitionBy("i").orderBy("xi")
             .rowsBetween(W.unboundedPreceding, W.currentRow))
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
    # without it `q72_winsorized_mean` runs 2 parquet scans, not 1
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


EPOCH_2024 = 1_704_067_200      # 2024-01-01 00:00:00 UTC, x-origin for OLS


# q77_regression_slope: per-event-type ordinary-least-squares fit of
# value against time — the five raw moments (n, Σx, Σy, Σx², Σxy)
# accumulated exactly (int64 products, DECIMAL(38,0) sums), then
# slope/intercept closed-form once in doubles.
#
# Float parity: every value enters as the tie-free 1e-6 (or cents 1e-2)
# fixed point (a dyadic double times 10^k can never land exactly on .5 —
# the emb_covariance canon); epoch seconds use the repo canon
# (cast(ts as long) == floor(epoch_us/1e6)); each query performs its
# floating-point arithmetic once, on exact integer aggregates, as an
# identical expression tree on both engines, and emits UNROUNDED doubles
# (never rounding tie-prone quotients).
#
# Scale shape: q77 is a pure map-side moment fold (5 numbers per group).

# --------------------------------------------------------------------------
# q77_regression_slope — OLS value-vs-time per event_type from exact
# integer moments; closed form evaluated once in doubles.
# --------------------------------------------------------------------------


def q77_regression_slope(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "events").select(
        "event_type",
        (_ss() - EPOCH_2024).alias("x"), _vi().alias("y"))
    m = (e.groupBy("event_type")
         .agg(F.count("*").cast("double").alias("n"),
              F.sum(F.col("x").cast("decimal(38,0)"))
               .cast("double").alias("sx"),
              F.sum(F.col("y").cast("decimal(38,0)"))
               .cast("double").alias("sy"),
              F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)"))
               .cast("double").alias("sxx"),
              F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)"))
               .cast("double").alias("sxy")))
    slope = ((m["n"] * m["sxy"] - m["sx"] * m["sy"])
             / (m["n"] * m["sxx"] - m["sx"] * m["sx"]))
    return m.select("event_type",
                    F.col("n").cast("bigint").alias("n"),
                    slope.alias("slope_vi_per_s"),
                    ((F.col("sy") - slope * F.col("sx")) / F.col("n"))
                    .alias("intercept_vi"))


Q77_SQL = f"""
WITH e AS (
  SELECT event_type,
         CAST(floor(epoch_us(ts) / 1000000) AS BIGINT)
           - {EPOCH_2024} AS x,
         CAST(round(CAST(value AS DOUBLE) * {VQ}) AS BIGINT) AS y
  FROM events),
m AS (
  SELECT event_type,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(x) AS DOUBLE) AS sx,
         CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(x * x) AS DOUBLE) AS sxx,
         CAST(sum(x * y) AS DOUBLE) AS sxy
  FROM e GROUP BY event_type)
SELECT event_type, CAST(n AS BIGINT) AS n,
       (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope_vi_per_s,
       (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
         AS intercept_vi
FROM m
"""


K_ANON = 5


# q78_kanonymity: the privacy audit a training-data pipeline runs
# before releasing a table — k-anonymity census over the
# quasi-identifier (mktsegment, nationkey) with an l-diversity check
# on the sensitive attribute (account-balance sign).  Two exact
# integer aggregations: classes, then per-segment census of class
# sizes (k_min, rows in classes with k < 5, classes with l < 2).

# --------------------------------------------------------------------------
# q78_kanonymity
# --------------------------------------------------------------------------


def q78_kanonymity(spark: SparkSession, sf: str) -> DataFrame:
    c = load(spark, sf, "customer").select(
        "c_mktsegment", "c_nationkey",
        (F.col("c_acctbal") >= 0).cast("int").alias("sens"))
    cls = (c.groupBy("c_mktsegment", "c_nationkey")
           .agg(F.count("*").alias("k"),
                F.countDistinct("sens").alias("l")))
    return (cls.groupBy("c_mktsegment")
            .agg(F.count("*").alias("n_classes"),
                 F.sum("k").cast("bigint").alias("n_rows"),
                 F.min("k").cast("bigint").alias("k_min"),
                 F.sum(F.when(F.col("k") < K_ANON, F.col("k"))
                        .otherwise(0)).cast("bigint")
                  .alias("rows_below_k"),
                 F.sum(F.when(F.col("l") < 2, 1).otherwise(0))
                  .cast("bigint").alias("classes_below_l2")))


Q78_SQL = f"""
WITH cls AS (
  SELECT c_mktsegment, c_nationkey, count(*) AS k,
         count(DISTINCT CASE WHEN c_acctbal >= 0 THEN 1 ELSE 0 END) AS l
  FROM customer GROUP BY 1, 2)
SELECT c_mktsegment, count(*) AS n_classes,
       CAST(sum(k) AS BIGINT) AS n_rows,
       CAST(min(k) AS BIGINT) AS k_min,
       CAST(sum(CASE WHEN k < {K_ANON} THEN k ELSE 0 END) AS BIGINT)
         AS rows_below_k,
       CAST(sum(CASE WHEN l < 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS classes_below_l2
FROM cls GROUP BY 1
"""


# q79_mutual_info: per-dimension mutual information I(label; x_i ≤
# median_i) in bits — the filter-method feature-selection screen.
# The per-dim median comes from the value-domain histogram (q64 rule
# over 1e-6 fixed-point values); MI terms are doubles from exact
# integer counts, accumulated with the round-then-DECIMAL(28,9) log
# canon (text_corpus_divergence discipline).

# --------------------------------------------------------------------------
# q79_mutual_info
# --------------------------------------------------------------------------


def q79_mutual_info(spark: SparkSession, sf: str) -> DataFrame:
    # without it `q79_mutual_info` runs 2 parquet scans, not 1
    el = materialize(
        load(spark, sf, "embeddings")
        .select("label", F.posexplode("embedding").alias("i", "x"))
        .select("label", "i",
                F.round(F.col("x").cast("double") * EMB_Q)
                 .cast("bigint").alias("xi")), eager=False)
    hist = el.groupBy("i", "xi").agg(F.count("*").alias("w"))
    w_cum = (W.partitionBy("i").orderBy("xi")
             .rowsBetween(W.unboundedPreceding, W.currentRow))
    w_all = W.partitionBy("i")
    med = (hist.withColumn("cum", F.sum("w").over(w_cum))
           .withColumn("tot", F.sum("w").over(w_all))
           .filter(2 * F.col("cum") >= F.col("tot"))
           .groupBy("i").agg(F.min("xi").alias("med")))
    cube = (el.join(F.broadcast(med), "i")
            .select("i", "label",
                    (F.col("xi") <= F.col("med")).cast("int").alias("b"))
            .groupBy("i", "label", "b").agg(F.count("*").alias("nlb")))
    wl = W.partitionBy("i", "label")
    wb = W.partitionBy("i", "b")
    wn = W.partitionBy("i")
    term = ((F.col("nlb").cast("double") / F.col("n"))
            * F.log2(F.col("nlb").cast("double") * F.col("n")
                     / (F.col("nl").cast("double") * F.col("nb"))))
    return (cube.withColumn("nl", F.sum("nlb").over(wl))
            .withColumn("nb", F.sum("nlb").over(wb))
            .withColumn("n", F.sum("nlb").over(wn).cast("double"))
            .groupBy("i")
            .agg(F.sum(F.round(term, 9).cast("decimal(28,9)"))
                  .cast("double").alias("mi_bits"),
                 F.count("*").cast("bigint").alias("n_cells")))


Q79_SQL = f"""
WITH el AS (
  SELECT e.label, d.i,
         CAST(round(CAST(e.embedding[d.i + 1] AS DOUBLE) * {EMB_Q})
              AS BIGINT) AS xi
  FROM embeddings e,
       (SELECT CAST(range AS BIGINT) AS i FROM range(0, 64)) d),
hist AS (SELECT i, xi, count(*) AS w FROM el GROUP BY 1, 2),
med AS (
  SELECT i, min(xi) AS med FROM (
    SELECT i, xi,
           sum(w) OVER (PARTITION BY i ORDER BY xi
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS cum,
           sum(w) OVER (PARTITION BY i) AS tot
    FROM hist)
  WHERE 2 * cum >= tot GROUP BY i),
cube AS (
  SELECT el.i, el.label,
         CASE WHEN el.xi <= med.med THEN 1 ELSE 0 END AS b,
         count(*) AS nlb
  FROM el JOIN med ON el.i = med.i GROUP BY 1, 2, 3),
m AS (
  SELECT i, label, b, nlb,
         sum(nlb) OVER (PARTITION BY i, label) AS nl,
         sum(nlb) OVER (PARTITION BY i, b) AS nb,
         CAST(sum(nlb) OVER (PARTITION BY i) AS DOUBLE) AS n
  FROM cube)
SELECT i,
       CAST(sum(CAST(round(
           (CAST(nlb AS DOUBLE) / n)
           * log2(CAST(nlb AS DOUBLE) * n
                  / (CAST(nl AS DOUBLE) * nb)), 9)
         AS DECIMAL(28,9))) AS DOUBLE) AS mi_bits,
       count(*) AS n_cells
FROM m GROUP BY i
"""


# q80_welch_ttest: Welch's unequal-variance t-test between the two
# user-parity arms per event type — the A/B-test read-out.  ONE
# conditional-aggregation pass collects both arms' exact moments
# (n, Σy, Σy² in DECIMAL(38,0) / HUGEINT); t statistic and
# Welch–Satterthwaite degrees of freedom close in doubles once.

# --------------------------------------------------------------------------
# q80_welch_ttest
# --------------------------------------------------------------------------


def q80_welch_ttest(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "events").select(
        "event_type", (F.col("user_id") % 2).alias("arm"),
        _vi().alias("y"))
    m = (e.groupBy("event_type")
         .agg(F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
               .cast("double").alias("n0"),
              F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
               .cast("double").alias("n1"),
              F.sum(F.when(F.col("arm") == 0, F.col("y")).otherwise(0)
                    .cast("decimal(38,0)")).cast("double").alias("s0"),
              F.sum(F.when(F.col("arm") == 1, F.col("y")).otherwise(0)
                    .cast("decimal(38,0)")).cast("double").alias("s1"),
              F.sum(F.when(F.col("arm") == 0, F.col("y") * F.col("y"))
                    .otherwise(0).cast("decimal(38,0)"))
               .cast("double").alias("q0"),
              F.sum(F.when(F.col("arm") == 1, F.col("y") * F.col("y"))
                    .otherwise(0).cast("decimal(38,0)"))
               .cast("double").alias("q1")))
    m0 = F.col("s0") / F.col("n0")
    m1 = F.col("s1") / F.col("n1")
    v0 = (F.col("q0") - F.col("s0") * F.col("s0") / F.col("n0")) \
        / (F.col("n0") - 1)
    v1 = (F.col("q1") - F.col("s1") * F.col("s1") / F.col("n1")) \
        / (F.col("n1") - 1)
    se2 = v0 / F.col("n0") + v1 / F.col("n1")
    df = (se2 * se2) / ((v0 / F.col("n0")) * (v0 / F.col("n0"))
                        / (F.col("n0") - 1)
                        + (v1 / F.col("n1")) * (v1 / F.col("n1"))
                        / (F.col("n1") - 1))
    return m.select("event_type",
                    F.col("n0").cast("bigint").alias("n0"),
                    F.col("n1").cast("bigint").alias("n1"),
                    ((m1 - m0) / VQ).alias("mean_diff"),
                    ((m1 - m0) / F.sqrt(se2)).alias("t_stat"),
                    df.alias("welch_df"))


Q80_SQL = f"""
WITH e AS (
  SELECT event_type, user_id % 2 AS arm,
         CAST(round(CAST(value AS DOUBLE) * {VQ}) AS BIGINT) AS y
  FROM events),
m AS (
  SELECT event_type,
         CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n0,
         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
         CAST(sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS DOUBLE) AS s0,
         CAST(sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS DOUBLE) AS s1,
         CAST(sum(CASE WHEN arm = 0 THEN y * y ELSE 0 END) AS DOUBLE)
           AS q0,
         CAST(sum(CASE WHEN arm = 1 THEN y * y ELSE 0 END) AS DOUBLE)
           AS q1
  FROM e GROUP BY event_type)
SELECT event_type,
       CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
       (s1 / n1 - s0 / n0) / {VQ} AS mean_diff,
       (s1 / n1 - s0 / n0)
         / sqrt((q0 - s0 * s0 / n0) / (n0 - 1) / n0
                + (q1 - s1 * s1 / n1) / (n1 - 1) / n1) AS t_stat,
       ((q0 - s0 * s0 / n0) / (n0 - 1) / n0
        + (q1 - s1 * s1 / n1) / (n1 - 1) / n1)
       * ((q0 - s0 * s0 / n0) / (n0 - 1) / n0
          + (q1 - s1 * s1 / n1) / (n1 - 1) / n1)
       / (((q0 - s0 * s0 / n0) / (n0 - 1) / n0)
          * ((q0 - s0 * s0 / n0) / (n0 - 1) / n0) / (n0 - 1)
          + ((q1 - s1 * s1 / n1) / (n1 - 1) / n1)
            * ((q1 - s1 * s1 / n1) / (n1 - 1) / n1) / (n1 - 1))
         AS welch_df
FROM m
"""


# q81_cuped: CUPED variance-reduced experiment means — the industry-
# standard adjustment Y' = Y − θ(X − E[X]) with θ = cov(X,Y)/var(X)
# from a pre-experiment covariate (view spend) against the outcome
# (purchase spend).  Per-user rollup (one keyed shuffle), then the
# θ moments and per-arm means read the SAME cached rollup; all
# products exact (DECIMAL(38,0) / HUGEINT), closed forms once.

# --------------------------------------------------------------------------
# q81_cuped
# --------------------------------------------------------------------------


def q81_cuped(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "events").select(
        "user_id", "event_type",
        _vi().alias("vi"))
    u = (e.groupBy("user_id")
         .agg(F.sum(F.when(F.col("event_type") == "view", F.col("vi"))
                     .otherwise(0)).alias("x"),
              F.sum(F.when(F.col("event_type") == "purchase",
                           F.col("vi")).otherwise(0)).alias("y"))
         .withColumn("arm", F.col("user_id") % 2))
    g = u.agg(F.count("*").cast("double").alias("n"),
              F.sum(F.col("x").cast("decimal(38,0)"))
               .cast("double").alias("sx"),
              F.sum(F.col("y").cast("decimal(38,0)"))
               .cast("double").alias("sy"),
              F.sum((F.col("x").cast("decimal(38,0)")
                     * F.col("y").cast("decimal(38,0)")))
               .cast("double").alias("sxy"),
              F.sum((F.col("x").cast("decimal(38,0)")
                     * F.col("x").cast("decimal(38,0)")))
               .cast("double").alias("sxx"))
    theta = ((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
             / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")))
    mean_x_all = F.col("sx") / F.col("n")
    arms = (u.groupBy("arm")
            .agg(F.count("*").cast("double").alias("na"),
                 F.sum(F.col("x").cast("decimal(38,0)"))
                  .cast("double").alias("sxa"),
                 F.sum(F.col("y").cast("decimal(38,0)"))
                  .cast("double").alias("sya")))
    mean_y = F.col("sya") / F.col("na")
    mean_x = F.col("sxa") / F.col("na")
    return (arms.crossJoin(F.broadcast(g))
            .select(F.col("arm").cast("bigint").alias("arm"),
                    F.col("na").cast("bigint").alias("n_users"),
                    (mean_y / VQ).alias("mean_post"),
                    ((mean_y - theta * (mean_x - mean_x_all)) / VQ)
                    .alias("mean_adjusted"),
                    theta.alias("theta")))


Q81_SQL = f"""
WITH e AS (
  SELECT user_id, event_type,
         CAST(round(CAST(value AS DOUBLE) * {VQ}) AS BIGINT) AS vi
  FROM events),
u AS (
  SELECT user_id, user_id % 2 AS arm,
         sum(CASE WHEN event_type = 'view' THEN vi ELSE 0 END) AS x,
         sum(CASE WHEN event_type = 'purchase' THEN vi ELSE 0 END) AS y
  FROM e GROUP BY user_id),
g AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(x) AS DOUBLE) AS sx,
         CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy,
         CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx
  FROM u),
arms AS (
  SELECT arm, CAST(count(*) AS DOUBLE) AS na,
         CAST(sum(x) AS DOUBLE) AS sxa,
         CAST(sum(y) AS DOUBLE) AS sya
  FROM u GROUP BY arm)
SELECT CAST(arm AS BIGINT) AS arm,
       CAST(na AS BIGINT) AS n_users,
       sya / na / {VQ} AS mean_post,
       (sya / na - (n * sxy - sx * sy) / (n * sxx - sx * sx)
                   * (sxa / na - sx / n)) / {VQ} AS mean_adjusted,
       (n * sxy - sx * sy) / (n * sxx - sx * sx) AS theta
FROM arms CROSS JOIN g
"""


LAG_DAYS = 7


# q82_gini: the Gini concentration coefficient of extended price per
# return flag — the inequality/concentration read-out ("how skewed is
# revenue") — computed EXACTLY over the value-domain histogram: items
# of value v occupy ranks (cum−w, cum], so Σ rank·x folds to
# Σ v·(w·cum − w(w−1)/2) in integers (the q64 domain-compression
# discipline), and G = 2Σ/(n·Σx) − (n+1)/n closes in doubles once.

# --------------------------------------------------------------------------
# q82_gini
# --------------------------------------------------------------------------


def q82_gini(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
         .alias("v"))
    hist = li.groupBy("l_returnflag", "v").agg(F.count("*").alias("w"))
    w_cum = (W.partitionBy("l_returnflag").orderBy("v")
             .rowsBetween(W.unboundedPreceding, W.currentRow))
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


# q83_seasonal_backtest: forecast evaluation — seasonal-naive
# ŷ(d) = y(d−7) over per-type daily revenue, scored with MAE and bias
# on every day whose lag exists.  The join is (type, day−7) equi —
# robust to missing days, never a window over a gapped series; all
# errors are exact integers until the two closing divisions.
#
# Float parity: fixed-point/cents integers throughout; every quotient is
# one identical double expression emitted unrounded; string min/labels
# are ASCII part names (binary collation identical on both engines).
#
# Scale shapes: the Gini histogram shrinks the fact table to distinct
# cents before any window (the weighted-median shape); the backtest
# reduces facts to (type × day) partials map-side, then self-joins that
# tiny series.

# --------------------------------------------------------------------------
# q83_seasonal_backtest
# --------------------------------------------------------------------------


def q83_seasonal_backtest(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "events").select(
        "event_type",
        _day().alias("day"),
        _vi().alias("vi"))
    # without it `q83_seasonal_backtest` runs 2 parquet scans, not 1
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


QQ_GRID = list(range(1, 20))        # 5% .. 95% in 20ths


# q84_rfm_segments: RFM customer segmentation — recency (days since
# last purchase), frequency (purchase count), monetary (cents spent)
# per user, each cut into terciles by ``ntile(3)`` over the
# deterministic (metric, user_id) order, census per (R,F,M) cell.
# The marketing-analytics staple; both engines share ntile's floor
# distribution semantics.

# --------------------------------------------------------------------------
# q84_rfm_segments
# --------------------------------------------------------------------------


def q84_rfm_segments(spark: SparkSession, sf: str) -> DataFrame:
    """RFM terciles — each of the three ntiles runs through
    distributed_ntile (operators/advanced.py), not a whole-table
    ORDER BY window: per-user rollups grow with the corpus, and a bare
    global ntile plans as Exchange SinglePartition (one task holds
    every user, three times).  DESC orders (freq, monetary) become ASC
    on the negated column — identical total order, same oracle hash."""
    e = (load(spark, sf, "events")
         .filter(F.col("event_type") == "purchase")
         .select("user_id",
                 _day().alias("day"),
                 F.round(F.col("value").cast("double") * 100)
                  .cast("bigint").alias("cents")))
    ref = e.agg(F.max("day").alias("ref_day"))
    u = (e.groupBy("user_id")
         .agg(F.max("day").alias("last_day"),
              F.count("*").alias("freq"),
              F.sum("cents").alias("monetary"))
         .crossJoin(F.broadcast(ref))
         .select("user_id",
                 (F.col("ref_day") - F.col("last_day")).alias("recency"),
                 "freq", "monetary",
                 (-F.col("freq")).alias("neg_freq"),
                 (-F.col("monetary")).alias("neg_monetary")))
    seg = distributed_ntile(spark, u, 3, "recency", "user_id") \
        .withColumnRenamed("tile", "r")
    seg = distributed_ntile(spark, seg, 3, "neg_freq", "user_id") \
        .withColumnRenamed("tile", "f")
    seg = distributed_ntile(spark, seg, 3, "neg_monetary", "user_id") \
        .withColumnRenamed("tile", "m")
    return (seg.groupBy("r", "f", "m")
            .agg(F.count("*").cast("bigint").alias("n_users"))
            .select(F.col("r").cast("int").alias("r"),
                    F.col("f").cast("int").alias("f"),
                    F.col("m").cast("int").alias("m"), "n_users"))


Q84_SQL = """
WITH e AS (
  SELECT user_id,
         CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) // 86400 AS day,
         CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'),
u AS (
  SELECT user_id,
         (SELECT max(day) FROM e) - max(day) AS recency,
         count(*) AS freq,
         CAST(sum(cents) AS BIGINT) AS monetary
  FROM e GROUP BY user_id),
seg AS (
  SELECT ntile(3) OVER (ORDER BY recency, user_id) AS r,
         ntile(3) OVER (ORDER BY freq DESC, user_id) AS f,
         ntile(3) OVER (ORDER BY monetary DESC, user_id) AS m
  FROM u)
SELECT CAST(r AS INT) AS r, CAST(f AS INT) AS f, CAST(m AS INT) AS m,
       count(*) AS n_users
FROM seg GROUP BY 1, 2, 3
"""


# q85_qq_drift: quantile-quantile comparison of two populations
# (return flags A vs R extended prices) at the 5%..95% grid — the
# distribution-drift diagnostic that localizes WHERE two
# distributions diverge.  Each quantile is the exact den·cum ≥
# num·tot pick over the value-domain histogram (the q64/q70/q72
# discipline); output is the 19-point QQ table with integer gaps.
#
# Scale shapes: RFM is one user-keyed fold + three rank windows over
# USERS (not events) + a cells-sized census; QQ reads one histogram
# (∝ distinct prices), broadcasts the 19-row quantile grid, and the
# pick is a min-agg per (flag, q).

# --------------------------------------------------------------------------
# q85_qq_drift
# --------------------------------------------------------------------------


def q85_qq_drift(spark: SparkSession, sf: str) -> DataFrame:
    li = (load(spark, sf, "lineitem")
          .filter(F.col("l_returnflag").isin("A", "R"))
          .select("l_returnflag",
                  F.round(F.col("l_extendedprice") * 100).cast("bigint")
                   .alias("v")))
    hist = li.groupBy("l_returnflag", "v").agg(F.count("*").alias("w"))
    w_cum = (W.partitionBy("l_returnflag").orderBy("v")
             .rowsBetween(W.unboundedPreceding, W.currentRow))
    w_all = W.partitionBy("l_returnflag")
    h = (hist.withColumn("cum", F.sum("w").over(w_cum))
         .withColumn("tot", F.sum("w").over(w_all)))
    grid = spark.range(1, 20).select(F.col("id").alias("qn"))
    picks = (h.crossJoin(F.broadcast(grid))
             .filter(20 * F.col("cum") >= F.col("qn") * F.col("tot"))
             .groupBy("l_returnflag", "qn")
             .agg(F.min("v").alias("qv")))
    a = (picks.filter(F.col("l_returnflag") == "A")
         .select("qn", F.col("qv").alias("price_a")))
    r = (picks.filter(F.col("l_returnflag") == "R")
         .select("qn", F.col("qv").alias("price_r")))
    return (a.join(r, "qn")
            .select(F.col("qn").cast("int").alias("qn"), "price_a",
                    "price_r",
                    (F.col("price_r") - F.col("price_a"))
                    .alias("gap_cents")))


Q85_SQL = """
WITH li AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS v
  FROM lineitem WHERE l_returnflag IN ('A', 'R')),
hist AS (
  SELECT l_returnflag, v, count(*) AS w FROM li GROUP BY 1, 2),
h AS (
  SELECT *, sum(w) OVER (PARTITION BY l_returnflag ORDER BY v
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS cum,
         sum(w) OVER (PARTITION BY l_returnflag) AS tot
  FROM hist),
grid AS (SELECT CAST(range AS BIGINT) AS qn FROM range(1, 20)),
picks AS (
  SELECT l_returnflag, qn, min(v) AS qv
  FROM h CROSS JOIN grid
  WHERE 20 * cum >= qn * tot
  GROUP BY 1, 2)
SELECT CAST(a.qn AS INT) AS qn, a.qv AS price_a, r.qv AS price_r,
       r.qv - a.qv AS gap_cents
FROM picks a JOIN picks r ON a.qn = r.qn
WHERE a.l_returnflag = 'A' AND r.l_returnflag = 'R'
"""


# q86_kaplan_meier: the Kaplan-Meier estimator — the biostatistics/
# retention staple S(t) = Π_{t_i≤t} (1 − d_i/n_i) — over REPEAT-
# PURCHASE latency: each purchase contributes the days until the same
# user's next purchase, and each user's LAST purchase is right-
# censored at the observation horizon (it leaves the risk set without
# counting as an event — the defining feature KM handles and a plain
# histogram gets wrong; the synthetic users never churn outright, so
# whole-life survival would be degenerate while purchase gaps have a
# real censored tail).  d_i and the risk sets n_i come from one
# duration histogram; the running product is the log canon: per-term
# ln(1−d/n) rounded to 9 and DECIMAL-cumulated in a window, then ONE
# exp per row (identical doubles both engines); a d_i == n_i terminal
# time emits survival 0 exactly.
#
# q87_autocorr: lag-1 autocorrelation of per-type daily revenue —
# the seasonality/momentum diagnostic behind every forecasting
# decision.  The (day, day−1) pairs come from the q83 equi-join idiom
# and Pearson r closes from five exact integer moments.
#
# q88_cohort_ltv: cumulative revenue per acquisition cohort (first-
# PURCHASE day — the synthetic users all appear in week one, so the
# purchase funnel is what actually staggers them) across weeks-since —
# the LTV curve growth teams steer by.
# One user fold fixes each user's cohort, purchases fold to
# (cohort × week) integer cells, a cumulative window runs over the
# tiny cohort series, and LTV-per-user is one exact division.
#
# Scale shapes (SCALE.md "Round-10 batch 12"): KM reduces users to a
# duration histogram before any window (windows ∝ distinct durations);
# autocorrelation joins the (type × day) series against itself and folds
# five moments map-side; cohort LTV shuffles once per keyed fold
# (users, then cohort-week cells) and its window input is cohorts ×
# weeks, not facts.

def _day(col="ts"):
    return F.floor(F.col(col).cast("long") / 86400).cast("bigint")


# --------------------------------------------------------------------------
# q86_kaplan_meier
# --------------------------------------------------------------------------


def q86_kaplan_meier(spark: SparkSession, sf: str) -> DataFrame:
    e = (load(spark, sf, "events")
         .filter(F.col("event_type") == "purchase")
         .select("user_id", "event_id", _day().alias("day")))
    horizon = e.agg(F.max("day").alias("h"))
    w = W.partitionBy("user_id").orderBy("day", "event_id")
    # without it `q86_kaplan_meier` runs 5 parquet scans, not 2
    lif = materialize(
        e.withColumn("nxt", F.lead("day").over(w))
        .crossJoin(F.broadcast(horizon))
        .select(F.coalesce(F.col("nxt") - F.col("day"),
                           F.col("h") - F.col("day")).alias("t"),
                F.col("nxt").isNotNull().cast("int").alias("churned")),
        eager=False)
    hist = (lif.groupBy("t")
            .agg(F.count("*").alias("w"),
                 F.sum("churned").alias("d")))
    tot = lif.agg(F.count("*").alias("tot"))
    # n_at_risk(t) = tot - (# lifetimes strictly shorter than t).
    # r13 de-funnel: both whole-duration-domain ORDER BY windows
    # (allowlisted value-domain funnels) are now two-level
    # bucketed_running passes — integer/decimal sums and the flag max
    # are order-independent, so the rewrite is bit-identical
    h = (bucketed_running(hist, "t", [("shorter", "w", "sum", False)])
         .crossJoin(F.broadcast(tot))
         .withColumn("n_risk", F.col("tot") - F.col("shorter"))
         .filter(F.col("d") > 0))
    term = F.round(F.log(F.lit(1.0) - F.col("d").cast("double")
                         / F.col("n_risk")), 9).cast("decimal(28,9)")
    km = bucketed_running(
        h, "t",
        [("logs",
          F.when(F.col("d") < F.col("n_risk"), term)
           .otherwise(F.lit(0).cast("decimal(28,9)")), "sum", True),
         ("dead_end", (F.col("d") == F.col("n_risk")).cast("int"),
          "max", True)])
    return km.select(F.col("t").alias("gap_days"),
                     F.col("n_risk").cast("bigint").alias("n_at_risk"),
                     F.col("d").cast("bigint").alias("n_repurchases"),
                     F.when(F.col("dead_end") == 1, F.lit(0.0))
                      .otherwise(F.exp(F.col("logs").cast("double")))
                      .alias("survival"))


Q86_SQL = """
WITH e AS (
  SELECT user_id, event_id,
         CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) // 86400 AS day
  FROM events WHERE event_type = 'purchase'),
lif AS (
  SELECT coalesce(lead(day) OVER (PARTITION BY user_id
                                  ORDER BY day, event_id) - day,
                  (SELECT max(day) FROM e) - day) AS t,
         CASE WHEN lead(day) OVER (PARTITION BY user_id
                                   ORDER BY day, event_id) IS NOT NULL
              THEN 1 ELSE 0 END AS churned
  FROM e),
hist AS (
  SELECT t, count(*) AS w, CAST(sum(churned) AS BIGINT) AS d
  FROM lif GROUP BY t),
h AS (
  SELECT t, w, d,
         (SELECT count(*) FROM lif)
           - coalesce(sum(w) OVER (ORDER BY t
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) AS n_risk
  FROM hist),
km AS (
  SELECT t, n_risk, d,
         sum(CASE WHEN d < n_risk THEN
               CAST(round(ln(1.0 - CAST(d AS DOUBLE) / n_risk), 9)
                    AS DECIMAL(28,9))
             ELSE CAST(0 AS DECIMAL(28,9)) END)
           OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW) AS logs,
         max(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
           OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW) AS dead_end
  FROM h WHERE d > 0)
SELECT t AS gap_days, CAST(n_risk AS BIGINT) AS n_at_risk,
       d AS n_repurchases,
       CASE WHEN dead_end = 1 THEN 0.0
            ELSE exp(CAST(logs AS DOUBLE)) END AS survival
FROM km
"""


# --------------------------------------------------------------------------
# q87_autocorr
# --------------------------------------------------------------------------


def q87_autocorr(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "events").select(
        "event_type", _day().alias("day"),
        _vi().alias("vi"))
    # without it `q87_autocorr` runs 2 parquet scans, not 1
    daily = materialize(e.groupBy("event_type", "day")
                        .agg(F.sum("vi").alias("rev")), eager=False)
    prev = daily.select("event_type",
                        (F.col("day") + 1).alias("day"),
                        F.col("rev").alias("x"))
    pairs = (daily.join(prev, ["event_type", "day"])
             .select("event_type", "x", F.col("rev").alias("y")))
    m = (pairs.groupBy("event_type")
         .agg(F.count("*").cast("double").alias("n"),
              F.sum(F.col("x").cast("decimal(38,0)"))
               .cast("double").alias("sx"),
              F.sum(F.col("y").cast("decimal(38,0)"))
               .cast("double").alias("sy"),
              F.sum((F.col("x").cast("decimal(38,0)")
                     * F.col("x").cast("decimal(38,0)")))
               .cast("double").alias("sxx"),
              F.sum((F.col("y").cast("decimal(38,0)")
                     * F.col("y").cast("decimal(38,0)")))
               .cast("double").alias("syy"),
              F.sum((F.col("x").cast("decimal(38,0)")
                     * F.col("y").cast("decimal(38,0)")))
               .cast("double").alias("sxy")))
    r = ((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
         / F.sqrt((F.col("n") * F.col("sxx")
                   - F.col("sx") * F.col("sx"))
                  * (F.col("n") * F.col("syy")
                     - F.col("sy") * F.col("sy"))))
    return m.select("event_type",
                    F.col("n").cast("bigint").alias("n_pairs"),
                    r.alias("lag1_autocorr"))


Q87_SQL = f"""
WITH e AS (
  SELECT event_type,
         CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) // 86400 AS day,
         CAST(round(CAST(value AS DOUBLE) * {VQ}) AS BIGINT) AS vi
  FROM events),
daily AS (
  SELECT event_type, day, CAST(sum(vi) AS BIGINT) AS rev
  FROM e GROUP BY 1, 2),
pairs AS (
  SELECT a.event_type, p.rev AS x, a.rev AS y
  FROM daily a JOIN daily p
    ON a.event_type = p.event_type AND p.day = a.day - 1),
m AS (
  SELECT event_type,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
         CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy,
         CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy
  FROM pairs GROUP BY event_type)
SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
       (n * sxy - sx * sy)
         / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
         AS lag1_autocorr
FROM m
"""


# --------------------------------------------------------------------------
# q88_cohort_ltv
# --------------------------------------------------------------------------


def q88_cohort_ltv(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "events").select(
        "user_id", "event_type", _day().alias("day"),
        F.round(F.col("value").cast("double") * 100)
         .cast("bigint").alias("cents"))
    p = e.filter(F.col("event_type") == "purchase")
    # without it `q88_cohort_ltv` runs 3 parquet scans, not 2
    first = materialize(
        p.groupBy("user_id")
        .agg(F.min("day").alias("cday"))
        .select("user_id", F.col("cday").alias("cohort"), "cday"), eager=False)
    sizes = first.groupBy("cohort").agg(
        F.count("*").alias("cohort_users"))
    rev = (p.join(first, "user_id")
           .select("cohort",
                   ((F.col("day") - F.col("cday")) / 7).cast("bigint")
                   .alias("week"), "cents")
           .groupBy("cohort", "week").agg(F.sum("cents").alias("wk")))
    w_cum = (W.partitionBy("cohort").orderBy("week")
             .rowsBetween(W.unboundedPreceding, W.currentRow))
    return (rev.withColumn("cum_cents", F.sum("wk").over(w_cum))
            .join(F.broadcast(sizes), "cohort")
            .select("cohort", "week",
                    F.col("cohort_users").cast("bigint")
                     .alias("cohort_users"),
                    F.col("cum_cents").cast("bigint").alias("cum_cents"),
                    (F.col("cum_cents").cast("double")
                     / F.col("cohort_users") / 100.0)
                    .alias("ltv_per_user")))


Q88_SQL = """
WITH e AS (
  SELECT user_id, event_type,
         CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) // 86400 AS day,
         CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT) AS cents
  FROM events),
p AS (SELECT * FROM e WHERE event_type = 'purchase'),
first AS (
  SELECT user_id, min(day) AS cohort, min(day) AS cday
  FROM p GROUP BY user_id),
sizes AS (SELECT cohort, count(*) AS cohort_users
          FROM first GROUP BY cohort),
rev AS (
  SELECT f.cohort, (p.day - f.cday) // 7 AS week,
         CAST(sum(p.cents) AS BIGINT) AS wk
  FROM p JOIN first f ON p.user_id = f.user_id
  GROUP BY 1, 2),
c AS (
  SELECT cohort, week,
         sum(wk) OVER (PARTITION BY cohort ORDER BY week
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS cum_cents
  FROM rev)
SELECT c.cohort, c.week, CAST(s.cohort_users AS BIGINT) AS cohort_users,
       CAST(c.cum_cents AS BIGINT) AS cum_cents,
       CAST(c.cum_cents AS DOUBLE) / s.cohort_users / 100.0
         AS ltv_per_user
FROM c JOIN sizes s ON c.cohort = s.cohort
"""


# q89_stratified_effect: the stratified treatment-effect table — the
# observational-causal workhorse behind IPW/blocking: users with a
# heavy 'error' exposure (≥ ERR_T error events — every synthetic user
# sees some errors, so presence alone would be degenerate; the
# threshold splits both SFs ≈ 45/55) vs not, within pre-treatment
# strata (user_id % 5 stands in for an acquisition segment), outcome =
# purchase spend.  Per stratum: arm sizes and exact outcome sums,
# mean difference closed in doubles.  Deliberately emitted PER STRATUM
# (the Σ_s weighted collapse is one trivial reduction the reader can
# do — but summing per-stratum doubles cross-engine would need the
# decimal canon for no analytical gain).
#
# q90_benford: first-digit (Benford) screening of extended prices —
# the fraud/forensics staple.  The digit comes from the integer cents'
# DECIMAL STRING (never log10 — exact for every engine); the nine
# Benford probabilities are embedded as PYTHON-COMPUTED literals so
# both engines parse the identical double, and expected counts /
# ratios are single products per row.
#
# q91_dow_seasonality: day-of-week revenue indices per event type —
# the seasonal-index read-out (dow mean ÷ overall mean).  Day-of-week
# is epoch-day % 7 (timezone-free, the repo's day canon); both means
# come from the same exact integer fold and the index is one division
# chain per row.
#
# Scale shapes (SCALE.md "Round-10 batch 13"): all three are map-side
# integer folds whose outputs are strata (5), digits (9), and
# type×dow (35) cells; the only joins broadcast single-row or
# per-stratum aggregates back into cell tables.

N_STRATA = 5
ERR_T = 14
BENFORD_P = {d: float(math.log10(1.0 + 1.0 / d)) for d in range(1, 10)}


# --------------------------------------------------------------------------
# q89_stratified_effect
# --------------------------------------------------------------------------


def q89_stratified_effect(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "events")
    u = (e.groupBy("user_id")
         .agg((F.sum((F.col("event_type") == "error").cast("int"))
               >= ERR_T).cast("int").alias("treated"),
              F.sum(F.when(F.col("event_type") == "purchase",
                           F.round(F.col("value").cast("double") * 100)
                            .cast("bigint")).otherwise(0)).alias("y"))
         .withColumn("stratum", F.col("user_id") % N_STRATA))
    s = (u.groupBy("stratum")
         .agg(F.count("*").alias("n"),
              F.sum("treated").alias("n1"),
              F.sum(F.when(F.col("treated") == 1, F.col("y"))
                     .otherwise(0)).alias("sy1"),
              F.sum(F.when(F.col("treated") == 0, F.col("y"))
                     .otherwise(0)).alias("sy0")))
    m1 = F.col("sy1").cast("double") / F.col("n1") / 100.0
    m0 = (F.col("sy0").cast("double")
          / (F.col("n") - F.col("n1")) / 100.0)
    return s.select(F.col("stratum").cast("bigint").alias("stratum"),
                    F.col("n").cast("bigint").alias("n_users"),
                    F.col("n1").cast("bigint").alias("n_treated"),
                    m1.alias("mean_y_treated"),
                    m0.alias("mean_y_control"),
                    (m1 - m0).alias("effect"))


Q89_SQL = f"""
WITH u AS (
  SELECT user_id,
         CASE WHEN sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                   >= {ERR_T} THEN 1 ELSE 0 END AS treated,
         CAST(sum(CASE WHEN event_type = 'purchase'
                  THEN CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS y
  FROM events GROUP BY user_id),
s AS (
  SELECT user_id % {N_STRATA} AS stratum,
         count(*) AS n,
         CAST(sum(treated) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN treated = 1 THEN y ELSE 0 END) AS BIGINT)
           AS sy1,
         CAST(sum(CASE WHEN treated = 0 THEN y ELSE 0 END) AS BIGINT)
           AS sy0
  FROM u GROUP BY 1)
SELECT CAST(stratum AS BIGINT) AS stratum,
       CAST(n AS BIGINT) AS n_users,
       n1 AS n_treated,
       CAST(sy1 AS DOUBLE) / n1 / 100.0 AS mean_y_treated,
       CAST(sy0 AS DOUBLE) / (n - n1) / 100.0 AS mean_y_control,
       CAST(sy1 AS DOUBLE) / n1 / 100.0
         - CAST(sy0 AS DOUBLE) / (n - n1) / 100.0 AS effect
FROM s
"""


# --------------------------------------------------------------------------
# q90_benford
# --------------------------------------------------------------------------


def q90_benford(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
         .alias("v")).filter(F.col("v") > 0)
    d = F.substring(F.col("v").cast("string"), 1, 1).cast("int")
    obs = li.groupBy(d.alias("digit")).agg(F.count("*").alias("n_obs"))
    tot = li.agg(F.count("*").cast("double").alias("tot"))
    expr = None
    for dd, pp in BENFORD_P.items():
        expr = (F.when(F.col("digit") == dd, F.lit(pp)) if expr is None
                else expr.when(F.col("digit") == dd, F.lit(pp)))
    return (obs.crossJoin(F.broadcast(tot))
            .withColumn("p", expr)
            .select(F.col("digit").cast("int").alias("digit"),
                    F.col("n_obs").cast("bigint").alias("n_obs"),
                    (F.col("tot") * F.col("p")).alias("expected"),
                    (F.col("n_obs").cast("double")
                     / (F.col("tot") * F.col("p"))).alias("obs_ratio")))


_BENFORD_CASE = " ".join(
    f"WHEN {d} THEN {p!r}" for d, p in BENFORD_P.items())

Q90_SQL = f"""
WITH li AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v
  FROM lineitem
  WHERE CAST(round(l_extendedprice * 100) AS BIGINT) > 0),
obs AS (
  SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INT) AS digit,
         count(*) AS n_obs
  FROM li GROUP BY 1),
tot AS (SELECT CAST(count(*) AS DOUBLE) AS tot FROM li)
SELECT CAST(digit AS INT) AS digit, CAST(n_obs AS BIGINT) AS n_obs,
       tot * (CASE digit {_BENFORD_CASE} END) AS expected,
       CAST(n_obs AS DOUBLE)
         / (tot * (CASE digit {_BENFORD_CASE} END)) AS obs_ratio
FROM obs CROSS JOIN tot
"""


# --------------------------------------------------------------------------
# q91_dow_seasonality
# --------------------------------------------------------------------------


def q91_dow_seasonality(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "events").select(
        "event_type",
        (_day() % 7).alias("dow"),
        _vi().alias("vi"))
    cells = (e.groupBy("event_type", "dow")
             .agg(F.count("*").alias("n"), F.sum("vi").alias("s")))
    tot = (e.groupBy("event_type")
           .agg(F.count("*").alias("tn"), F.sum("vi").alias("ts_")))
    return (cells.join(F.broadcast(tot), "event_type")
            .select("event_type",
                    F.col("dow").cast("int").alias("dow"),
                    F.col("n").cast("bigint").alias("n_events"),
                    ((F.col("s").cast("double") / F.col("n"))
                     / (F.col("ts_").cast("double") / F.col("tn")))
                    .alias("seasonal_index")))


Q91_SQL = f"""
WITH e AS (
  SELECT event_type,
         (CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) // 86400) % 7
           AS dow,
         CAST(round(CAST(value AS DOUBLE) * {VQ}) AS BIGINT) AS vi
  FROM events),
cells AS (
  SELECT event_type, dow, count(*) AS n,
         CAST(sum(vi) AS BIGINT) AS s
  FROM e GROUP BY 1, 2),
tot AS (
  SELECT event_type, count(*) AS tn, CAST(sum(vi) AS BIGINT) AS ts_
  FROM e GROUP BY 1)
SELECT c.event_type, CAST(c.dow AS INT) AS dow,
       CAST(c.n AS BIGINT) AS n_events,
       (CAST(c.s AS DOUBLE) / c.n) / (CAST(t.ts_ AS DOUBLE) / t.tn)
         AS seasonal_index
FROM cells c JOIN tot t ON c.event_type = t.event_type
"""


# ``chi2_type_dow`` — chi-square test of independence between event
# type and day-of-week: the categorical-association screen that
# complements the mutual-information and t-test classes.  The fact
# table folds map-side to 35 (type × dow) cells; marginals are two
# tiny aggregates broadcast back; every cell statistic is computed in
# EXACT integer/decimal arithmetic — (o·N − rt·ct)² / (N·rt·ct) with
# one IEEE division per cell, round-9, decimal-summed per type (the
# float-parity canon from text_bigram_logprob).

def chi2_type_dow(spark: SparkSession, sf: str) -> DataFrame:
    """χ² independence screen: is event type associated with
    day-of-week?  Emits one row per type with its χ² contribution
    (sum over the 7 dow cells), observed count, and cell count."""
    e = load(spark, sf, "events").select(
        "event_type",
        (_day() % 7).alias("dow"))
    cells = e.groupBy("event_type", "dow").agg(F.count("*").alias("o"))
    rt = e.groupBy("event_type").agg(F.count("*").alias("rt"))
    ct = e.groupBy("dow").agg(F.count("*").alias("ct"))
    n = e.agg(F.count("*").alias("nn"))
    d = F.col("o").cast("decimal(20,0)") * F.col("nn").cast("decimal(20,0)") \
        - F.col("rt").cast("decimal(20,0)") * F.col("ct").cast("decimal(20,0)")
    num = (d * d)                                        # exact, < 2^96
    den = (F.col("nn").cast("decimal(20,0)")
           * F.col("rt").cast("decimal(20,0)")
           * F.col("ct").cast("decimal(20,0)"))
    cell = F.round(num.cast("double") / den.cast("double"), 9) \
            .cast("decimal(28,9)")
    return (cells
            .join(F.broadcast(rt), "event_type")
            .join(F.broadcast(ct), "dow")
            .crossJoin(F.broadcast(n))
            .groupBy("event_type")
            .agg(F.sum(cell).cast("double").alias("chi2_part"),
                 F.sum("o").cast("bigint").alias("n_events"),
                 F.count("*").cast("bigint").alias("n_cells")))


CHI2_SQL = """
WITH e AS (
  SELECT event_type,
         (CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) // 86400) % 7 AS dow
  FROM events),
cells AS (SELECT event_type, dow, count(*) AS o FROM e GROUP BY 1, 2),
rt AS (SELECT event_type, count(*) AS rt FROM e GROUP BY 1),
ct AS (SELECT dow, count(*) AS ct FROM e GROUP BY 1),
n AS (SELECT count(*) AS nn FROM e)
SELECT event_type,
       CAST(sum(CAST(round(
         CAST((CAST(o AS HUGEINT) * nn - CAST(rt AS HUGEINT) * ct)
              * (CAST(o AS HUGEINT) * nn - CAST(rt AS HUGEINT) * ct)
              AS DOUBLE)
         / CAST(CAST(nn AS HUGEINT) * rt * ct AS DOUBLE), 9)
         AS DECIMAL(28,9))) AS DOUBLE) AS chi2_part,
       CAST(sum(o) AS BIGINT) AS n_events,
       CAST(count(*) AS BIGINT) AS n_cells
FROM cells JOIN rt USING (event_type) JOIN ct USING (dow) CROSS JOIN n
GROUP BY event_type
"""


# ``ks_two_sample`` — Kolmogorov–Smirnov two-sample statistic between
# the extended-price distributions of returned ('R') vs accepted ('A')
# lineitems, computed EXACTLY: both empirical CDFs live on the shared
# value domain (distinct cents), and D = max |F₁ − F₂| is found by
# maximizing the INTEGER |cum₁·n₂ − cum₂·n₁| (common denominator
# n₁·n₂) — no float compare anywhere; the one division happens on the
# single winning row.  The distribution-drift test that complements
# the QQ table (q85) and χ² (chi2_type_dow): QQ reads quantile gaps,
# KS certifies the sup-norm distance.
#
# ``wilson_error_ci`` — Wilson score 95 % interval for the per-dow
# proportion of error events.  The only non-rational op is ONE sqrt,
# which IEEE-754 requires to be correctly rounded — so unlike ln/exp
# the interval is bit-identical across engines with no rounding canon
# needed.  The proportion-CI class every ops dashboard needs.
#
# Scale posture: KS folds facts to (flag, cents) histogram cells; the
# CDF merge over the distinct-cents domain is the two-level
# ``bucketed_running`` (r13 — no single-partition window at all, the
# former value-domain allowlist entry is gone); Wilson is a 7-cell
# conditional fold.

WILSON_Z = "1.959963984540054"      # Φ⁻¹(0.975), embedded both sides


def ks_two_sample(spark: SparkSession, sf: str) -> DataFrame:
    """KS D-statistic between R-flag and A-flag price distributions:
    the winning value, the exact integer numerator, and D itself."""
    li = load(spark, sf, "lineitem").filter(
        F.col("l_returnflag").isin("A", "R")).select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
        .alias("cents"))
    # without it `ks_two_sample` runs 3 parquet scans, not 1
    hist = materialize(
        li.groupBy("cents")
        .agg(F.sum(F.when(F.col("l_returnflag") == "R", 1)
                   .otherwise(0)).alias("w1"),
             F.sum(F.when(F.col("l_returnflag") == "A", 1)
                   .otherwise(0)).alias("w2")), eager=False)
    # r13 de-funnel: the CDF merge ran a whole-cent-domain ORDER BY
    # window (allowlisted value-domain funnel) — now the two-level
    # bucketed running sum; integer sums make it bit-identical
    cdf = bucketed_running(hist, "cents",
                           [("c1", "w1", "sum", True),
                            ("c2", "w2", "sum", True)])
    tot = hist.agg(F.sum("w1").alias("n1"), F.sum("w2").alias("n2"))
    h = cdf.crossJoin(F.broadcast(tot))
    gap = F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1"))
    return (h.select("cents", gap.alias("gap"), "n1", "n2")
             .orderBy(F.col("gap").desc(), F.col("cents"))
             .limit(1)
             .select(F.col("cents").alias("at_cents"),
                     F.col("gap").cast("bigint").alias("gap_num"),
                     (F.col("n1") * F.col("n2")).cast("bigint")
                     .alias("gap_den"),
                     (F.col("gap").cast("double")
                      / (F.col("n1") * F.col("n2")).cast("double"))
                     .alias("ks_d")))


KS_SQL = """
WITH li AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem WHERE l_returnflag IN ('A', 'R')),
hist AS (
  SELECT cents,
         sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS w1,
         sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS w2
  FROM li GROUP BY 1),
h AS (
  SELECT cents,
         sum(w1) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS c1,
         sum(w2) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS c2,
         sum(w1) OVER () AS n1, sum(w2) OVER () AS n2
  FROM hist)
SELECT cents AS at_cents,
       CAST(abs(c1 * n2 - c2 * n1) AS BIGINT) AS gap_num,
       CAST(n1 * n2 AS BIGINT) AS gap_den,
       CAST(abs(c1 * n2 - c2 * n1) AS DOUBLE)
         / CAST(n1 * n2 AS DOUBLE) AS ks_d
FROM h
ORDER BY abs(c1 * n2 - c2 * n1) DESC, cents
LIMIT 1
"""


def wilson_error_ci(spark: SparkSession, sf: str) -> DataFrame:
    """Per day-of-week: error-event share with its Wilson 95 % score
    interval — center (p̂ + z²/2n)/(1 + z²/n), half-width
    z·√(p̂(1−p̂)/n + z²/4n²)/(1 + z²/n).  sqrt is correctly rounded by
    IEEE-754, so both engines emit identical bits."""
    e = load(spark, sf, "events").select(
        (_day() % 7).alias("dow"),
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("is_e"))
    agg = e.groupBy("dow").agg(F.sum("is_e").alias("k"),
                               F.count("*").alias("n"))
    z = F.lit(float(WILSON_Z))
    p = F.col("k").cast("double") / F.col("n").cast("double")
    n = F.col("n").cast("double")
    denom = 1.0 + z * z / n
    center_num = p + z * z / (2.0 * n)
    half_num = z * F.sqrt(p * (1.0 - p) / n + z * z / (4.0 * n * n))
    # (center − half) / denom as ONE tree — the SQL twin subtracts the
    # numerators before the division, so the Spark side must too (two
    # separate /denom divisions would differ in the last ulp)
    return agg.select(F.col("dow").cast("int").alias("dow"),
                      F.col("k").cast("bigint").alias("n_errors"),
                      F.col("n").cast("bigint").alias("n_events"),
                      ((center_num - half_num) / denom).alias("ci_lo"),
                      ((center_num + half_num) / denom).alias("ci_hi"))


WILSON_SQL = f"""
WITH e AS (
  SELECT (CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) // 86400) % 7
           AS dow,
         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_e
  FROM events),
agg AS (SELECT dow, sum(is_e) AS k, count(*) AS n FROM e GROUP BY 1)
SELECT CAST(dow AS INT) AS dow,
       CAST(k AS BIGINT) AS n_errors,
       CAST(n AS BIGINT) AS n_events,
       ((CAST(k AS DOUBLE) / n + {WILSON_Z} * {WILSON_Z} / (2.0 * n))
        - {WILSON_Z} * sqrt((CAST(k AS DOUBLE) / n)
                            * (1.0 - CAST(k AS DOUBLE) / n) / n
                            + {WILSON_Z} * {WILSON_Z} / (4.0 * n * n)))
       / (1.0 + {WILSON_Z} * {WILSON_Z} / n) AS ci_lo,
       ((CAST(k AS DOUBLE) / n + {WILSON_Z} * {WILSON_Z} / (2.0 * n))
        + {WILSON_Z} * sqrt((CAST(k AS DOUBLE) / n)
                            * (1.0 - CAST(k AS DOUBLE) / n) / n
                            + {WILSON_Z} * {WILSON_Z} / (4.0 * n * n)))
       / (1.0 + {WILSON_Z} * {WILSON_Z} / n) AS ci_hi
FROM agg
"""


# ``theil_sen_slope`` — Theil–Sen robust trend per event type over the
# daily-revenue series: the MEDIAN of all pairwise slopes
# (rev_j − rev_i)/(day_j − day_i).  The robust-regression complement
# of q77's OLS (one outlier day moves OLS, not the pairwise median).
# The pair space is (days choose 2) per type — the series is the
# (type × day) rollup, thousands of rows at ANY corpus size, so the
# self-join is series², never facts².  Each slope is ONE IEEE division
# of exact integers (deterministic bits), the median is an exact
# row_number pick over (slope, day_i, day_j) — no averaging of the
# two middle elements, the lower median (the den·cum ≥ num·tot
# convention used by every quantile in this repo).

def theil_sen_slope(spark: SparkSession, sf: str) -> DataFrame:
    """Per event type: Theil–Sen slope of daily value sums (micro-units
    per day), the pair count, and the chosen pair for auditability."""
    e = load(spark, sf, "events").select(
        "event_type",
        _day().alias("day"),
        _vi().alias("vi"))
    daily = (e.groupBy("event_type", "day")
              .agg(F.sum("vi").alias("rev")))
    a = daily.select(F.col("event_type").alias("t"),
                     F.col("day").alias("d1"), F.col("rev").alias("r1"))
    b = daily.select(F.col("event_type").alias("t"),
                     F.col("day").alias("d2"), F.col("rev").alias("r2"))
    pairs = (a.join(b, "t").filter(F.col("d1") < F.col("d2"))
              .select(F.col("t").alias("event_type"), "d1", "d2",
                      ((F.col("r2") - F.col("r1")).cast("double")
                       / (F.col("d2") - F.col("d1")).cast("double"))
                      .alias("slope")))
    w_rank = W.partitionBy("event_type").orderBy("slope", "d1", "d2")
    w_all = W.partitionBy("event_type")
    ranked = (pairs.withColumn("rn", F.row_number().over(w_rank))
                   .withColumn("n", F.count("*").over(w_all)))
    return (ranked.filter(F.col("rn")
                          == ((F.col("n") + 1) / 2).cast("long"))
            .select("event_type",
                    F.col("n").cast("bigint").alias("n_pairs"),
                    "slope", "d1", "d2"))


THEIL_SEN_SQL = f"""
WITH e AS (
  SELECT event_type,
         CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) // 86400 AS day,
         CAST(round(CAST(value AS DOUBLE) * {VQ}) AS BIGINT) AS vi
  FROM events),
daily AS (
  SELECT event_type, day, CAST(sum(vi) AS BIGINT) AS rev
  FROM e GROUP BY 1, 2),
pairs AS (
  SELECT a.event_type, a.day AS d1, b.day AS d2,
         CAST(b.rev - a.rev AS DOUBLE)
           / CAST(b.day - a.day AS DOUBLE) AS slope
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.day < b.day),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY slope, d1, d2) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM pairs)
SELECT event_type, CAST(n AS BIGINT) AS n_pairs, slope, d1, d2
FROM ranked WHERE rn = (n + 1) // 2
"""


# ``mann_whitney_u`` — Mann–Whitney rank-sum U between returned ('R')
# and accepted ('A') lineitem prices, tie-corrected, in EXACT integer
# arithmetic: ranks come from the value-domain histogram with 2×-scaled
# midranks (2·midrank = 2·cum_before + (w + 1) is always integral), so
# U is exact; the normal-approximation z uses one correctly-rounded
# sqrt.  The nonparametric two-sample class next to Welch's t (q80)
# and KS (ks_two_sample).

def mann_whitney_u(spark: SparkSession, sf: str) -> DataFrame:
    """Tie-corrected Mann–Whitney U between R and A price samples:
    exact integer U (via 2×-scaled midranks) and the z statistic."""
    li = load(spark, sf, "lineitem").filter(
        F.col("l_returnflag").isin("A", "R")).select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
        .alias("cents"))
    hist = (li.groupBy("cents")
            .agg(F.sum(F.when(F.col("l_returnflag") == "R", 1)
                       .otherwise(0)).alias("w1"),
                 F.count("*").alias("w")))
    # 2·midrank of a tied block = 2·(ranks before) + (block size + 1).
    # r13 de-funnel: "ranks before" was a whole-cent-domain ORDER BY
    # window (allowlisted) — now the two-level bucketed running sum;
    # integer sums make the rewrite bit-identical
    h = (bucketed_running(hist, "cents",
                          [("before", "w", "sum", False)])
         .withColumn("mr2", 2 * F.col("before") + F.col("w") + 1))
    agg = h.agg(
        F.sum(F.col("w1") * F.col("mr2")).alias("r2_sum"),   # 2·R₁
        F.sum("w1").alias("n1"),
        F.sum(F.col("w") - F.col("w1")).alias("n2"),
        # tie-correction Σ(t³−t) for the variance
        F.sum(F.col("w") * F.col("w") * F.col("w") - F.col("w"))
        .alias("ties"))
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    n = n1 + n2
    # U₁ = R₁ − n₁(n₁+1)/2, exact in the 2× domain then halved
    u2 = (F.col("r2_sum") - F.col("n1") * (F.col("n1") + 1))
    u1 = u2.cast("double") / 2.0
    mean_u = n1 * n2 / 2.0
    var_u = (n1 * n2 / 12.0) * ((n + 1.0)
                                - F.col("ties").cast("double")
                                / (n * (n - 1.0)))
    return agg.select(
        F.col("n1").cast("bigint").alias("n_r"),
        F.col("n2").cast("bigint").alias("n_a"),
        u2.cast("bigint").alias("u1_x2"),
        ((u1 - mean_u) / F.sqrt(var_u)).alias("z"))


MANN_WHITNEY_SQL = """
WITH li AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem WHERE l_returnflag IN ('A', 'R')),
hist AS (
  SELECT cents,
         sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS w1,
         count(*) AS w
  FROM li GROUP BY 1),
h AS (
  SELECT w1, w,
         coalesce(sum(w) OVER (ORDER BY cents
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS before
  FROM hist),
agg AS (
  SELECT sum(w1 * (2 * before + w + 1)) AS r2_sum,
         sum(w1) AS n1, sum(w - w1) AS n2,
         sum(w * w * w - w) AS ties
  FROM h)
SELECT CAST(n1 AS BIGINT) AS n_r, CAST(n2 AS BIGINT) AS n_a,
       CAST(r2_sum - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
       (CAST(r2_sum - n1 * (n1 + 1) AS DOUBLE) / 2.0
        - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0)
       / sqrt((CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0)
              * ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) + 1.0)
                 - CAST(ties AS DOUBLE)
                 / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                    * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 1.0))))
         AS z
FROM agg
"""


# ``type_corr_matrix`` — full pairwise Pearson correlation matrix of
# the five event types' daily revenue series (q87's lag-1 self-corr
# generalized to the cross-type matrix): the (type, day) rollup joins
# itself on day, and each of the C(5,2) pairs reduces to five exact
# DECIMAL(38,0) moments; r closes in doubles once per pair.  The
# feature-correlation screen every metrics warehouse ships.

D38 = "decimal(38,0)"


def type_corr_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Pearson r of daily revenue between every pair of event types
    (t1 < t2), from exact integer moments over the shared days."""
    e = load(spark, sf, "events").select(
        "event_type",
        _day().alias("day"),
        _vi().alias("vi"))
    daily = e.groupBy("event_type", "day").agg(F.sum("vi").alias("rev"))
    a = daily.select(F.col("event_type").alias("t1"), "day",
                     F.col("rev").alias("x"))
    b = daily.select(F.col("event_type").alias("t2"),
                     F.col("day").alias("day2"), F.col("rev").alias("y"))
    p = (a.join(b, (F.col("day") == F.col("day2"))
                & (F.col("t1") < F.col("t2")))
         .select("t1", "t2", F.col("x").cast(D38).alias("x"),
                 F.col("y").cast(D38).alias("y")))
    m = p.groupBy("t1", "t2").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"))
    n = F.col("n").cast("double")
    cov = n * F.col("sxy").cast("double") \
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    vx = n * F.col("sxx").cast("double") \
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    vy = n * F.col("syy").cast("double") \
        - F.col("sy").cast("double") * F.col("sy").cast("double")
    return m.select("t1", "t2", F.col("n").cast("bigint").alias("n_days"),
                    F.round(cov / F.sqrt(vx * vy), 6).alias("pearson_r"))


TYPE_CORR_SQL = f"""
WITH e AS (
  SELECT event_type,
         CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) // 86400 AS day,
         CAST(round(CAST(value AS DOUBLE) * {VQ}) AS BIGINT) AS vi
  FROM events),
daily AS (
  SELECT event_type, day, CAST(sum(vi) AS HUGEINT) AS rev
  FROM e GROUP BY 1, 2),
m AS (
  SELECT a.event_type AS t1, b.event_type AS t2, count(*) AS n,
         sum(a.rev) AS sx, sum(b.rev) AS sy,
         sum(a.rev * b.rev) AS sxy,
         sum(a.rev * a.rev) AS sxx, sum(b.rev * b.rev) AS syy
  FROM daily a JOIN daily b
    ON a.day = b.day AND a.event_type < b.event_type
  GROUP BY 1, 2)
SELECT t1, t2, CAST(n AS BIGINT) AS n_days,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
         AS pearson_r
FROM m
"""


# ``q97_share_of_parent`` — hierarchical share-of-parent at two
# levels: each nation's revenue share of its region AND each region's
# share of the total, from ONE fact aggregation rolled up twice (tiny
# rollups broadcast back).  Distinct from q09's rollup (which emits
# subtotal rows, not parent-ratio columns).
#
# Scale: corr joins the (type, day) series (days × 5 rows at any corpus
# size) with itself on day; the FK audit is four key-projected LEFT ANTI
# joins, each shuffling only the key column (count-only aggregates);
# share-of-parent broadcasts two sub-thousand-row rollups back into the
# nation-level aggregate.

def q97_share_of_parent(spark: SparkSession, sf: str) -> DataFrame:
    """Per nation: revenue, its share of the nation's region, and the
    region's share of the grand total — one fact aggregation, two tiny
    rollups broadcast back."""
    rev = F.col("o_totalprice").cast("decimal(18,2)")
    o = (load(spark, sf, "orders")
         .join(load(spark, sf, "customer"),
               F.col("o_custkey") == F.col("c_custkey"))
         .join(F.broadcast(load(spark, sf, "nation")),
               F.col("c_nationkey") == F.col("n_nationkey"))
         .join(F.broadcast(load(spark, sf, "region")),
               F.col("n_regionkey") == F.col("r_regionkey"))
         .groupBy("r_name", "n_name")
         .agg(F.sum(rev).alias("nrev")))
    by_region = o.groupBy("r_name").agg(F.sum("nrev").alias("rrev"))
    total = by_region.agg(F.sum("rrev").alias("trev"))
    return (o.join(F.broadcast(by_region), "r_name")
            .crossJoin(F.broadcast(total))
            .select("r_name", "n_name",
                    F.col("nrev").cast("double").alias("nation_revenue"),
                    F.round(F.col("nrev").cast("double")
                            / F.col("rrev").cast("double"), 6)
                    .alias("share_of_region"),
                    F.round(F.col("rrev").cast("double")
                            / F.col("trev").cast("double"), 6)
                    .alias("region_share_of_total")))


Q97_SQL = """
WITH n AS (
  SELECT r_name, n_name,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS nrev
  FROM orders
  JOIN customer ON c_custkey = o_custkey
  JOIN nation ON n_nationkey = c_nationkey
  JOIN region ON r_regionkey = n_regionkey
  GROUP BY 1, 2),
r AS (SELECT r_name, sum(nrev) AS rrev FROM n GROUP BY 1),
t AS (SELECT sum(rrev) AS trev FROM r)
SELECT n.r_name, n_name, CAST(nrev AS DOUBLE) AS nation_revenue,
       round(CAST(nrev AS DOUBLE) / CAST(rrev AS DOUBLE), 6)
         AS share_of_region,
       round(CAST(rrev AS DOUBLE) / CAST(trev AS DOUBLE), 6)
         AS region_share_of_total
FROM n JOIN r ON n.r_name = r.r_name CROSS JOIN t
"""


# ``q98_fano_burstiness`` — dispersion index (Fano factor,
# variance/mean of hourly arrival counts) per event type over OBSERVED
# hours: >1 = bursty, <1 = regular.  Exact-integer moments
# (n·Σc² − (Σc)²) close in doubles once.

def q98_fano_burstiness(spark: SparkSession, sf: str) -> DataFrame:
    cells = (load(spark, sf, "events")
             .select("event_type",
                     F.floor(F.col("ts").cast("long") / 3600)
                      .cast("bigint").alias("hour"))
             .groupBy("event_type", "hour")
             .agg(F.count("*").alias("c")))
    m = (cells.groupBy("event_type")
         .agg(F.count("*").alias("n"),
              F.sum("c").alias("s"),
              F.sum(F.col("c") * F.col("c")).alias("ss")))
    n = F.col("n").cast("double")
    mean = F.col("s").cast("double") / n
    # population variance over observed hours: Σc²/n − mean²; Fano in
    # one exact-integer expression: (n·Σc² − (Σc)²) / (n·Σc)
    fano = ((n * F.col("ss").cast("double")
             - F.col("s").cast("double") * F.col("s").cast("double"))
            / (n * F.col("s").cast("double")))
    return m.select("event_type",
                    F.col("n").cast("bigint").alias("n_hours"),
                    F.round(mean, 6).alias("mean_per_hour"),
                    F.round(fano, 6).alias("fano"))


FANO_SQL = """
WITH cells AS (
  SELECT event_type,
         CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) // 3600 AS hour,
         count(*) AS c
  FROM events GROUP BY 1, 2),
m AS (
  SELECT event_type, count(*) AS n, sum(c) AS s, sum(c * c) AS ss
  FROM cells GROUP BY 1)
SELECT event_type, CAST(n AS BIGINT) AS n_hours,
       round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_per_hour,
       round((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
              - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE)), 6) AS fano
FROM m
"""


# ``leadtime_quantiles`` — order-to-ship lead time (days between
# o_orderdate and l_shipdate) P50/P90 per order priority, through
# ``ordering.bucketed_quantile_pick`` — the SinglePartition-free
# two-level quantile primitive (the day-domain is bounded at ~120
# values, but the primitive costs nothing extra and keeps the repo's
# one quantile implementation on every quantile query).  The supply-
# chain SLA readout: does priority actually buy shipping speed?
#
# ``basket_triples`` — Apriori-style frequent 3-itemsets over order
# baskets at the BRAND level (part-level baskets are support-1 sparse
# on TPC-H: zero triples repeat at sf0.1): items below MIN_ITEM_SUP
# leave before any pair forms, pairs below MIN_PAIR_SUP leave before
# the third item joins — the level-wise candidate prune that makes
# Apriori scale — and the answer is the top-20 triples by support via
# a TakeOrdered heap, so the output is meaningful and fixed-size at
# every scale instead of a threshold that is empty at one SF and
# everything at another.
#
# Scale: lead-time folds to (priority, day) cells map-side before the
# pick; the triple miner's joins are all keyed by orderkey with
# support-filtered sides; top-k rides the heap, never a global sort.

TRI_TOPK = 20          # fixed-size answer: top triples by support


def leadtime_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    o = load(spark, sf, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority")
    days = F.datediff(F.col("l_shipdate").cast("date"),
                      F.col("o_orderdate").cast("date"))
    # without it `leadtime_quantiles` runs 4 parquet scans, not 2
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
            .filter(F.col("s") >= MIN_ITEM_SUP).select("p"))
    # without it `basket_triples`'s optimized plan has 126 lines, not 31
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
                .filter(F.col("ps") >= MIN_PAIR_SUP)
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
         HAVING count(*) >= {MIN_ITEM_SUP}),
li2 AS MATERIALIZED (SELECT o, p FROM li
                     WHERE p IN (SELECT p FROM freq)),
pair_sup AS MATERIALIZED (
  SELECT a.p AS pa, b.p AS pb
  FROM li2 a JOIN li2 b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2 HAVING count(*) >= {MIN_PAIR_SUP}),
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


# ``q99_t_closeness`` — the t-closeness privacy audit (the step after
# q78's k-anonymity/l-diversity): per quasi-identifier class
# (mktsegment × nation), the Earth Mover's Distance between the
# class's sensitive-attribute distribution (account balance in 10
# fixed-width bins) and the GLOBAL distribution, over the ordered bin
# domain — EMD = Σ|cum diffs| / (m−1).  All comparisons run in exact
# cross-multiplied integers (Σ|cum_c·N_g − cum_g·N_c| with one double
# division at the end), so the per-segment max-t and the t>0.2
# violation counts are bit-stable across engines and partitionings.

T_BINS = 10
T_MAX_NUM, T_MAX_DEN = 1, 5        # violation threshold t > 0.2


def q99_t_closeness(spark: SparkSession, sf: str) -> DataFrame:
    c = load(spark, sf, "customer").select(
        "c_mktsegment", "c_nationkey",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("cents"))
    rng = c.agg(F.min("cents").alias("lo"), F.max("cents").alias("hi"),
                F.count("*").alias("ng"))
    width = (F.col("hi") - F.col("lo")) / T_BINS + 1
    binned = (c.crossJoin(F.broadcast(rng))
              .select("c_mktsegment", "c_nationkey", "ng",
                      F.floor((F.col("cents") - F.col("lo")) / width)
                      .cast("int").alias("bin")))
    gdist = (binned.groupBy("bin").agg(F.count("*").alias("gc")))
    cells = (binned.groupBy("c_mktsegment", "c_nationkey", "bin", "ng")
             .agg(F.count("*").alias("cc")))
    # dense bins per class (absent bins still contribute |0 − cum_g|):
    # cross the tiny class list with the 10-bin global table
    classes = (cells.groupBy("c_mktsegment", "c_nationkey", "ng")
               .agg(F.sum("cc").alias("nc")))
    dense = (classes.crossJoin(F.broadcast(gdist))
             .join(cells.select("c_mktsegment", "c_nationkey",
                                "bin", "cc"),
                   ["c_mktsegment", "c_nationkey", "bin"], "left")
             .select("c_mktsegment", "c_nationkey", "nc", "ng", "bin",
                     F.coalesce("cc", F.lit(0)).alias("cc"), "gc"))
    bw = (W.partitionBy("c_mktsegment", "c_nationkey").orderBy("bin")
          .rowsBetween(W.unboundedPreceding, 0))
    cum = (dense.withColumn("cum_c", F.sum("cc").over(bw))
           .withColumn("cum_g", F.sum("gc").over(bw))
           .filter(F.col("bin") < T_BINS - 1))   # last cum diff is 0
    per_class = (cum.groupBy("c_mktsegment", "c_nationkey", "nc", "ng")
                 .agg(F.sum(F.abs(F.col("cum_c") * F.col("ng")
                                  - F.col("cum_g") * F.col("nc")))
                      .alias("s")))
    t = (F.col("s").cast("double")
         / (F.col("nc").cast("double") * F.col("ng").cast("double")
            * (T_BINS - 1)))
    # exact violation test: s·DEN > NUM·nc·ng·(m−1) in integers
    viol = (F.col("s") * T_MAX_DEN
            > F.col("nc") * F.col("ng") * (T_BINS - 1) * T_MAX_NUM)
    return (per_class.groupBy("c_mktsegment")
            .agg(F.count("*").cast("bigint").alias("n_classes"),
                 F.round(F.max(t), 6).alias("max_t"),
                 F.sum(viol.cast("int")).cast("bigint")
                  .alias("n_violating")))


Q99_SQL = f"""
WITH c AS (
  SELECT c_mktsegment, c_nationkey,
         CAST(round(c_acctbal * 100) AS BIGINT) AS cents
  FROM customer),
rng AS (SELECT min(cents) AS lo, max(cents) AS hi,
               count(*) AS ng FROM c),
binned AS (
  SELECT c_mktsegment, c_nationkey, ng,
         CAST(floor((cents - lo) / ((hi - lo) / {T_BINS} + 1)) AS INT)
           AS bin
  FROM c CROSS JOIN rng),
gdist AS (SELECT bin, count(*) AS gc FROM binned GROUP BY bin),
cells AS (
  SELECT c_mktsegment, c_nationkey, bin, ng, count(*) AS cc
  FROM binned GROUP BY 1, 2, 3, 4),
classes AS (
  SELECT c_mktsegment, c_nationkey, ng, sum(cc) AS nc
  FROM cells GROUP BY 1, 2, 3),
dense AS (
  SELECT cl.c_mktsegment, cl.c_nationkey, cl.nc, cl.ng, g.bin,
         coalesce(ce.cc, 0) AS cc, g.gc
  FROM classes cl CROSS JOIN gdist g
  LEFT JOIN cells ce ON ce.c_mktsegment = cl.c_mktsegment
       AND ce.c_nationkey = cl.c_nationkey AND ce.bin = g.bin),
cum AS (
  SELECT c_mktsegment, c_nationkey, nc, ng, bin,
         sum(cc) OVER (PARTITION BY c_mktsegment, c_nationkey
                       ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum_c,
         sum(gc) OVER (PARTITION BY c_mktsegment, c_nationkey
                       ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum_g
  FROM dense),
per_class AS (
  SELECT c_mktsegment, c_nationkey, nc, ng,
         sum(abs(cum_c * ng - cum_g * nc)) AS s
  FROM cum WHERE bin < {T_BINS - 1}
  GROUP BY 1, 2, 3, 4)
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_classes,
       round(max(CAST(s AS DOUBLE)
                 / (CAST(nc AS DOUBLE) * CAST(ng AS DOUBLE)
                    * {T_BINS - 1})), 6) AS max_t,
       CAST(sum(CASE WHEN s * {T_MAX_DEN}
                     > nc * ng * {T_BINS - 1} * {T_MAX_NUM}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_violating
FROM per_class GROUP BY c_mktsegment
"""


# ``lorenz_curve`` — the inequality curve behind q82's Gini scalar:
# cumulative revenue share of the bottom k·10 % of customers (by
# revenue, ascending) for k = 1..10, computed EXACTLY on the
# revenue-cents value-domain histogram.  A decile boundary that cuts
# inside a tied revenue block is resolved by integer interpolation
# (customers inside a block are interchangeable — same revenue), so
# the answer is deterministic with no per-customer tiebreak needed.
# The cumulative pass is ``ordering.bucketed_running`` — no
# single-partition window (the r13 discipline from day one).

def lorenz_curve(spark: SparkSession, sf: str) -> DataFrame:
    """Deciles whose rank target k·N DIV 10 is 0 (only possible when
    the corpus has fewer than 10 customers) are omitted — the SQL twin
    shares the rule, and a sub-10-customer Lorenz curve is degenerate
    anyway."""
    rev = (load(spark, sf, "orders")
           .groupBy("o_custkey")
           .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
                 .alias("rev_c")))
    # without it `lorenz_curve` runs 2 parquet scans, not 1
    hist = materialize(
        rev.groupBy("rev_c").agg(F.count("*").alias("nc")), eager=False)
    h = bucketed_running(
        hist, "rev_c",
        [("cum_c", "nc", "sum", True),
         ("cum_r", F.col("nc") * F.col("rev_c"), "sum", True)])
    tot = hist.agg(F.sum("nc").alias("n"),
                   F.sum(F.col("nc") * F.col("rev_c")).alias("t"))
    deciles = spark.range(1, 11).select(F.col("id").alias("k"))
    m = F.expr("k * n DIV 10")
    # the block containing global rank m: before_c < m <= cum_c;
    # partial-block revenue = cum_r − (cum_c − m)·rev_c, all integers
    lorenz = F.col("cum_r") - (F.col("cum_c") - F.col("m")) * F.col("rev_c")
    return (h.crossJoin(F.broadcast(tot))
            .crossJoin(F.broadcast(deciles))
            .withColumn("m", m)
            .filter((F.col("cum_c") - F.col("nc") < F.col("m"))
                    & (F.col("m") <= F.col("cum_c")))
            .select(F.col("k").cast("int").alias("decile"),
                    F.col("m").cast("bigint").alias("n_customers"),
                    lorenz.cast("bigint").alias("lorenz_cents"),
                    (lorenz.cast("double") / F.col("t").cast("double"))
                    .alias("lorenz_share")))


LORENZ_SQL = """
WITH rev AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_c
  FROM orders GROUP BY 1),
h AS (SELECT rev_c, count(*) AS nc FROM rev GROUP BY 1),
c AS (
  SELECT rev_c, nc,
         CAST(sum(nc) OVER w AS BIGINT) AS cum_c,
         CAST(sum(nc * rev_c) OVER w AS BIGINT) AS cum_r,
         CAST(sum(nc) OVER () AS BIGINT) AS n,
         CAST(sum(nc * rev_c) OVER () AS BIGINT) AS t
  FROM h WINDOW w AS (ORDER BY rev_c ROWS UNBOUNDED PRECEDING)),
d AS (SELECT range AS k FROM range(1, 11)),
pick AS (
  SELECT k, (k * n) // 10 AS m, rev_c, nc, cum_c, cum_r, t
  FROM d, c
  WHERE cum_c - nc < (k * n) // 10 AND (k * n) // 10 <= cum_c)
SELECT CAST(k AS INT) AS decile,
       CAST(m AS BIGINT) AS n_customers,
       CAST(cum_r - (cum_c - m) * rev_c AS BIGINT) AS lorenz_cents,
       CAST(cum_r - (cum_c - m) * rev_c AS DOUBLE) / CAST(t AS DOUBLE)
         AS lorenz_share
FROM pick
"""


QUERIES = {
    "q64_weighted_median": q64_weighted_median,
    "basket_pairs": basket_pairs,
    "q65_pareto_frontier": q65_pareto_frontier,
    "q66_allocation": q66_allocation,
    "q68_cusum": q68_cusum,
    "q70_mad_outliers": q70_mad_outliers,
    "q71_quantile_screen": q71_quantile_screen,
    "q72_winsorized_mean": q72_winsorized_mean,
    "q77_regression_slope": q77_regression_slope,
    "q78_kanonymity": q78_kanonymity,
    "q79_mutual_info": q79_mutual_info,
    "q80_welch_ttest": q80_welch_ttest,
    "q81_cuped": q81_cuped,
    "q82_gini": q82_gini,
    "q83_seasonal_backtest": q83_seasonal_backtest,
    "q84_rfm_segments": q84_rfm_segments,
    "q85_qq_drift": q85_qq_drift,
    "q86_kaplan_meier": q86_kaplan_meier,
    "q87_autocorr": q87_autocorr,
    "q88_cohort_ltv": q88_cohort_ltv,
    "q89_stratified_effect": q89_stratified_effect,
    "q90_benford": q90_benford,
    "q91_dow_seasonality": q91_dow_seasonality,
    "chi2_type_dow": chi2_type_dow,
    "ks_two_sample": ks_two_sample,
    "wilson_error_ci": wilson_error_ci,
    "theil_sen_slope": theil_sen_slope,
    "mann_whitney_u": mann_whitney_u,
    "type_corr_matrix": type_corr_matrix,
    "q97_share_of_parent": q97_share_of_parent,
    "q98_fano_burstiness": q98_fano_burstiness,
    "leadtime_quantiles": leadtime_quantiles,
    "basket_triples": basket_triples,
    "q99_t_closeness": q99_t_closeness,
    "lorenz_curve": lorenz_curve,
}

ORACLES = {
    "q64_weighted_median": Q64_SQL,
    "basket_pairs": BASKET_PAIRS_SQL,
    "q65_pareto_frontier": Q65_SQL,
    "q66_allocation": Q66_SQL,
    "q68_cusum": Q68_SQL,
    "q70_mad_outliers": Q70_SQL,
    "q71_quantile_screen": Q71_SQL,
    "q72_winsorized_mean": Q72_SQL,
    "q77_regression_slope": Q77_SQL,
    "q78_kanonymity": Q78_SQL,
    "q79_mutual_info": Q79_SQL,
    "q80_welch_ttest": Q80_SQL,
    "q81_cuped": Q81_SQL,
    "q82_gini": Q82_SQL,
    "q83_seasonal_backtest": Q83_SQL,
    "q84_rfm_segments": Q84_SQL,
    "q85_qq_drift": Q85_SQL,
    "q86_kaplan_meier": Q86_SQL,
    "q87_autocorr": Q87_SQL,
    "q88_cohort_ltv": Q88_SQL,
    "q89_stratified_effect": Q89_SQL,
    "q90_benford": Q90_SQL,
    "q91_dow_seasonality": Q91_SQL,
    "chi2_type_dow": CHI2_SQL,
    "ks_two_sample": KS_SQL,
    "wilson_error_ci": WILSON_SQL,
    "theil_sen_slope": THEIL_SEN_SQL,
    "mann_whitney_u": MANN_WHITNEY_SQL,
    "type_corr_matrix": TYPE_CORR_SQL,
    "q97_share_of_parent": Q97_SQL,
    "q98_fano_burstiness": FANO_SQL,
    "leadtime_quantiles": LEADTIME_SQL,
    "basket_triples": BASKET_TRIPLES_SQL,
    "q99_t_closeness": Q99_SQL,
    "lorenz_curve": LORENZ_SQL,
}
