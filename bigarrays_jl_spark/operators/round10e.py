"""Round-10 fifth batch: interval-union coverage and exact MAD
robust-outlier detection.

- q69_interval_coverage: union length of overlapping per-user activity
  intervals (each event opens a 30-minute session window) — the
  gaps-and-islands merge: a running max of interval ends detects
  island starts, islands aggregate to [min start, max end].  The
  classic "total active seconds" question answered in O(n log n) with
  per-key windows instead of an O(n²) interval self-join.
- q70_mad_outliers: robust dispersion per group — exact median via the
  value-domain histogram trick (q64), exact median absolute deviation
  via a SECOND histogram over |x − median| (integer cents, so both
  medians are exact), then the 1.5×MAD outlier census (integer form
  2·|d| > 3·MAD — near-uniform price columns make 3×MAD vacuous,
  1.5×MAD discriminates).  The robust
  z-score shape that survives the heavy-tailed columns a mean/stddev
  screen chokes on.

Both are exact integer arithmetic end-to-end — no float canon needed.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from bigarrays_jl_spark.checkpointing import materialize
from bigarrays_jl_spark.sources.tables import fan_out, load

SESSION_S = 1800

# --------------------------------------------------------------------------
# q69_interval_coverage — per user: intervals [t, t+1800); total
# covered seconds = Σ over merged islands of (max_end − min_start).
# Island detection: order by (t, event_id); a row starts a new island
# iff its t exceeds the running max end of all PRIOR rows.  Running
# max is rows-frame (unbounded..−1) so the current row never masks its
# own start; island ids are a running sum of start flags.
#
# Scale shape: two per-user windows + one per-(user, island) aggregate
# + one bucket aggregate — every shuffle key-partitioned, state O(1)
# per row.  Output is exact integer seconds.
# --------------------------------------------------------------------------


def q69_interval_coverage(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events").select(
        "user_id", F.col("ts").cast("long").alias("t"), "event_id")
    w_prev = (Window.partitionBy("user_id")
              .orderBy("t", "event_id")
              .rowsBetween(Window.unboundedPreceding, -1))
    w_run = (Window.partitionBy("user_id")
             .orderBy("t", "event_id")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    iv = (ev.withColumn("e", F.col("t") + SESSION_S)
          .withColumn("pmax", F.max("e").over(w_prev))
          .withColumn("new", F.when(F.col("pmax").isNull()
                                    | (F.col("t") > F.col("pmax")), 1)
                              .otherwise(0))
          .withColumn("island", F.sum("new").over(w_run)))
    islands = (iv.groupBy("user_id", "island")
               .agg(F.min("t").alias("s"), F.max("e").alias("e")))
    return (islands.groupBy((F.col("user_id") % 10).alias("bucket"))
            .agg(F.sum(F.col("e") - F.col("s")).alias("covered_secs"),
                 F.count("*").alias("n_islands")))


Q69_SQL = f"""
WITH ev AS (
  SELECT user_id, CAST(floor(epoch_us(ts)/1000000) AS BIGINT) AS t,
         event_id, CAST(floor(epoch_us(ts)/1000000) AS BIGINT)
           + {SESSION_S} AS e
  FROM events),
m AS (
  SELECT *, max(e) OVER (PARTITION BY user_id ORDER BY t, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING) AS pmax
  FROM ev),
f AS (
  SELECT *, CASE WHEN pmax IS NULL OR t > pmax THEN 1 ELSE 0 END AS new
  FROM m),
i AS (
  SELECT *, sum(new) OVER (PARTITION BY user_id ORDER BY t, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS island
  FROM f),
isl AS (
  SELECT user_id, island, min(t) AS s, max(e) AS e
  FROM i GROUP BY 1, 2)
SELECT user_id % 10 AS bucket,
       sum(e - s) AS covered_secs,
       count(*) AS n_islands
FROM isl GROUP BY 1
"""


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
    # h1 feeds BOTH the median and the deviation histogram —
    # ReuseExchange won't match column-pruned duplicate subplans, so
    # checkpoint the aggregate once (the q50/text_bm25 idiom)
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


QUERIES = {
    "q69_interval_coverage": q69_interval_coverage,
    "q70_mad_outliers": q70_mad_outliers,
}

ORACLES = {
    "q69_interval_coverage": Q69_SQL,
    "q70_mad_outliers": Q70_SQL,
}
