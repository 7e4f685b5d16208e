"""Round-11 batch 2 (builder extension, SURVEY §2C):

- ``ks_two_sample`` — Kolmogorov–Smirnov two-sample statistic between
  the extended-price distributions of returned ('R') vs accepted ('A')
  lineitems, computed EXACTLY: both empirical CDFs live on the shared
  value domain (distinct cents), and D = max |F₁ − F₂| is found by
  maximizing the INTEGER |cum₁·n₂ − cum₂·n₁| (common denominator
  n₁·n₂) — no float compare anywhere; the one division happens on the
  single winning row.  The distribution-drift test that complements
  the QQ table (q85) and χ² (chi2_type_dow): QQ reads quantile gaps,
  KS certifies the sup-norm distance.
- ``wilson_error_ci`` — Wilson score 95 % interval for the per-dow
  proportion of error events.  The only non-rational op is ONE sqrt,
  which IEEE-754 requires to be correctly rounded — so unlike ln/exp
  the interval is bit-identical across engines with no rounding canon
  needed.  The proportion-CI class every ops dashboard needs.

Scale posture: KS folds facts to (flag, cents) histogram cells; the
CDF merge over the distinct-cents domain is the two-level
``bucketed_running`` (r13 — no single-partition window at all, the
former value-domain allowlist entry is gone); Wilson is a 7-cell
conditional fold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigarrays_jl_spark.checkpointing import materialize
from bigarrays_jl_spark.operators.ordering import bucketed_running
from bigarrays_jl_spark.sources.tables import load

WILSON_Z = "1.959963984540054"      # Φ⁻¹(0.975), embedded both sides


def ks_two_sample(spark: SparkSession, sf: str) -> DataFrame:
    """KS D-statistic between R-flag and A-flag price distributions:
    the winning value, the exact integer numerator, and D itself."""
    li = load(spark, sf, "lineitem").filter(
        F.col("l_returnflag").isin("A", "R")).select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
        .alias("cents"))
    hist = materialize(                  # CDF merge + totals reuse
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
        (F.floor(F.col("ts").cast("long") / 86400).cast("bigint") % 7)
        .alias("dow"),
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


QUERIES = {
    "ks_two_sample": ks_two_sample,
    "wilson_error_ci": wilson_error_ci,
}

ORACLES = {
    "ks_two_sample": KS_SQL,
    "wilson_error_ci": WILSON_SQL,
}
