"""Round-10 twelfth batch: survival analysis, time-series diagnostics,
and cohort lifetime value.

- q86_kaplan_meier: the Kaplan-Meier estimator — the biostatistics/
  retention staple S(t) = Π_{t_i≤t} (1 − d_i/n_i) — over REPEAT-
  PURCHASE latency: each purchase contributes the days until the same
  user's next purchase, and each user's LAST purchase is right-
  censored at the observation horizon (it leaves the risk set without
  counting as an event — the defining feature KM handles and a plain
  histogram gets wrong; the synthetic users never churn outright, so
  whole-life survival would be degenerate while purchase gaps have a
  real censored tail).  d_i and the risk sets n_i come from one
  duration histogram; the running product is the log canon: per-term
  ln(1−d/n) rounded to 9 and DECIMAL-cumulated in a window, then ONE
  exp per row (identical doubles both engines); a d_i == n_i terminal
  time emits survival 0 exactly.
- q87_autocorr: lag-1 autocorrelation of per-type daily revenue —
  the seasonality/momentum diagnostic behind every forecasting
  decision.  The (day, day−1) pairs come from the q83 equi-join idiom
  and Pearson r closes from five exact integer moments.
- q88_cohort_ltv: cumulative revenue per acquisition cohort (first-
  PURCHASE day — the synthetic users all appear in week one, so the
  purchase funnel is what actually staggers them) across weeks-since —
  the LTV curve growth teams steer by.
  One user fold fixes each user's cohort, purchases fold to
  (cohort × week) integer cells, a cumulative window runs over the
  tiny cohort series, and LTV-per-user is one exact division.

Scale shapes (SCALE.md "Round-10 batch 12"): KM reduces users to a
duration histogram before any window (windows ∝ distinct durations);
autocorrelation joins the (type × day) series against itself and folds
five moments map-side; cohort LTV shuffles once per keyed fold
(users, then cohort-week cells) and its window input is cohorts ×
weeks, not facts.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from bigarrays_jl_spark.checkpointing import materialize
from bigarrays_jl_spark.operators.ordering import bucketed_running
from bigarrays_jl_spark.sources.tables import load

VQ = 1_000_000


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
    w = Window.partitionBy("user_id").orderBy("day", "event_id")
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
        F.round(F.col("value").cast("double") * VQ)
         .cast("bigint").alias("vi"))
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
    w_cum = (Window.partitionBy("cohort").orderBy("week")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
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


QUERIES = {
    "q86_kaplan_meier": q86_kaplan_meier,
    "q87_autocorr": q87_autocorr,
    "q88_cohort_ltv": q88_cohort_ltv,
}

ORACLES = {
    "q86_kaplan_meier": Q86_SQL,
    "q87_autocorr": Q87_SQL,
    "q88_cohort_ltv": Q88_SQL,
}
