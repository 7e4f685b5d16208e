"""Event-stream operators (batch form) over the events table.

These are the batch twins of the Structured Streaming operators in
``bigarrays_jl_spark.streaming`` — same windowing semantics, expressed on
a static DataFrame so the DuckDB oracle can verify them.  The streaming
module runs the identical logical plans through readStream/writeStream
(tested in tests/test_streaming.py; streaming execution itself is not
SQL-oracle-comparable).

Also: stock run-out and attribution (the ordered per-user scans behind
``streaming/runout.py`` and ``streaming/attribution.py``), day funnels,
session bounce, the Markov next-event backtest, and ``VQ``, the 1e-6
fixed point every module uses for event values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from bigarrays_jl_spark.sources.tables import load

SESSION_GAP_MIN = 30


# --------------------------------------------------------------------------
# tumbling window aggregation (1 hour) — window() aligns to the epoch in
# UTC on both engines
# --------------------------------------------------------------------------

def events_tumbling(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "events")
    return (e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
             .agg(F.count("*").alias("n_events"),
                  F.round(F.sum(F.col("value").cast("decimal(25,10)"))
                           .cast("double"), 2).alias("total_value"))
             .select(F.col("w.start").alias("window_start"), "event_type",
                     "n_events", "total_value"))


EVENTS_TUMBLING_SQL = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(25,10))) AS DOUBLE), 2)
         AS total_value
FROM events GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# sliding window (1 hour window, 30 min slide) — each event lands in 2
# windows; the SQL oracle unions the two phase-shifted bucketings
# --------------------------------------------------------------------------

def events_sliding(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "events")
    return (e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
             .agg(F.count("*").alias("n_events"))
             .select(F.col("w.start").alias("window_start"), "n_events"))


EVENTS_SLIDING_SQL = """
SELECT window_start, count(*) AS n_events FROM (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL '1 hour', ts - INTERVAL '30 minutes')
         + INTERVAL '30 minutes' AS window_start FROM events
) GROUP BY 1
"""


# --------------------------------------------------------------------------
# sessionization: gaps-and-islands with a 30-minute inactivity gap —
# the batch twin of session_window(ts, '30 minutes')
# --------------------------------------------------------------------------

def sessionized(e: DataFrame) -> DataFrame:
    """``e`` (needs user_id, ts, event_id) plus a per-user
    ``session_id`` via the 30-minute gaps-and-islands canon — THE
    sessionization shared by events_sessionize and
    events.session_bounce_rate; one definition so the operators can't drift."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    new_session = F.when(gap.isNull() | (gap > SESSION_GAP_MIN * 60), 1).otherwise(0)
    return (e.withColumn("new_s", new_session)
             .withColumn("session_id", F.sum("new_s").over(
                 w.rowsBetween(W.unboundedPreceding, W.currentRow))))


def events_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    sess = sessionized(load(spark, sf, "events"))
    return (sess.groupBy("user_id")
                .agg(F.max("session_id").cast("bigint").alias("n_sessions"),
                     F.count("*").alias("n_events"),
                     F.round(F.count("*") / F.max("session_id"), 4)
                      .alias("events_per_session")))


# floor(epoch_us/1e6) floors each timestamp to whole seconds the same
# way Spark's cast(ts as long) does for ALL timestamps; DuckDB's epoch()
# *rounds* fractional seconds and `//` truncates toward zero (diverges
# pre-1970).  See Q29_SQL in advanced.py for the exactness argument.
EVENTS_SESSIONIZE_SQL = f"""
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   IS NULL
              OR CAST(floor(epoch_us(ts) / 1000000) AS BIGINT)
                 - CAST(floor(epoch_us(lag(ts) OVER (PARTITION BY user_id
                                                     ORDER BY ts, event_id))
                              / 1000000) AS BIGINT)
                 > {SESSION_GAP_MIN * 60}
              THEN 1 ELSE 0 END AS new_s
  FROM events),
s AS (SELECT user_id,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM g)
SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions,
       count(*) AS n_events,
       round(CAST(count(*) AS DOUBLE) / max(session_id), 4) AS events_per_session
FROM s GROUP BY user_id
"""


# --------------------------------------------------------------------------
# funnel: users whose first click precedes their first purchase
# --------------------------------------------------------------------------

def events_funnel(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "events")
    firsts = (e.filter(F.col("event_type").isin("click", "purchase"))
               .groupBy("user_id")
               .agg(F.min(F.when(F.col("event_type") == "click", F.col("ts")))
                     .alias("first_click"),
                    F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
                     .alias("first_purchase")))
    return (firsts.filter(F.col("first_click").isNotNull()
                          & F.col("first_purchase").isNotNull()
                          & (F.col("first_click") < F.col("first_purchase")))
                  .select("user_id", "first_click", "first_purchase"))


EVENTS_FUNNEL_SQL = """
WITH f AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
  FROM events WHERE event_type IN ('click', 'purchase')
  GROUP BY user_id)
SELECT user_id, first_click, first_purchase
FROM f
WHERE first_click IS NOT NULL AND first_purchase IS NOT NULL
  AND first_click < first_purchase
"""



# --------------------------------------------------------------------------
# events_rollup_two_level — the continuous-aggregate / hypertable-rollup
# pattern: raw events pre-aggregate into 1-minute buckets, then the
# HOURLY result is computed FROM THE MINUTE PRE-AGGREGATES (sum of
# sums, count of counts, min of mins, max of maxes) — never rescanning
# raw data.  The oracle aggregates raw events directly at the hour, so
# a hash match proves the reaggregation property holds exactly (decimal
# sums keep the two-level accumulation order-independent).
#
# Scale shape: at 100 TB the minute layer is what you materialize
# incrementally (streaming twin: watermarked tumbling agg); the hourly
# rollup then reads ~1/60th the rows.  Both levels are partial-agg
# shuffles on (bucket, type) — bounded by bucket cardinality, not raw
# volume.
# --------------------------------------------------------------------------

def events_rollup_two_level(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "events")
    minute = (e.groupBy(
        F.expr("(unix_micros(ts) div 1000000) div 60").alias("minute_id"),
        "event_type")
        .agg(F.count("*").alias("n"),
             F.sum(F.col("value").cast("decimal(18,6)")).alias("sv"),
             F.min("value").alias("mn"), F.max("value").alias("mx")))
    return (minute.withColumn("hour_id", F.expr("minute_id div 60"))
            .groupBy("hour_id", "event_type")
            .agg(F.sum("n").alias("n_events"),
                 F.round(F.sum("sv"), 2).cast("double").alias("sum_value"),
                 F.min("mn").alias("min_value"),
                 F.max("mx").alias("max_value")))


EVENTS_ROLLUP_SQL = """
SELECT (epoch_us(ts) // 1000000) // 3600 AS hour_id, event_type,
       count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
         AS sum_value,
       min(value) AS min_value, max(value) AS max_value
FROM events GROUP BY 1, 2
"""



# --------------------------------------------------------------------------
# events_winsorize — robust-stats clamp: per event type, clip value to
# its [p05, p95] band and report the winsorized sum + clip counts (the
# standard outlier treatment before training-metric aggregation).
# Boundary determinism: Spark `percentile` and DuckDB `quantile_cont`
# share the linear-interpolation definition and agree bitwise on this
# data (verified at sf0.01/0.1), so the clamp comparisons can't flip.
#
# Scale shape: boundaries are a tiny per-type aggregate broadcast back
# into one corpus scan.  Exact per-group percentile buffers a group's
# values in its reducer, so with a low-cardinality group key the 100 TB
# build swaps percentile → percentile_approx (mergeable map-side
# sketch, same plan otherwise) or the distributed-rank machinery of
# q28; the clamp/aggregate stage is unchanged.
# --------------------------------------------------------------------------

def events_winsorize(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "events")
    b = (e.groupBy("event_type")
          .agg(F.percentile("value", 0.05).alias("lo"),
               F.percentile("value", 0.95).alias("hi")))
    clamped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    clipped = (F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))
    return (e.join(F.broadcast(b), "event_type")
             .groupBy("event_type")
             .agg(F.count("*").alias("n"),
                  F.round(F.sum(clamped.cast("decimal(18,6)")), 2)
                   .cast("double").alias("sum_winsorized"),
                  F.sum(F.when(clipped, 1).otherwise(0)).cast("bigint")
                   .alias("n_clipped")))


EVENTS_WINSORIZE_SQL = """
WITH b AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS lo, quantile_cont(value, 0.95) AS hi
  FROM events GROUP BY event_type)
SELECT e.event_type, count(*) AS n,
       CAST(round(sum(CAST(least(greatest(value, lo), hi)
                           AS DECIMAL(18,6))), 2) AS DOUBLE)
         AS sum_winsorized,
       CAST(count(*) FILTER (WHERE value < lo OR value > hi) AS BIGINT)
         AS n_clipped
FROM events e JOIN b ON e.event_type = b.event_type
GROUP BY e.event_type
"""


VQ = 1_000_000          # 1e-6 fixed point for event `value`


ATTR_WINDOW_S = 86_400          # attribution lookback (24 h)


def _vi(col: str = "value"):
    """Tie-free 1e-6 fixed-point quantization of a double column."""
    return F.round(F.col(col).cast("double") * VQ).cast("bigint")


def _ss(col: str = "ts"):
    """Epoch-seconds canon (== DuckDB floor(epoch_us/1e6))."""
    return F.col(col).cast("long")


# q75_stock_runout: clamped running inventory b_n = max(0, b_{n-1} +
# delta_n) — the sequential-scan operator class.  The ZERO-floor
# special case admits a window closed form (b_n = prefix_n − min(0,
# running-min(prefix)); ``q75_windowed`` implements it and pytest pins
# exact equality), but the general business recurrence — two-sided
# clamps (capacity caps), conditional refill rules — has no such
# identity, so the REGISTERED operator is the honest tier-(b) shape:
# an Arrow-batched applyInPandas per-user ordered scan — state is
# one integer per user, groups are independent, so the operator
# parallelizes across users exactly like any keyed shuffle.  The
# DuckDB twin is a genuine recursive CTE walking rn -> rn+1.

# --------------------------------------------------------------------------
# q75_stock_runout — clicks restock (+vi), purchases draw (-vi),
# balance clamps at zero.  applyInPandas per user: the scan is
# inherently sequential IN TIME but embarrassingly parallel ACROSS
# users — exactly the shape Spark's keyed grouping distributes.
# --------------------------------------------------------------------------

_RUNOUT_SCHEMA = ("user_id long, n_moves long, n_stockouts long, "
                  "final_balance long")


def _runout_partition(it):
    """Secondary-sort partition scan: rows arrive (user_id, ts,
    event_id)-sorted within the partition; per-user state carries
    across Arrow batches in a dict and flushes once at partition end.
    This replaces a per-user applyInPandas — correct but ~3 ms of
    per-group overhead × |users| — with ONE pandas pass per partition
    (the classic MR secondary-sort shape; 5.1 s → 0.5 s at sf0.1)."""
    import pandas as _pd
    state = {}                      # user -> [bal, so, n]
    for pdf in it:
        for u, d in zip(pdf["user_id"].to_numpy(),
                        pdf["d"].to_numpy()):
            st = state.get(u)
            if st is None:
                st = state[u] = [0, 0, 0]
            nb = st[0] + int(d)
            if nb < 0:
                st[1] += 1
                nb = 0
            st[0] = nb
            st[2] += 1
    if state:
        yield _pd.DataFrame(
            {"user_id": list(state),
             "n_moves": [v[2] for v in state.values()],
             "n_stockouts": [v[1] for v in state.values()],
             "final_balance": [v[0] for v in state.values()]})


def q75_stock_runout(spark: SparkSession, sf: str) -> DataFrame:
    e = (load(spark, sf, "events")
         .filter(F.col("event_type").isin("click", "purchase"))
         .select("user_id", "ts", "event_id",
                 (_vi() * F.when(F.col("event_type") == "click", 1)
                           .otherwise(-1)).alias("d")))
    part = (e.repartition("user_id")
            .sortWithinPartitions("user_id", "ts", "event_id"))
    return part.mapInPandas(_runout_partition, schema=_RUNOUT_SCHEMA)


def q75_windowed(spark: SparkSession, sf: str) -> DataFrame:
    """The zero-floor clamp's window closed form — pytest-pinned equal
    to the stateful scan: with p_n the plain prefix sum,
    b_n = p_n − min(0, min_{k≤n} p_k), and a stockout happens exactly
    when p_n strikes a NEW strict running minimum below zero."""
    e = (load(spark, sf, "events")
         .filter(F.col("event_type").isin("click", "purchase"))
         .select("user_id", "ts", "event_id",
                 (_vi() * F.when(F.col("event_type") == "click", 1)
                           .otherwise(-1)).alias("d")))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    cur = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    prev = w.rowsBetween(W.unboundedPreceding, -1)
    t = (e.withColumn("p", F.sum("d").over(cur))
         .withColumn("so", (F.col("p") < F.least(
             F.lit(0), F.coalesce(F.min("p").over(prev), F.lit(0))))
             .cast("long")))
    return (t.groupBy("user_id")
            .agg(F.count("*").alias("n_moves"),
                 F.sum("so").alias("n_stockouts"),
                 (F.max_by(F.col("p"), F.struct("ts", "event_id"))
                  - F.least(F.lit(0), F.min("p"))).alias("final_balance")))


Q75_SQL = f"""
WITH RECURSIVE m AS (
  SELECT user_id,
         CAST(round(CAST(value AS DOUBLE) * {VQ}) AS BIGINT)
           * CASE WHEN event_type = 'click' THEN 1 ELSE -1 END AS d,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events WHERE event_type IN ('click', 'purchase')),
rec AS (
  SELECT user_id, rn, greatest(d, 0) AS bal,
         CASE WHEN d < 0 THEN 1 ELSE 0 END AS so
  FROM m WHERE rn = 1
  UNION ALL
  SELECT m.user_id, m.rn,
         greatest(rec.bal + m.d, 0) AS bal,
         rec.so + CASE WHEN rec.bal + m.d < 0 THEN 1 ELSE 0 END AS so
  FROM rec JOIN m ON m.user_id = rec.user_id AND m.rn = rec.rn + 1)
SELECT user_id, rn AS n_moves, CAST(so AS BIGINT) AS n_stockouts,
       bal AS final_balance
FROM rec
QUALIFY rn = max(rn) OVER (PARTITION BY user_id)
"""


# q76_attribution: linear multi-touch revenue attribution — every
# purchase's cents split equally across the user's views in the
# preceding 24 h, cent-exactly via the largest-remainder discipline of
# q66_allocation (floor base + 1-cent bumps by recency rank), rolled
# up by the touch event's channel.  Σ(attributed) == Σ(covered
# purchase cents) by construction, pytest-asserted.

# --------------------------------------------------------------------------
# q76_attribution — channel = props.k % 4 of the TOUCH (view) event.
# --------------------------------------------------------------------------


def q76_attribution(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "events")
    p = (e.filter(F.col("event_type") == "purchase")
         .select(F.col("user_id").alias("p_user"),
                 F.col("event_id").alias("p_id"),
                 _ss().alias("p_ss"),
                 F.round(F.col("value").cast("double") * 100)
                  .cast("bigint").alias("cents")))
    v = (e.filter(F.col("event_type") == "view")
         .select(F.col("user_id").alias("v_user"),
                 F.col("event_id").alias("v_id"),
                 _ss().alias("v_ss"),
                 (F.get_json_object("props", "$.k").cast("int") % 4)
                 .alias("channel")))
    tp = p.join(v, (F.col("p_user") == F.col("v_user"))
                & (F.col("v_ss") < F.col("p_ss"))
                & (F.col("v_ss") >= F.col("p_ss") - ATTR_WINDOW_S))
    wp = W.partitionBy("p_id")
    wr = W.partitionBy("p_id").orderBy(
        F.col("v_ss").desc(), F.col("v_id").desc())
    alloc = (tp.withColumn("n_t", F.count("*").over(wp))
             .withColumn("r", F.row_number().over(wr))
             .withColumn("base", F.floor(F.col("cents").cast("double")
                                         / F.col("n_t")).cast("bigint"))
             .withColumn("alloc", F.col("base") + F.when(
                 F.col("r") <= F.col("cents") - F.col("base") * F.col("n_t"),
                 1).otherwise(0)))
    return (alloc.groupBy("channel")
            .agg(F.sum("alloc").cast("bigint").alias("attributed_cents"),
                 F.count("*").alias("n_touches"),
                 F.countDistinct("p_id").alias("n_purchases")))


Q76_SQL = f"""
WITH p AS (
  SELECT user_id AS p_user, event_id AS p_id,
         CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) AS p_ss,
         CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'),
v AS (
  SELECT user_id AS v_user, event_id AS v_id,
         CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) AS v_ss,
         CAST(json_extract_string(props, '$.k') AS INT) % 4 AS channel
  FROM events WHERE event_type = 'view'),
tp AS (
  SELECT * FROM p JOIN v ON p.p_user = v.v_user
  AND v.v_ss < p.p_ss AND v.v_ss >= p.p_ss - {ATTR_WINDOW_S}),
alloc AS (
  SELECT channel, p_id,
         CAST(floor(CAST(cents AS DOUBLE)
                    / count(*) OVER (PARTITION BY p_id)) AS BIGINT)
         + CASE WHEN row_number() OVER (PARTITION BY p_id
                                        ORDER BY v_ss DESC, v_id DESC)
                     <= cents - CAST(floor(CAST(cents AS DOUBLE)
                          / count(*) OVER (PARTITION BY p_id)) AS BIGINT)
                        * count(*) OVER (PARTITION BY p_id)
                THEN 1 ELSE 0 END AS alloc
  FROM tp)
SELECT channel, CAST(sum(alloc) AS BIGINT) AS attributed_cents,
       count(*) AS n_touches,
       count(DISTINCT p_id) AS n_purchases
FROM alloc GROUP BY channel
"""


TRAIN_DAYS = 21


# ``markov_backtest`` — next-event-type prediction backtest: the
# per-type modal successor is TRAINED on the first three weeks of
# per-user transitions and SCORED on the rest (temporal split, no
# leakage).  Min-type tie canon for the argmax; exact integer
# accuracy per antecedent type.  The model-evaluation class next to
# q83's seasonal-naive forecast backtest.

def markov_backtest(spark: SparkSession, sf: str) -> DataFrame:
    """Train the per-type modal-successor predictor on the first
    TRAIN_DAYS of transitions, score top-1 accuracy on the rest."""
    e = load(spark, sf, "events").select(
        "user_id", "event_id", "event_type",
        F.col("ts").cast("long").alias("sec"))
    lo = e.agg(F.min("sec")).first()[0]
    cut = lo + TRAIN_DAYS * 86400
    w = W.partitionBy("user_id").orderBy("sec", "event_id")
    tr = (e.withColumn("nxt", F.lead("event_type").over(w))
           .withColumn("nxt_sec", F.lead("sec").over(w))
           .filter(F.col("nxt").isNotNull()))
    train = tr.filter(F.col("nxt_sec") < cut)
    test = tr.filter(F.col("nxt_sec") >= cut)
    counts = (train.groupBy("event_type", "nxt")
              .agg(F.count("*").alias("c")))
    pick = W.partitionBy("event_type").orderBy(F.col("c").desc(), "nxt")
    model = (counts.withColumn("rn", F.row_number().over(pick))
             .filter(F.col("rn") == 1)
             .select("event_type", F.col("nxt").alias("pred")))
    return (test.join(F.broadcast(model), "event_type")
            .groupBy("event_type")
            .agg(F.max("pred").alias("predicted_next"),
                 F.count("*").cast("bigint").alias("n_test"),
                 F.sum(F.when(F.col("nxt") == F.col("pred"), 1)
                       .otherwise(0)).cast("bigint").alias("n_hit")))


MARKOV_SQL = f"""
WITH e AS (
  SELECT user_id, event_id, event_type,
         CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) AS sec
  FROM events),
cut AS (SELECT min(sec) + {TRAIN_DAYS} * 86400 AS c FROM e),
tr AS (
  SELECT event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY sec, event_id) AS nxt,
         lead(sec) OVER (PARTITION BY user_id
                         ORDER BY sec, event_id) AS nxt_sec
  FROM e),
counts AS (
  SELECT event_type, nxt, count(*) AS c
  FROM tr CROSS JOIN cut
  WHERE nxt IS NOT NULL AND nxt_sec < c
  GROUP BY 1, 2),
model AS (
  SELECT event_type, nxt AS pred FROM (
    SELECT event_type, nxt,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY c DESC, nxt) AS rn
    FROM counts) WHERE rn = 1)
SELECT event_type, max(pred) AS predicted_next,
       CAST(count(*) AS BIGINT) AS n_test,
       CAST(sum(CASE WHEN nxt = pred THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hit
FROM tr CROSS JOIN cut JOIN model USING (event_type)
WHERE nxt IS NOT NULL AND nxt_sec >= c
GROUP BY event_type
"""


# ``day_funnel_conversion`` — strict-order daily funnel (first view →
# first later click → any later purchase within one user-day) rolled
# up per day-of-week with per-step reach counts.  Distinct from
# events_funnel (user-level lifetime firsts): this is the
# scoped product-analytics read-out.  DOW uses the q91 canon
# (epoch-day mod 7 — engine-proof integer arithmetic).
#
# Scale: the funnel is (user, day)-keyed end to end — three keyed
# joins, no global window.

def day_funnel_conversion(spark: SparkSession, sf: str) -> DataFrame:
    """Strict-order daily funnel per user-day: first view, then first
    click AFTER it, then any purchase after that click — all within
    one (user, calendar-day) scope, rolled up per day-of-week with the
    per-step reach counts.  (A 30-min-session scope is vacuous on this
    corpus — 95% of sessions are single-event — so the daily scope is
    the funnel that actually measures something; events_funnel remains
    the user-LIFETIME variant.)"""
    e = load(spark, sf, "events").select(
        "user_id", F.col("ts").cast("long").alias("sec"), "event_type"
    ).withColumn("day", F.floor(F.col("sec") / 86400).cast("bigint"))
    ud = e.groupBy("user_id", "day").agg(F.count("*").alias("n"))
    v = (e.filter(F.col("event_type") == "view")
         .groupBy("user_id", "day").agg(F.min("sec").alias("v")))
    c = (e.filter(F.col("event_type") == "click")
         .join(v, ["user_id", "day"])
         .filter(F.col("sec") > F.col("v"))
         .groupBy("user_id", "day").agg(F.min("sec").alias("c")))
    p = (e.filter(F.col("event_type") == "purchase")
         .join(c, ["user_id", "day"])
         .filter(F.col("sec") > F.col("c"))
         .groupBy("user_id", "day").agg(F.lit(1).alias("conv")))
    flags = (ud
             .join(v.select("user_id", "day", F.lit(1).alias("fv")),
                   ["user_id", "day"], "left")
             .join(c.select("user_id", "day", F.lit(1).alias("fc")),
                   ["user_id", "day"], "left")
             .join(p, ["user_id", "day"], "left"))
    dow = (F.col("day") % 7).cast("int")
    return (flags.groupBy(dow.alias("dow"))
            .agg(F.count("*").cast("bigint").alias("n_user_days"),
                 F.sum(F.coalesce("fv", F.lit(0))).cast("bigint")
                  .alias("n_reached_view"),
                 F.sum(F.coalesce("fc", F.lit(0))).cast("bigint")
                  .alias("n_reached_click"),
                 F.sum(F.coalesce("conv", F.lit(0))).cast("bigint")
                  .alias("n_converted"))
            .withColumn("rate", F.round(
                F.col("n_converted").cast("double")
                / F.col("n_user_days").cast("double"), 6)))


DAY_FUNNEL_SQL = """
WITH e AS (
  SELECT user_id,
         CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) AS sec,
         CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) // 86400 AS day,
         event_type
  FROM events),
ud AS (SELECT user_id, day, count(*) AS n FROM e GROUP BY 1, 2),
v AS (SELECT user_id, day, min(sec) AS v FROM e
      WHERE event_type = 'view' GROUP BY 1, 2),
c AS (SELECT e.user_id, e.day, min(sec) AS c
      FROM e JOIN v ON e.user_id = v.user_id AND e.day = v.day
      WHERE event_type = 'click' AND sec > v
      GROUP BY 1, 2),
p AS (SELECT DISTINCT e.user_id, e.day, 1 AS conv
      FROM e JOIN c ON e.user_id = c.user_id AND e.day = c.day
      WHERE event_type = 'purchase' AND sec > c.c)
SELECT CAST(day % 7 AS INT) AS dow,
       CAST(count(*) AS BIGINT) AS n_user_days,
       CAST(sum(CASE WHEN v.v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_reached_view,
       CAST(sum(CASE WHEN c.c IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_reached_click,
       CAST(sum(coalesce(conv, 0)) AS BIGINT) AS n_converted,
       round(CAST(sum(coalesce(conv, 0)) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS rate
FROM ud LEFT JOIN v USING (user_id, day)
        LEFT JOIN c USING (user_id, day)
        LEFT JOIN p USING (user_id, day)
GROUP BY 1
"""


# ``session_bounce_rate`` — per session-ENTRY event type: session
# count, single-event ("bounce") count, and bounce rate.  Composes
# the events_sessionize 30-minute-gap canon (operators/events.py) and
# adds the entry-attribution step every web-analytics stack reports;
# the entry event is the session's (ts, event_id)-min row.

def session_bounce_rate(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "events").select("user_id", "ts", "event_id",
                                         "event_type")
    sess = sessionized(e)          # the events.py 30-min canon, shared
    per = (sess.groupBy("user_id", "session_id")
           .agg(F.count("*").alias("n_ev"),
                F.min_by("event_type", F.struct("ts", "event_id"))
                 .alias("entry")))
    return (per.groupBy(F.col("entry").alias("entry_type"))
            .agg(F.count("*").cast("bigint").alias("n_sessions"),
                 F.sum((F.col("n_ev") == 1).cast("int")).cast("bigint")
                  .alias("n_bounces"))
            .select("entry_type", "n_sessions", "n_bounces",
                    F.round(F.col("n_bounces").cast("double")
                            / F.col("n_sessions").cast("double"), 6)
                    .alias("bounce_rate")))


SESSION_BOUNCE_SQL = f"""
WITH g AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
              OR CAST(floor(epoch_us(ts) / 1000000) AS BIGINT)
                 - CAST(floor(epoch_us(lag(ts) OVER w) / 1000000)
                        AS BIGINT) > {SESSION_GAP_MIN * 60}
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, event_type, ts, event_id,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_id
  FROM g),
per AS (
  SELECT user_id, session_id, count(*) AS n_ev FROM s GROUP BY 1, 2),
ent AS (
  SELECT user_id, session_id, event_type AS entry
  FROM (SELECT user_id, session_id, event_type,
               row_number() OVER (PARTITION BY user_id, session_id
                                  ORDER BY ts, event_id) AS rn
        FROM s)
  WHERE rn = 1),
pe AS (SELECT * FROM per JOIN ent USING (user_id, session_id))
SELECT entry AS entry_type,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bounces,
       round(CAST(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS bounce_rate
FROM pe GROUP BY entry
"""


QUERIES = {
    "events_tumbling": events_tumbling,
    "events_sliding": events_sliding,
    "events_sessionize": events_sessionize,
    "events_funnel": events_funnel,
    "events_rollup_two_level": events_rollup_two_level,
    "events_winsorize": events_winsorize,
    "q75_stock_runout": q75_stock_runout,
    "q76_attribution": q76_attribution,
    "markov_backtest": markov_backtest,
    "day_funnel_conversion": day_funnel_conversion,
    "session_bounce_rate": session_bounce_rate,
}

ORACLES = {
    "events_tumbling": EVENTS_TUMBLING_SQL,
    "events_sliding": EVENTS_SLIDING_SQL,
    "events_sessionize": EVENTS_SESSIONIZE_SQL,
    "events_funnel": EVENTS_FUNNEL_SQL,
    "events_rollup_two_level": EVENTS_ROLLUP_SQL,
    "events_winsorize": EVENTS_WINSORIZE_SQL,
    "q75_stock_runout": Q75_SQL,
    "q76_attribution": Q76_SQL,
    "markov_backtest": MARKOV_SQL,
    "day_funnel_conversion": DAY_FUNNEL_SQL,
    "session_bounce_rate": SESSION_BOUNCE_SQL,
}
