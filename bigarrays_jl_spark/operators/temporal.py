"""Time-series regularization over the events table (builder extension,
SURVEY §2C round 8).

``events_gapfill`` turns the irregular event stream into a dense,
regular hourly series per event_type — the resample-and-fill step every
monitoring / feature-engineering pipeline runs before windowed models:

1. aggregate events to (event_type, hour) buckets,
2. generate the COMPLETE hour grid spanning [min(ts), max(ts)] for
   every event type (sequence + explode — no driver loop),
3. left-join observations onto the grid,
4. zero-fill counts; forward-fill (last-observation-carried-forward)
   the hourly mean value.

Scale posture: the grid size is (span-hours × event-type cardinality) —
bounded by the TIME RANGE, not the event count, so the explode and the
per-type ordered window stay tiny no matter how many raw events the
scan feeds the first aggregation (which is a plain partial-agg
groupBy).  The span/type inputs ride in as broadcast 1-row / tiny
relations; nothing here collects to the driver.

Cross-engine parity: the hourly mean is an EXACT decimal sum (order-
independent at any partitioning) divided ONCE as a double — and NOT
rounded: the 2-decimal source values make sum/count land on exact
decimal ties (e.g. 1403.37/24 = 58.47375) where Spark's BigDecimal
round and DuckDB's scaled-multiply round disagree, while the unrounded
quotient of identical doubles is bit-identical.  The carried value is
therefore byte-identical;
DuckDB's ``last_value(x IGNORE NULLS)`` twins Spark's
``F.last(x, ignorenulls=True)`` over the same ROWS frame.

Also: interval concurrency, coverage and overlap joins, the EMA decay
filter, TWAP and customer reorder gaps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from bigarrays_jl_spark.checkpointing import materialize
from bigarrays_jl_spark.operators.events import VQ, _vi
from bigarrays_jl_spark.operators.ordering import (bucketed_quantile_picks,
                                                   distributed_prefix_sum)
from bigarrays_jl_spark.sources.tables import load


def _hourly_grid(spark: SparkSession, sf: str) -> DataFrame:
    """(event_type, h, n, avg_v) over the COMPLETE hourly grid — the
    shared regularization scaffold for both fill strategies.  avg_v is
    deliberately UNROUNDED (see module doc: exact ties) — the decimal
    sum + single division is bit-identical on both engines."""
    e = load(spark, sf, "events")
    # exact-decimal mean canon (cf. relational._davg2): a partitioned
    # double avg differs from DuckDB's sequential one by an ulp and
    # flips the 4th decimal at sf0.1 — decimal sum, ONE double division
    hourly = (e.groupBy(F.date_trunc("hour", F.col("ts")).alias("h"),
                        "event_type")
               .agg(F.count("*").alias("n"),
                    (F.sum(F.col("value").cast("decimal(25,10)"))
                      .cast("double") / F.count("value")).alias("avg_v")))
    span = e.agg(F.date_trunc("hour", F.min("ts")).alias("lo"),
                 F.date_trunc("hour", F.max("ts")).alias("hi"))
    types = e.select("event_type").distinct()
    grid = (types.crossJoin(F.broadcast(span))
            .select("event_type",
                    F.explode(F.sequence(
                        F.col("lo"), F.col("hi"),
                        F.expr("interval 1 hour"))).alias("h")))
    return grid.join(hourly, ["event_type", "h"], "left")


def events_gapfill(spark: SparkSession, sf: str) -> DataFrame:
    filled = _hourly_grid(spark, sf)
    w = (W.partitionBy("event_type").orderBy("h")
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    return filled.select(
        "event_type", F.col("h").alias("hour_start"),
        F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
        F.last("avg_v", ignorenulls=True).over(w).alias("avg_value_ffill"))


EVENTS_GAPFILL_SQL = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, event_type,
         count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(25,10))) AS DOUBLE)
           / count(value) AS avg_v
  FROM events GROUP BY 1, 2),
span AS (SELECT date_trunc('hour', min(ts)) AS lo,
                date_trunc('hour', max(ts)) AS hi
         FROM events),
grid AS (
  SELECT t.event_type, unnest(generate_series(s.lo, s.hi,
                                              INTERVAL 1 HOUR)) AS h
  FROM (SELECT DISTINCT event_type FROM events) t CROSS JOIN span s)
SELECT g.event_type, g.h AS hour_start,
       coalesce(o.n, 0) AS n_events,
       last_value(o.avg_v IGNORE NULLS) OVER (
         PARTITION BY g.event_type ORDER BY g.h
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS avg_value_ffill
FROM grid g LEFT JOIN hourly o
  ON g.event_type = o.event_type AND g.h = o.h
"""


def events_interpolate(spark: SparkSession, sf: str) -> DataFrame:
    """Linear interpolation over the same hourly grid: missing hours get
    the time-weighted blend of the nearest observed value on each side;
    hours before the first / after the last observation stay NULL (no
    extrapolation).

    The interpolation fraction uses epoch SECONDS of whole-hour
    timestamps — exact integers on both engines (Spark cast-to-long ==
    DuckDB floor(epoch_us/1e6), see events.EVENTS_SESSIONIZE_SQL) — so
    the only float work is one blend expression, rounded to 4."""
    filled = _hourly_grid(spark, sf)
    wp = (W.partitionBy("event_type").orderBy("h")
           .rowsBetween(W.unboundedPreceding, W.currentRow))
    wf = (W.partitionBy("event_type").orderBy("h")
           .rowsBetween(W.currentRow, W.unboundedFollowing))
    obs_h = F.when(F.col("avg_v").isNotNull(), F.col("h"))
    pv = F.last("avg_v", ignorenulls=True).over(wp)
    ph = F.last(obs_h, ignorenulls=True).over(wp)
    nv = F.first("avg_v", ignorenulls=True).over(wf)
    nh = F.first(obs_h, ignorenulls=True).over(wf)
    he = F.col("h").cast("long").cast("double")
    pe = ph.cast("long").cast("double")
    ne = nh.cast("long").cast("double")
    # NO round on the blend: rounding a double that can land arbitrarily
    # close to a .00005 tie diverges between engines (each computes the
    # tie test through different scaled intermediates), while the raw
    # blend is one identical IEEE expression tree on exact-integer epoch
    # inputs and 4-decimal endpoints — bit-identical unrounded.
    interp = (F.when(F.col("avg_v").isNotNull(), F.col("avg_v"))
               .when(pv.isNotNull() & nv.isNotNull(),
                     pv + (nv - pv) * ((he - pe) / (ne - pe))))
    return filled.select(
        "event_type", F.col("h").alias("hour_start"),
        F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
        interp.alias("avg_value_interp"))


EVENTS_INTERPOLATE_SQL = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, event_type,
         count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(25,10))) AS DOUBLE)
           / count(value) AS avg_v
  FROM events GROUP BY 1, 2),
span AS (SELECT date_trunc('hour', min(ts)) AS lo,
                date_trunc('hour', max(ts)) AS hi
         FROM events),
grid AS (
  SELECT t.event_type, unnest(generate_series(s.lo, s.hi,
                                              INTERVAL 1 HOUR)) AS h
  FROM (SELECT DISTINCT event_type FROM events) t CROSS JOIN span s),
filled AS (
  SELECT g.event_type, g.h, o.n, o.avg_v
  FROM grid g LEFT JOIN hourly o
    ON g.event_type = o.event_type AND g.h = o.h),
neighbored AS (
  SELECT event_type, h, n, avg_v,
         last_value(avg_v IGNORE NULLS) OVER wp AS pv,
         last_value(CASE WHEN avg_v IS NOT NULL THEN h END IGNORE NULLS)
           OVER wp AS ph,
         first_value(avg_v IGNORE NULLS) OVER wf AS nv,
         first_value(CASE WHEN avg_v IS NOT NULL THEN h END IGNORE NULLS)
           OVER wf AS nh
  FROM filled
  WINDOW
    wp AS (PARTITION BY event_type ORDER BY h
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    wf AS (PARTITION BY event_type ORDER BY h
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
SELECT event_type, h AS hour_start, coalesce(n, 0) AS n_events,
       CASE WHEN avg_v IS NOT NULL THEN avg_v
            WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
              pv + (nv - pv)
                   * ((CAST(floor(epoch_us(h) / 1000000) AS DOUBLE)
                       - CAST(floor(epoch_us(ph) / 1000000) AS DOUBLE))
                      / (CAST(floor(epoch_us(nh) / 1000000) AS DOUBLE)
                         - CAST(floor(epoch_us(ph) / 1000000) AS DOUBLE)))
       END AS avg_value_interp
FROM neighbored
"""


# q63: the interval-overlap/sweep-line class (max concurrency) — +1/-1
# boundary points, a per-key running sum, never an interval self-join
# (which is O(n²) per key and unbounded state at 100 TB).

# --------------------------------------------------------------------------
# q63 — max concurrent activity per user (sweep line).  Each event
# opens an interval [ts, ts + clamp(value, 1..3600) seconds); the
# classic question "how many were active at once" is answered WITHOUT
# an interval self-join: every interval contributes a +1 point at its
# start and a -1 at its end, and a per-user running sum over the
# ordered points IS the concurrency curve; its max is the answer.
#
# Determinism: ORDER BY (t, delta) with the default peers-inclusive
# RANGE frame — ends (-1) sort before starts (+1) at the same instant
# (touching intervals don't overlap), and peer rows share one
# cumulative value, so engine-side tie order can't leak.  Epoch
# seconds follow the repo canon (cast long == floor(epoch_us/1e6)).
#
# Scale shape: state is per-user and the window is user-partitioned —
# 2 rows per event, one shuffle, no join.  An interval self-join twin
# would be O(events² per user); this is O(events log events).
# --------------------------------------------------------------------------

def q63_interval_concurrency(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events")
    s = F.col("ts").cast("long")
    dur = F.floor(F.least(F.greatest(F.coalesce(F.col("value"), F.lit(1.0)),
                                     F.lit(1.0)),
                          F.lit(3600.0))).cast("long")
    iv = ev.select("user_id", s.alias("s"), (s + dur).alias("e"))
    pts = (iv.select("user_id", F.col("s").alias("t"),
                     F.lit(1).alias("delta"))
           .unionAll(iv.select("user_id", F.col("e").alias("t"),
                               F.lit(-1).alias("delta"))))
    w = W.partitionBy("user_id").orderBy("t", "delta")
    run = pts.withColumn("cc", F.sum("delta").over(w))
    mx = run.groupBy("user_id").agg(F.max("cc").alias("max_cc"))
    return mx.groupBy("max_cc").agg(F.count("*").alias("n_users"))


Q63_SQL = """
WITH iv AS (
  SELECT user_id,
         CAST(floor(epoch_us(ts)/1000000) AS BIGINT) AS s,
         CAST(floor(epoch_us(ts)/1000000) AS BIGINT)
           + CAST(floor(least(greatest(coalesce(value, 1.0), 1.0), 3600.0))
                  AS BIGINT) AS e
  FROM events),
pts AS (
  SELECT user_id, s AS t, 1 AS delta FROM iv
  UNION ALL
  SELECT user_id, e AS t, -1 AS delta FROM iv),
run AS (
  SELECT user_id,
         sum(delta) OVER (PARTITION BY user_id ORDER BY t, delta) AS cc
  FROM pts),
mx AS (SELECT user_id, CAST(max(cc) AS BIGINT) AS max_cc
       FROM run GROUP BY user_id)
SELECT max_cc, count(*) AS n_users FROM mx GROUP BY max_cc
"""


# q69_interval_coverage: union length of overlapping per-user activity
# intervals (each event opens a 30-minute session window) — the
# gaps-and-islands merge: a running max of interval ends detects
# island starts, islands aggregate to [min start, max end].  The
# classic "total active seconds" question answered in O(n log n) with
# per-key windows instead of an O(n²) interval self-join.

SESSION_GAP_S = 1800


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
    w_prev = (W.partitionBy("user_id")
              .orderBy("t", "event_id")
              .rowsBetween(W.unboundedPreceding, -1))
    w_run = (W.partitionBy("user_id")
             .orderBy("t", "event_id")
             .rowsBetween(W.unboundedPreceding, W.currentRow))
    iv = (ev.withColumn("e", F.col("t") + SESSION_GAP_S)
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
           + {SESSION_GAP_S} AS e
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


EMA_TAPS = 8            # dyadic EMA window (alpha = 1/2)


# q73_ema_decay: per-user exponential moving average (dyadic alpha=1/2
# over the last 8 events) evaluated at each user's final event — the
# feature-store "recent activity level" smoother.  The bounded frame
# makes EMA a windowed weighted sum: 8 lag() taps with power-of-two
# integer weights, so the whole state is exact int64 and the only
# float op is one closing division.

# --------------------------------------------------------------------------
# q73_ema_decay
# --------------------------------------------------------------------------


def q73_ema_decay(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "events").select(
        "user_id", "ts", "event_id", _vi().alias("vi"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    num = None
    den = None
    for j in range(EMA_TAPS):
        tap = F.lag("vi", j).over(w)
        wt = 1 << (EMA_TAPS - 1 - j)
        n_j = F.coalesce(tap * wt, F.lit(0))
        d_j = F.when(tap.isNotNull(), F.lit(wt)).otherwise(F.lit(0))
        num = n_j if num is None else num + n_j
        den = d_j if den is None else den + d_j
    wr = W.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    return (e.withColumn("num", num).withColumn("den", den)
            .withColumn("rn", F.row_number().over(wr))
            .filter(F.col("rn") == 1)
            .select("user_id",
                    (F.col("num").cast("double")
                     / F.col("den").cast("double") / VQ).alias("ema")))


def _ema_sql() -> str:
    num = " + ".join(
        f"coalesce(lag(vi, {j}) OVER w * {1 << (EMA_TAPS - 1 - j)}, 0)"
        for j in range(EMA_TAPS))
    den = " + ".join(
        f"CASE WHEN lag(vi, {j}) OVER w IS NOT NULL"
        f" THEN {1 << (EMA_TAPS - 1 - j)} ELSE 0 END"
        for j in range(EMA_TAPS))
    return f"""
WITH e AS (
  SELECT user_id, ts, event_id,
         CAST(round(CAST(value AS DOUBLE) * {VQ}) AS BIGINT) AS vi
  FROM events),
t AS (
  SELECT user_id, ts, event_id, {num} AS num, {den} AS den
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT user_id,
       CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / {VQ} AS ema
FROM t
QUALIFY row_number() OVER (PARTITION BY user_id
                           ORDER BY ts DESC, event_id DESC) = 1
"""


Q73_SQL = _ema_sql()


BURST_PAD_S = 300


# ``interval_overlap_join`` — interval × interval overlap join:
# per-user activity sessions (30-min-gap sessionization) against
# global error-burst windows (error events padded ±0/＋300 s and
# merged).  Distinct from q22 (point-in-range) and q63 (self
# concurrency): two independently-derived interval SETS joined on
# s₁ < e₂ ∧ s₂ < e₁.
#
# Scale posture: the overlap join broadcasts the burst table (the
# alert-scale side — ~2 % of events, merged smaller) into the session
# stream as a broadcast range join, and the burst merge windows over
# the error SUBSET (at 100 TB that side shards by coarse time bins
# first — SCALE.md).

def interval_overlap_join(spark: SparkSession, sf: str) -> DataFrame:
    """Per user: how many merged error-burst windows overlapped the
    user's activity sessions, and for how many total seconds.

    Sessions: per-user 30-min-gap sessionization (user-keyed window —
    co-partitioned, never global).  Bursts: error events padded to
    [sec, sec+PAD] and merged into islands WITHOUT the classic global
    cummax window (the error subset of a 100 TB events table is still
    corpus-proportional).  Because every padded interval has the SAME
    length, the running max of interval ends degenerates to "previous
    distinct error second + PAD", so an island START is exactly a
    distinct error second with no other error second in [s−PAD, s) —
    detectable with a bucketed self-anti-join (bucket width PAD, the
    q29 two-bucket cover; linear, never a window).  Island ids are a
    distributed_prefix_sum of the start flags (ordering.py, no
    SinglePartition), and the session×burst overlap join is grid-
    bucketed (both interval sets explode onto a coarse day grid and
    join on bucket equality + the exact residual s₁<e₂ ∧ s₂<e₁,
    deduped per pair) instead of broadcasting an unboundedly growing
    burst table.  Overlap seconds are pure integer arithmetic."""
    ev = load(spark, sf, "events").select(
        "user_id", "event_id",
        F.col("ts").cast("long").alias("sec"),
        "event_type")

    uw = W.partitionBy("user_id").orderBy("sec", "event_id")
    gap = (F.col("sec") - F.lag("sec").over(uw) > SESSION_GAP_S)
    sess = (ev
            .withColumn("new_s", F.when(gap, 1).otherwise(0))
            .withColumn("sid", F.sum("new_s").over(
                uw.rowsBetween(W.unboundedPreceding, 0)))
            .groupBy("user_id", "sid")
            .agg(F.min("sec").alias("s_start"),
                 F.max("sec").alias("s_end")))

    # islands over DISTINCT error seconds: duplicates at one second
    # never start a new island and never move min/max, so the merge is
    # invariant to collapsing them first (one shuffle, much smaller).
    errs = (ev.filter(F.col("event_type") == "error")
              .select("sec").distinct())
    tgt = errs.withColumn("bk", F.floor(F.col("sec") / BURST_PAD_S)
                          .cast("bigint"))
    # any predecessor s2 ∈ [s−PAD, s) lives in bucket floor(s/PAD) or
    # floor(s/PAD)−1, so exploding s2 to {its bucket, its bucket + 1}
    # and joining on the target's bucket covers all candidates
    pred = (errs.select(F.col("sec").alias("s2"))
            .withColumn("bk", F.explode(F.array(
                F.floor(F.col("s2") / BURST_PAD_S).cast("bigint"),
                F.floor(F.col("s2") / BURST_PAD_S).cast("bigint") + 1))))
    starts = (tgt.join(pred,
                       (tgt["bk"] == pred["bk"])
                       & (F.col("s2") >= F.col("sec") - BURST_PAD_S)
                       & (F.col("s2") < F.col("sec")),
                       "left_anti")
              .select("sec", F.lit(1).alias("st")))
    flagged = (errs.join(starts, "sec", "left")
               .select("sec", F.coalesce("st", F.lit(0)).alias("st")))
    ranked, _n_islands = distributed_prefix_sum(
        spark, flagged, F.col("st"), "sec", "sec", out="bid")
    bursts = (ranked.groupBy("bid")
              .agg(F.min("sec").alias("b_start"),
                   (F.max("sec") + BURST_PAD_S).alias("b_end")))

    return overlap_aggregate(sess.select("user_id", "s_start", "s_end"),
                             bursts.select("b_start", "b_end"))


def overlap_aggregate(sess: DataFrame, bursts: DataFrame) -> DataFrame:
    """Grid-bucketed session×burst overlap join + per-user rollup —
    shared by the batch operator above and its streaming twin
    (streaming/intervals.py), so both compute the identical final
    stage over (user_id, s_start, s_end) sessions and (b_start, b_end)
    bursts.  Bursts are disjoint islands, so b_start identifies a
    burst; sessions are disjoint per user, so (user_id, s_start)
    identifies a session — the grid-replica dedupe and the distinct
    burst count need no surrogate ids."""
    grid = 86400  # coarse overlap grid: ≤ interval_days + 1 replicas
    sg = sess.withColumn("gb", F.explode(F.sequence(
        F.floor(F.col("s_start") / grid).cast("bigint"),
        F.floor(F.col("s_end") / grid).cast("bigint"))))
    bg = bursts.withColumn("gb", F.explode(F.sequence(
        F.floor(F.col("b_start") / grid).cast("bigint"),
        F.floor(F.col("b_end") / grid).cast("bigint"))))
    pairs = (sg.join(bg, "gb")
             .filter((F.col("s_start") < F.col("b_end"))
                     & (F.col("b_start") < F.col("s_end")))
             .select("user_id", "s_start", "s_end", "b_start", "b_end")
             .distinct())
    overlap = (F.least("s_end", "b_end")
               - F.greatest("s_start", "b_start"))
    return (pairs.groupBy("user_id")
            .agg(F.countDistinct("b_start").cast("bigint")
                 .alias("n_bursts_hit"),
                 F.sum(overlap).cast("bigint").alias("overlap_secs")))


INTERVAL_OVERLAP_SQL = f"""
WITH ev AS (
  SELECT user_id, event_id,
         CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) AS sec,
         event_type
  FROM events),
s0 AS (
  SELECT user_id, sec, event_id,
         CASE WHEN sec - lag(sec) OVER (PARTITION BY user_id
                                        ORDER BY sec, event_id)
                   > {SESSION_GAP_S} THEN 1 ELSE 0 END AS new_s
  FROM ev),
s1 AS (
  SELECT user_id,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY sec, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid,
         sec
  FROM s0),
sess AS (
  SELECT user_id, sid, min(sec) AS s_start, max(sec) AS s_end
  FROM s1 GROUP BY 1, 2),
err AS (
  SELECT sec, event_id, sec + {BURST_PAD_S} AS e_end
  FROM ev WHERE event_type = 'error'),
b0 AS (
  SELECT sec, e_end,
         CASE WHEN max(e_end) OVER (ORDER BY sec, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING) IS NULL
                   OR sec > max(e_end) OVER (ORDER BY sec, event_id
                                             ROWS BETWEEN UNBOUNDED
                                             PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_b,
         event_id
  FROM err),
b1 AS (
  SELECT sec, e_end,
         sum(new_b) OVER (ORDER BY sec, event_id
                          ROWS UNBOUNDED PRECEDING) AS bid
  FROM b0),
bursts AS (
  SELECT bid, min(sec) AS b_start, max(e_end) AS b_end
  FROM b1 GROUP BY 1)
SELECT user_id,
       CAST(count(DISTINCT bid) AS BIGINT) AS n_bursts_hit,
       CAST(sum(least(s_end, b_end) - greatest(s_start, b_start))
            AS BIGINT) AS overlap_secs
FROM sess JOIN bursts
  ON s_start < b_end AND b_start < s_end
GROUP BY user_id
"""


# ``events_twap`` — time-weighted average value per event type: each
# observation holds until the next event of that type (step
# interpolation), weight = holding seconds from a lead() window, TWAP
# = Σ value·dur / Σ dur with the 1e-6 fixed-point value canon — exact
# integers until one closing division.  The financial/ops aggregate
# plain AVG gets wrong whenever sampling is irregular.
#
# Scale: twap is one type-keyed lead window + a map-side fold.

def events_twap(spark: SparkSession, sf: str) -> DataFrame:
    """Per event type: time-weighted average value under step-hold
    interpolation — each value holds until the type's next event; the
    last observation carries no weight (no horizon assumption)."""
    e = load(spark, sf, "events").select(
        "event_type", "event_id",
        F.col("ts").cast("long").alias("sec"),
        _vi().alias("vi"))
    w = W.partitionBy("event_type").orderBy("sec", "event_id")
    held = (e.withColumn("nxt", F.lead("sec").over(w))
             .filter(F.col("nxt").isNotNull())
             .select("event_type", "vi",
                     (F.col("nxt") - F.col("sec")).alias("dur")))
    return (held.groupBy("event_type")
            .agg(F.count("*").cast("bigint").alias("n_held"),
                 F.sum("dur").cast("bigint").alias("total_secs"),
                 (F.sum(F.col("vi") * F.col("dur")).cast("double")
                  / (F.sum("dur") * VQ).cast("double")).alias("twap")))


EVENTS_TWAP_SQL = f"""
WITH e AS (
  SELECT event_type, event_id,
         CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) AS sec,
         CAST(round(CAST(value AS DOUBLE) * {VQ}) AS BIGINT) AS vi
  FROM events),
held AS (
  SELECT event_type, vi,
         lead(sec) OVER (PARTITION BY event_type
                         ORDER BY sec, event_id) - sec AS dur
  FROM e)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_held,
       CAST(sum(dur) AS BIGINT) AS total_secs,
       CAST(sum(vi * dur) AS DOUBLE)
         / CAST(sum(dur) * {VQ} AS DOUBLE) AS twap
FROM held WHERE dur IS NOT NULL
GROUP BY event_type
"""


# ``customer_reorder_gaps`` — P50/P90 days between a customer's
# consecutive orders, per market segment, through
# ``ordering.bucketed_quantile_pick`` (the repo's one quantile
# implementation).  The repurchase-latency readout behind inventory
# and CRM planning; gaps come from one customer-keyed lag window.

def customer_reorder_gaps(spark: SparkSession, sf: str) -> DataFrame:
    o = load(spark, sf, "orders").select(
        "o_custkey",
        F.datediff(F.col("o_orderdate").cast("date"),
                   F.lit("1970-01-01").cast("date"))
         .cast("bigint").alias("day"))
    w = W.partitionBy("o_custkey").orderBy("day")
    gaps = (o.withColumn("prev", F.lag("day").over(w))
            .filter(F.col("prev").isNotNull())
            .select("o_custkey", (F.col("day") - F.col("prev"))
                    .alias("gap_days")))
    seg = load(spark, sf, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment")
    # without it `customer_reorder_gaps` runs 4 parquet scans, not 2
    hist = materialize(
        gaps.join(seg, "o_custkey")
            .groupBy("c_mktsegment", "gap_days")
            .agg(F.count("*").alias("n")),
        eager=False)
    # both fractions ride ONE shared pick chain (r18: per-pick chains
    # re-ran the bucket fold + checkpoint per fraction)
    picks = bucketed_quantile_picks(
        hist, "c_mktsegment", "gap_days", "n",
        [(1, 2, "p50_gap_days"), (9, 10, "p90_gap_days")])
    tot = (hist.groupBy("c_mktsegment")
           .agg(F.sum("n").cast("bigint").alias("n_gaps")))
    return (tot.join(picks, "c_mktsegment")
            .select("c_mktsegment", "n_gaps",
                    F.col("p50_gap_days").cast("bigint")
                    .alias("p50_gap_days"),
                    F.col("p90_gap_days").cast("bigint")
                    .alias("p90_gap_days")))


REORDER_GAPS_SQL = """
WITH o AS (
  SELECT o_custkey,
         CAST(date_diff('day', DATE '1970-01-01',
                        CAST(o_orderdate AS DATE)) AS BIGINT) AS day
  FROM orders),
gaps AS (
  SELECT o_custkey,
         day - lag(day) OVER (PARTITION BY o_custkey ORDER BY day)
           AS gap_days
  FROM o),
h AS (
  SELECT c_mktsegment, gap_days, count(*) AS n
  FROM gaps JOIN customer ON o_custkey = c_custkey
  WHERE gap_days IS NOT NULL
  GROUP BY 1, 2),
c AS (
  SELECT c_mktsegment, gap_days, n,
         sum(n) OVER (PARTITION BY c_mktsegment ORDER BY gap_days
                      ROWS UNBOUNDED PRECEDING) AS cum,
         sum(n) OVER (PARTITION BY c_mktsegment) AS tot
  FROM h)
SELECT c_mktsegment,
       CAST(max(tot) AS BIGINT) AS n_gaps,
       CAST(min(CASE WHEN 2 * cum >= tot THEN gap_days END) AS BIGINT)
         AS p50_gap_days,
       CAST(min(CASE WHEN 10 * cum >= 9 * tot THEN gap_days END)
            AS BIGINT) AS p90_gap_days
FROM c GROUP BY c_mktsegment
"""


QUERIES = {
    "events_gapfill": events_gapfill,
    "events_interpolate": events_interpolate,
    "q63_interval_concurrency": q63_interval_concurrency,
    "q69_interval_coverage": q69_interval_coverage,
    "q73_ema_decay": q73_ema_decay,
    "interval_overlap_join": interval_overlap_join,
    "events_twap": events_twap,
    "customer_reorder_gaps": customer_reorder_gaps,
}

ORACLES = {
    "events_gapfill": EVENTS_GAPFILL_SQL,
    "events_interpolate": EVENTS_INTERPOLATE_SQL,
    "q63_interval_concurrency": Q63_SQL,
    "q69_interval_coverage": Q69_SQL,
    "q73_ema_decay": Q73_SQL,
    "interval_overlap_join": INTERVAL_OVERLAP_SQL,
    "events_twap": EVENTS_TWAP_SQL,
    "customer_reorder_gaps": REORDER_GAPS_SQL,
}
