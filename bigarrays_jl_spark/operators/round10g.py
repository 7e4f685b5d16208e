"""Round-10 seventh batch: five computation classes the registry still
lacked — decay smoothing, weighted shortest paths, a genuinely
non-associative sequential scan, marketing attribution, and grouped
least-squares regression.

- q73_ema_decay: per-user exponential moving average (dyadic alpha=1/2
  over the last 8 events) evaluated at each user's final event — the
  feature-store "recent activity level" smoother.  The bounded frame
  makes EMA a windowed weighted sum: 8 lag() taps with power-of-two
  integer weights, so the whole state is exact int64 and the only
  float op is one closing division.
- graph_sssp_lsh: single-source WEIGHTED shortest paths over the LSH
  similarity graph (weight = quantized cosine distance + 1) —
  Bellman-Ford frontier relaxation, the weighted sibling of
  graph_hops_lsh's unit-weight BFS: nd(dst) = min(dist(src) + w).
- q75_stock_runout: clamped running inventory b_n = max(0, b_{n-1} +
  delta_n) — the sequential-scan operator class.  The ZERO-floor
  special case admits a window closed form (b_n = prefix_n − min(0,
  running-min(prefix)); ``q75_windowed`` implements it and pytest pins
  exact equality), but the general business recurrence — two-sided
  clamps (capacity caps), conditional refill rules — has no such
  identity, so the REGISTERED operator is the honest tier-(b) shape:
  an Arrow-batched applyInPandas per-user ordered scan — state is
  one integer per user, groups are independent, so the operator
  parallelizes across users exactly like any keyed shuffle.  The
  DuckDB twin is a genuine recursive CTE walking rn -> rn+1.
- q76_attribution: linear multi-touch revenue attribution — every
  purchase's cents split equally across the user's views in the
  preceding 24 h, cent-exactly via the largest-remainder discipline of
  q66_allocation (floor base + 1-cent bumps by recency rank), rolled
  up by the touch event's channel.  Σ(attributed) == Σ(covered
  purchase cents) by construction, pytest-asserted.
- q77_regression_slope: per-event-type ordinary-least-squares fit of
  value against time — the five raw moments (n, Σx, Σy, Σx², Σxy)
  accumulated exactly (int64 products, DECIMAL(38,0) sums), then
  slope/intercept closed-form once in doubles.

Float parity: every value enters as the tie-free 1e-6 (or cents 1e-2)
fixed point (a dyadic double times 10^k can never land exactly on .5 —
the emb_covariance canon); epoch seconds use the repo canon
(cast(ts as long) == floor(epoch_us/1e6)); each query performs its
floating-point arithmetic once, on exact integer aggregates, as an
identical expression tree on both engines, and emits UNROUNDED doubles
(never rounding tie-prone quotients).

Scale shapes (SCALE.md "Round-10 batch 7"): q73 is one user-keyed
window, state 8 taps/row; sssp shuffles the edge table per round,
never the corpus; q75 shuffles each user's moves once (state O(1) per
user inside the UDF); q76's only join is user-keyed with a 24 h range
predicate (never a cross join; the per-user window bounds candidates);
q77 is a pure map-side moment fold (5 numbers per group).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from bigarrays_jl_spark.checkpointing import materialize
from bigarrays_jl_spark.operators.graph_lsh import _LSH_EDGES_CTE
from bigarrays_jl_spark.operators.similarity import sim_lsh_pairs
from bigarrays_jl_spark.sources.tables import load

VQ = 1_000_000          # 1e-6 fixed point for event `value`
EMA_TAPS = 8            # dyadic EMA window (alpha = 1/2)
SSSP_ROUNDS = 4         # Bellman-Ford relaxation rounds (graph_hops canon)
EPOCH_2024 = 1_704_067_200      # 2024-01-01 00:00:00 UTC, x-origin for OLS
ATTR_WINDOW_S = 86_400          # attribution lookback (24 h)


def _vi(col: str = "value"):
    """Tie-free 1e-6 fixed-point quantization of a double column."""
    return F.round(F.col(col).cast("double") * VQ).cast("bigint")


def _ss(col: str = "ts"):
    """Epoch-seconds canon (== DuckDB floor(epoch_us/1e6))."""
    return F.col(col).cast("long")


# --------------------------------------------------------------------------
# q73_ema_decay
# --------------------------------------------------------------------------


def q73_ema_decay(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "events").select(
        "user_id", "ts", "event_id", _vi().alias("vi"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    num = None
    den = None
    for j in range(EMA_TAPS):
        tap = F.lag("vi", j).over(w)
        wt = 1 << (EMA_TAPS - 1 - j)
        n_j = F.coalesce(tap * wt, F.lit(0))
        d_j = F.when(tap.isNotNull(), F.lit(wt)).otherwise(F.lit(0))
        num = n_j if num is None else num + n_j
        den = d_j if den is None else den + d_j
    wr = Window.partitionBy("user_id").orderBy(
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


# --------------------------------------------------------------------------
# graph_sssp_lsh — weight = round((1 - cosine)*1e6) + 1; `cosine` is
# the pair table's 6-digit-rounded value (already hash-parity across
# engines), so the weight is the same exact integer on both sides.
# --------------------------------------------------------------------------


def graph_sssp_lsh(spark: SparkSession, sf: str) -> DataFrame:
    p = sim_lsh_pairs(spark, sf).select(
        "vec_a", "vec_b",
        (F.round((F.lit(1.0) - F.col("cosine")) * VQ).cast("bigint")
         + 1).alias("w"))
    edges = materialize(
        p.select(F.col("vec_a").alias("src"),
                 F.col("vec_b").alias("dst"), "w")
        .unionAll(p.select(F.col("vec_b").alias("src"),
                           F.col("vec_a").alias("dst"), "w")), eager=True)
    nodes = edges.select(F.col("src").alias("vec_id")).distinct()
    seed = nodes.agg(F.min("vec_id").alias("s"))
    d = (nodes.crossJoin(F.broadcast(seed))
         .select("vec_id",
                 F.when(F.col("vec_id") == F.col("s"), F.lit(0))
                  .cast("bigint").alias("dist")))
    for _ in range(SSSP_ROUNDS):
        fr = (d.filter(F.col("dist").isNotNull())
              .select(F.col("vec_id").alias("f_id"),
                      F.col("dist").alias("f_d")))
        # one vec_id shuffle per round: union + grouped min replaces
        # the groupBy(dst) + left-join pair (graph_hops_lsh idiom; min
        # ignores nulls, so unreached nodes keep dist NULL)
        relax = (edges.join(fr, edges.src == fr.f_id)
                 .select(F.col("dst").alias("vec_id"),
                         (F.col("f_d") + F.col("w")).alias("dist")))
        d = materialize(
            d.select("vec_id", "dist").union(relax)
            .groupBy("vec_id").agg(F.min("dist").alias("dist")), eager=False)
    return d.select("vec_id",
                    F.coalesce("dist", F.lit(-1)).alias("sssp_dist"))


def _sssp_sql() -> str:
    steps = []
    prev = "d0"
    for k in range(1, SSSP_ROUNDS + 1):
        steps.append(f"""
d{k} AS MATERIALIZED (
  SELECT d.vec_id,
         CASE WHEN d.dist IS NULL THEN c.nd
              WHEN c.nd IS NULL THEN d.dist
              ELSE least(d.dist, c.nd) END AS dist
  FROM {prev} d LEFT JOIN (
    SELECT e.dst AS vec_id, min(d2.dist + e.w) AS nd
    FROM ew e JOIN {prev} d2 ON e.src = d2.vec_id
    WHERE d2.dist IS NOT NULL GROUP BY 1) c USING (vec_id))""")
        prev = f"d{k}"
    return f"""
WITH {_LSH_EDGES_CTE},
ew AS MATERIALIZED (
  SELECT vec_a AS src, vec_b AS dst,
         CAST(round((1.0 - cosine) * {VQ}) AS BIGINT) + 1 AS w
  FROM pairs
  UNION ALL
  SELECT vec_b AS src, vec_a AS dst,
         CAST(round((1.0 - cosine) * {VQ}) AS BIGINT) + 1 AS w
  FROM pairs),
nodes AS (SELECT DISTINCT src AS vec_id FROM ew),
d0 AS (
  SELECT vec_id,
         CASE WHEN vec_id = (SELECT min(vec_id) FROM nodes)
              THEN CAST(0 AS BIGINT) END AS dist
  FROM nodes),{",".join(steps)}
SELECT vec_id, coalesce(dist, -1) AS sssp_dist FROM {prev}
"""


GRAPH_SSSP_SQL = _sssp_sql()


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
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cur = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = w.rowsBetween(Window.unboundedPreceding, -1)
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
    wp = Window.partitionBy("p_id")
    wr = Window.partitionBy("p_id").orderBy(
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


QUERIES = {
    "q73_ema_decay": q73_ema_decay,
    "graph_sssp_lsh": graph_sssp_lsh,
    "q75_stock_runout": q75_stock_runout,
    "q76_attribution": q76_attribution,
    "q77_regression_slope": q77_regression_slope,
}

ORACLES = {
    "q73_ema_decay": Q73_SQL,
    "graph_sssp_lsh": GRAPH_SSSP_SQL,
    "q75_stock_runout": Q75_SQL,
    "q76_attribution": Q76_SQL,
    "q77_regression_slope": Q77_SQL,
}
