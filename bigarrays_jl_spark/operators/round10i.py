"""Round-10 ninth batch: community detection, hypothesis testing,
experimentation variance reduction, and the two-volume overlay.

- graph_lpa_lsh: synchronous label-propagation community detection
  over the LSH similarity graph — each round every node adopts its
  neighbors' modal label (ties to the smallest label, the
  deterministic canon), bounded rounds like the package's other
  iterative graph ops.  Completes the graph family: components answer
  "connected?", PageRank "important?", LPA "which community?".
- q80_welch_ttest: Welch's unequal-variance t-test between the two
  user-parity arms per event type — the A/B-test read-out.  ONE
  conditional-aggregation pass collects both arms' exact moments
  (n, Σy, Σy² in DECIMAL(38,0) / HUGEINT); t statistic and
  Welch–Satterthwaite degrees of freedom close in doubles once.
- q81_cuped: CUPED variance-reduced experiment means — the industry-
  standard adjustment Y' = Y − θ(X − E[X]) with θ = cov(X,Y)/var(X)
  from a pre-experiment covariate (view spend) against the outcome
  (purchase spend).  Per-user rollup (one keyed shuffle), then the
  θ moments and per-arm means read the SAME cached rollup; all
  products exact (DECIMAL(38,0) / HUGEINT), closed forms once.
- volume_roi_stats: per-segment intensity statistics — the microscopy
  staple "mean/min/max image intensity under every segmentation
  label", the reference-adjacent two-volume overlay (the reference
  stores image AND segmentation layers, ref src/Infos.jl:73-86, but
  can only cut each to the client separately).  The two chunk tables
  join on the SHARED chunk key (both volumes use one lattice), one
  Arrow UDF decodes the aligned pair and reduces per-label partials
  (n, Σ, min, max) INSIDE the chunk — the only shuffles are the
  chunk-key join and the label-keyed fold, never voxels.

Float parity: moments are exact integers; every mean/variance/t/θ is
one identical double expression tree on both engines, emitted
UNROUNDED (tie-prone quotients are never rounded — repo canon).

Scale shapes (SCALE.md "Round-10 batch 9"): LPA shuffles the edge
table once per round (join + count + per-dst pick); the t-test is a
pure map-side conditional moment fold (6 numbers per group); CUPED is
one user-keyed shuffle + two reads of the cached per-user rollup
(θ-moments broadcast back); the ROI overlay joins chunk tables on
their id (co-partitioned/bucketed layouts make it shuffle-free) and
reduces label partials chunk-locally.
"""
from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from bigarrays_jl_spark import indexes as ix
from bigarrays_jl_spark.checkpointing import materialize
from bigarrays_jl_spark.operators.advanced import demo_volume
from bigarrays_jl_spark.operators.graph_lsh import (_LSH_EDGES_CTE,
                                                    _lsh_edges)
from bigarrays_jl_spark.operators.volume_seg import (SEG_BLOCK,
                                                     demo_seg_volume)
from bigarrays_jl_spark.sources.tables import load
from bigarrays_jl_spark.volume import _on_workers

VQ = 1_000_000
LPA_ROUNDS = 3
ROI_BOX = ((4, 60), (8, 56), (0, 64))


# --------------------------------------------------------------------------
# graph_lpa_lsh
# --------------------------------------------------------------------------


def graph_lpa_lsh(spark: SparkSession, sf: str) -> DataFrame:
    edges = _lsh_edges(spark, sf)
    labels = (edges.select(F.col("src").alias("vec_id")).distinct()
              .withColumn("label", F.col("vec_id")))
    for _ in range(LPA_ROUNDS):
        cnt = (edges.join(labels, edges.src == labels.vec_id)
               .groupBy("dst", "label").agg(F.count("*").alias("cnt")))
        # the winner pick is a grouped min over (-cnt, label) structs —
        # lexicographic struct order IS the old window's (cnt DESC,
        # label ASC) sort, so the pick is identical while the sort-
        # based Window (exchange + per-key sort + rn filter) becomes a
        # map-side-combinable aggregate
        labels = materialize(
            cnt.groupBy("dst")
            .agg(F.min(F.struct((-F.col("cnt")).alias("nc"),
                                F.col("label").alias("l")))
                  .alias("p"))
            .select(F.col("dst").alias("vec_id"),
                    F.col("p.l").alias("label")), eager=False)
    return (labels.groupBy(F.col("label").alias("community"))
            .agg(F.count("*").cast("bigint").alias("n_members"),
                 F.min("vec_id").alias("min_member")))


def _lpa_sql() -> str:
    steps = []
    prev = "l0"
    for k in range(1, LPA_ROUNDS + 1):
        steps.append(f"""
l{k} AS MATERIALIZED (
  SELECT dst AS vec_id, label FROM (
    SELECT e.dst, l.label, count(*) AS cnt,
           row_number() OVER (PARTITION BY e.dst
                              ORDER BY count(*) DESC, l.label) AS rn
    FROM edges e JOIN {prev} l ON e.src = l.vec_id
    GROUP BY e.dst, l.label)
  WHERE rn = 1)""")
        prev = f"l{k}"
    return f"""
WITH {_LSH_EDGES_CTE},
l0 AS (SELECT DISTINCT src AS vec_id, src AS label FROM edges),{",".join(steps)}
SELECT label AS community, count(*) AS n_members,
       min(vec_id) AS min_member
FROM {prev} GROUP BY 1
"""


GRAPH_LPA_SQL = _lpa_sql()


# --------------------------------------------------------------------------
# q80_welch_ttest
# --------------------------------------------------------------------------


def q80_welch_ttest(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "events").select(
        "event_type", (F.col("user_id") % 2).alias("arm"),
        F.round(F.col("value").cast("double") * VQ)
         .cast("bigint").alias("y"))
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


# --------------------------------------------------------------------------
# q81_cuped
# --------------------------------------------------------------------------


def q81_cuped(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "events").select(
        "user_id", "event_type",
        F.round(F.col("value").cast("double") * VQ)
         .cast("bigint").alias("vi"))
    u = materialize(
        e.groupBy("user_id")
        .agg(F.sum(F.when(F.col("event_type") == "view", F.col("vi"))
                    .otherwise(0)).alias("x"),
             F.sum(F.when(F.col("event_type") == "purchase",
                          F.col("vi")).otherwise(0)).alias("y"))
        .withColumn("arm", F.col("user_id") % 2), eager=False)
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


# --------------------------------------------------------------------------
# volume_roi_stats — chunk-aligned zip of the segmentation and image
# demo volumes (shared 16³ lattice over 64³).
# --------------------------------------------------------------------------

_ROI_SCHEMA = "label long, n long, s long, mn long, mx long"


def roi_stats(seg, img, request: ix.Box) -> DataFrame:
    """Per-segment intensity partials over ``request``: join the two
    volumes' chunk tables on the shared chunk key, decode each aligned
    pair once executor-side, reduce (n, Σ, min, max) per label inside
    the chunk, fold by label."""
    if list(seg.scale.chunk_size) != list(img.scale.chunk_size) or \
            list(seg.scale.voxel_offset) != list(img.scale.voxel_offset):
        raise ValueError("roi_stats requires volumes on one chunk lattice")
    req = tuple((int(lo), int(hi)) for lo, hi in request)
    s_dt, i_dt = seg.info.data_type, img.info.data_type

    sc = (seg.live_chunks(req)
          .select("key", F.col("enc").alias("enc_s"),
                  F.col("payload").alias("pay_s")))
    icg = (img.live_chunks(req)
           .select("key", F.col("enc").alias("enc_i"),
                   F.col("payload").alias("pay_i")))
    both = sc.join(icg, "key")

    def zip_pass(it: Iterator) -> Iterator:
        import numpy as _np
        import pandas as _pd
        from bigarrays_jl_spark.volume import decode_chunk
        for batch in it:
            for key, es, ps, ei, pi in zip(batch["key"], batch["enc_s"],
                                           batch["pay_s"], batch["enc_i"],
                                           batch["pay_i"]):
                hit = decode_chunk(key, es, ps, 1, s_dt, req)
                if hit is None:
                    continue
                lab = hit[2].ravel().astype(_np.int64)
                inten = (decode_chunk(key, ei, pi, 1, i_dt, req)[2]
                         .ravel().astype(_np.int64))
                uniq, inv = _np.unique(lab, return_inverse=True)
                n = _np.bincount(inv)
                s = _np.bincount(inv, weights=inten).astype(_np.int64)
                mn = _np.full(len(uniq), _np.iinfo(_np.int64).max)
                _np.minimum.at(mn, inv, inten)
                mx = _np.full(len(uniq), _np.iinfo(_np.int64).min)
                _np.maximum.at(mx, inv, inten)
                yield _pd.DataFrame({"label": uniq, "n": n, "s": s,
                                     "mn": mn, "mx": mx})

    parts = both.mapInPandas(_on_workers(zip_pass), schema=_ROI_SCHEMA)
    return (parts.groupBy("label")
            .agg(F.sum("n").alias("n_voxels"),
                 F.sum("s").alias("sum_i"),
                 F.min("mn").alias("min_i"), F.max("mx").alias("max_i"))
            .select("label", "n_voxels",
                    (F.col("sum_i").cast("double") / F.col("n_voxels"))
                    .alias("mean_intensity"), "min_i", "max_i"))


def volume_roi_stats(spark: SparkSession, sf: str) -> DataFrame:
    return roi_stats(demo_seg_volume(spark), demo_volume(spark), ROI_BOX)


(_RX0, _RX1), (_RY0, _RY1), (_RZ0, _RZ1) = ROI_BOX

VOLUME_ROI_STATS_SQL = f"""
WITH v AS (
  SELECT ((x.range // {SEG_BLOCK}) * 16 + (y.range // {SEG_BLOCK}) * 4
          + (z.range // {SEG_BLOCK})) AS label,
         (x.range * 31 + y.range * 7 + z.range) % 256 AS inten
  FROM range({_RX0}, {_RX1}) x, range({_RY0}, {_RY1}) y,
       range({_RZ0}, {_RZ1}) z)
SELECT CAST(label AS BIGINT) AS label,
       count(*) AS n_voxels,
       CAST(CAST(sum(inten) AS BIGINT) AS DOUBLE) / count(*)
         AS mean_intensity,
       CAST(min(inten) AS BIGINT) AS min_i,
       CAST(max(inten) AS BIGINT) AS max_i
FROM v GROUP BY 1
"""


QUERIES = {
    "graph_lpa_lsh": graph_lpa_lsh,
    "q80_welch_ttest": q80_welch_ttest,
    "q81_cuped": q81_cuped,
    "volume_roi_stats": volume_roi_stats,
}

ORACLES = {
    "graph_lpa_lsh": GRAPH_LPA_SQL,
    "q80_welch_ttest": Q80_SQL,
    "q81_cuped": Q81_SQL,
    "volume_roi_stats": VOLUME_ROI_STATS_SQL,
}
