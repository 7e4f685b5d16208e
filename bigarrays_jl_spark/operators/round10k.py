"""Round-10 eleventh batch: image-processing over the volume bridge,
customer segmentation, and distribution drift by quantile.

- volume_equalized_histogram: HISTOGRAM EQUALIZATION of the image
  volume — the classic contrast-normalization pass microscopy
  pipelines run before feature extraction — executed distributed:
  one aggregation builds the global intensity CDF (256 cells — bounded
  by the DTYPE domain, not the data), the integer lookup table
  eq(v) = ((cdf(v) − cdf_min)·255) // (N − cdf_min) broadcasts into a
  shuffle-free ``map_blocks`` pass (decode → LUT → encode inside one
  Arrow UDF, chunk ids unchanged), and the registry query histograms
  the EQUALIZED volume — so the oracle checks the whole loop:
  CDF → LUT → rewrite → re-read.  Pure integer arithmetic end to end.
- q84_rfm_segments: RFM customer segmentation — recency (days since
  last purchase), frequency (purchase count), monetary (cents spent)
  per user, each cut into terciles by ``ntile(3)`` over the
  deterministic (metric, user_id) order, census per (R,F,M) cell.
  The marketing-analytics staple; both engines share ntile's floor
  distribution semantics.
- q85_qq_drift: quantile-quantile comparison of two populations
  (return flags A vs R extended prices) at the 5%..95% grid — the
  distribution-drift diagnostic that localizes WHERE two
  distributions diverge.  Each quantile is the exact den·cum ≥
  num·tot pick over the value-domain histogram (the q64/q70/q72
  discipline); output is the 19-point QQ table with integer gaps.

Scale shapes (SCALE.md "Round-10 batch 11"): equalization's CDF is a
dtype-bounded aggregate (256 rows shuffle) and the rewrite inherits
map_blocks' zero-shuffle contract; RFM is one user-keyed fold + three
rank windows over USERS (not events) + a cells-sized census; QQ reads
one histogram (∝ distinct prices), broadcasts the 19-row quantile
grid, and the pick is a min-agg per (flag, q).
"""
from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from bigarrays_jl_spark.operators.advanced import (demo_volume,
                                                   distributed_ntile)
from bigarrays_jl_spark.sources.tables import load

QQ_GRID = list(range(1, 20))        # 5% .. 95% in 20ths


# --------------------------------------------------------------------------
# volume_equalized_histogram
# --------------------------------------------------------------------------


def equalize_volume(spark: SparkSession):
    """Equalized twin of the demo volume (PID-keyed scratch, sentinel
    discipline): global CDF → integer LUT → map_blocks rewrite."""
    import numpy as np

    from bigarrays_jl_spark.infos import Info
    from bigarrays_jl_spark.volume import Volume

    src = demo_volume(spark)
    root = os.path.join(tempfile.gettempdir(),
                        f"bigarrays_voleq_{os.getpid()}", "vol")
    sentinel = os.path.join(os.path.dirname(root), "INGEST_COMPLETE")
    if os.path.exists(sentinel):
        return Volume.open(spark, root)
    import shutil
    shutil.rmtree(root, ignore_errors=True)
    dest = Volume.create(spark, root, Info.from_dict(src.info.to_dict()))

    hist = (src.voxels(src.vol_box)
            .groupBy("value").agg(F.count("*").alias("w"))
            .collect())                      # ≤ 256 rows: dtype-bounded
    counts = np.zeros(256, dtype=np.int64)
    for r in hist:
        counts[int(r["value"])] = r["w"]
    cdf = np.cumsum(counts)
    n = int(cdf[-1])
    cdf_min = int(cdf[counts.nonzero()[0][0]])
    lut = ((cdf - cdf_min) * 255 // (n - cdf_min)).astype(np.uint8)
    lut[counts == 0] = 0

    def eq(block):
        return lut[block]

    src.map_blocks(eq, dest)
    with open(sentinel, "w") as f:
        f.write("ok")
    return dest


def volume_equalized_histogram(spark: SparkSession, sf: str) -> DataFrame:
    vol = equalize_volume(spark)
    vox = vol.voxels(vol.vol_box)
    return (vox.groupBy(F.col("value").cast("bigint").alias("eq_value"))
            .agg(F.count("*").alias("n_voxels")))


VOLUME_EQHIST_SQL = """
WITH v AS (
  SELECT ((x.range * 31 + y.range * 7 + z.range) % 256) AS value
  FROM range(0, 64) x, range(0, 64) y, range(0, 64) z),
hist AS (SELECT value, count(*) AS w FROM v GROUP BY value),
c AS (
  SELECT value, w,
         sum(w) OVER (ORDER BY value
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cdf,
         sum(w) OVER () AS n,
         min(CASE WHEN w > 0 THEN value END) OVER () AS vmin
  FROM hist),
lut AS (
  SELECT value,
         (cdf - first_value(cdf) OVER (ORDER BY value)) * 255
           // (n - first_value(cdf) OVER (ORDER BY value)) AS eq
  FROM c),
ev AS (SELECT lut.eq AS eq_value FROM v JOIN lut USING (value))
SELECT CAST(eq_value AS BIGINT) AS eq_value, count(*) AS n_voxels
FROM ev GROUP BY 1
"""


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
                 F.floor(F.col("ts").cast("long") / 86400)
                  .cast("bigint").alias("day"),
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
    w_cum = (Window.partitionBy("l_returnflag").orderBy("v")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_all = Window.partitionBy("l_returnflag")
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


QUERIES = {
    "volume_equalized_histogram": volume_equalized_histogram,
    "q84_rfm_segments": q84_rfm_segments,
    "q85_qq_drift": q85_qq_drift,
}

ORACLES = {
    "volume_equalized_histogram": VOLUME_EQHIST_SQL,
    "q84_rfm_segments": Q84_SQL,
    "q85_qq_drift": Q85_SQL,
}
