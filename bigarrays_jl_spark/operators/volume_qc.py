"""Volume quality control along the sectioning axis (builder
extension, SURVEY §2C round 10).

EM volumes are imaged as z-sections; the two QC passes every
connectomics pipeline runs before segmentation are (the reference
stores exactly such image layers, ref src/Infos.jl:73-86, but can only
cut them to the client):

- volume_slice_qc: per-z-slice intensity profile — exact mean and
  p10/p50/p90 from the per-slice value-domain histogram (the den·cum ≥
  num·tot integer rule), min/max.  A bad/blank section shows up as an
  outlier row.  One aggregation keyed by (z, value) — histogram cells,
  never voxels — then windows over each slice's ≤ dtype-domain
  distinct values.
- volume_slice_ncc: normalized cross-correlation between ADJACENT
  slices — the section-alignment diagnostic (a mis-registered or
  damaged section decorrelates from its neighbors).  Pearson r per
  (z, z+1) from six exact integer moments: in-chunk voxel pairs reduce
  to per-pair moments INSIDE the chunk UDF (a chunk emits ≤ 16 moment
  rows, never voxels); pairs straddling a chunk boundary ship only the
  two FACE PLANES keyed by the boundary cell (``indexes.chunk_faces``
  along z, the keying of every per-chunk volume operator — shuffle ∝
  chunk surface), where both sides meet, multiply, and reduce to the
  same moment rows.
  The closing Pearson expression runs once in doubles per z-pair.

Float parity: intensities are uint8 → all moments are exact int64
(plane sums ≤ 64²·255² ≪ 2⁶³); each query's float arithmetic is one
identical expression tree on both engines, emitted unrounded.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from bigarrays_jl_spark import indexes as ix
from bigarrays_jl_spark.checkpointing import materialize
from bigarrays_jl_spark.operators.advanced import demo_volume

QC_BOX = ((0, 64), (0, 64), (0, 64))


# --------------------------------------------------------------------------
# volume_slice_qc
# --------------------------------------------------------------------------


def volume_slice_qc(spark: SparkSession, sf: str) -> DataFrame:
    vol = demo_volume(spark)
    vox = vol.voxels(QC_BOX)
    hist = (vox.groupBy("z", F.col("value").cast("bigint").alias("v"))
            .agg(F.count("*").alias("w")))
    w_cum = (Window.partitionBy("z").orderBy("v")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_all = Window.partitionBy("z")
    # without it `volume_slice_qc`'s optimized plan has 58 lines, not 22
    h = materialize(
        hist.withColumn("cum", F.sum("w").over(w_cum))
        .withColumn("tot", F.sum("w").over(w_all)), eager=False)

    def pick(num, den, out):
        return (h.filter(den * F.col("cum") >= num * F.col("tot"))
                .groupBy("z").agg(F.min("v").alias(out)))

    stats = (h.groupBy("z")
             .agg(F.sum(F.col("v") * F.col("w")).alias("s"),
                  F.sum("w").alias("n"),
                  F.min("v").alias("min_v"), F.max("v").alias("max_v")))
    return (stats.join(pick(1, 10, "p10"), "z")
            .join(pick(1, 2, "p50"), "z")
            .join(pick(9, 10, "p90"), "z")
            .select(F.col("z").cast("bigint").alias("z"),
                    F.col("n").cast("bigint").alias("n_voxels"),
                    (F.col("s").cast("double") / F.col("n"))
                    .alias("mean_v"),
                    "min_v", "p10", "p50", "p90", "max_v"))


VOLUME_SLICE_QC_SQL = """
WITH v AS (
  SELECT z.range AS z,
         ((x.range * 31 + y.range * 7 + z.range) % 256) AS v
  FROM range(0, 64) x, range(0, 64) y, range(0, 64) z),
hist AS (SELECT z, v, count(*) AS w FROM v GROUP BY 1, 2),
h AS (
  SELECT *, sum(w) OVER (PARTITION BY z ORDER BY v
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS cum,
         sum(w) OVER (PARTITION BY z) AS tot
  FROM hist),
p10 AS (SELECT z, min(v) AS p10 FROM h WHERE 10*cum >= tot GROUP BY z),
p50 AS (SELECT z, min(v) AS p50 FROM h WHERE 2*cum >= tot GROUP BY z),
p90 AS (SELECT z, min(v) AS p90 FROM h WHERE 10*cum >= 9*tot GROUP BY z),
st AS (
  SELECT z, CAST(sum(w) AS BIGINT) AS n,
         CAST(sum(v * w) AS BIGINT) AS s,
         CAST(min(v) AS BIGINT) AS min_v,
         CAST(max(v) AS BIGINT) AS max_v
  FROM h GROUP BY z)
SELECT CAST(st.z AS BIGINT) AS z, n AS n_voxels,
       CAST(s AS DOUBLE) / n AS mean_v,
       min_v, CAST(p10.p10 AS BIGINT) AS p10,
       CAST(p50.p50 AS BIGINT) AS p50,
       CAST(p90.p90 AS BIGINT) AS p90, max_v
FROM st JOIN p10 ON st.z = p10.z JOIN p50 ON st.z = p50.z
        JOIN p90 ON st.z = p90.z
"""


# --------------------------------------------------------------------------
# volume_slice_ncc
# --------------------------------------------------------------------------

_NCC_SCHEMA = ("kind int, z bigint, n long, sa long, sb long, "
               "sab long, saa long, sbb long, "
               "fz bigint, fu long, fv long, side int, val long")


def slice_ncc(vol, request: ix.Box) -> DataFrame:
    """Pearson r between slices z and z+1 for every adjacent pair in
    ``request``: in-chunk pairs reduce to moments inside the UDF;
    boundary pairs ship face planes keyed by their boundary cell
    (``indexes.chunk_faces``: fz is the upper slice of the pair)."""
    req = tuple((int(lo), int(hi)) for lo, hi in request)

    def local(key, cbox, cut, blk):
        import numpy as _np
        import pandas as _pd
        from bigarrays_jl_spark import indexes as _ix
        blk = blk[..., 0].astype(_np.int64)
        z0 = cut[2][0]
        rows = []
        # in-chunk adjacent pairs: vectorized along z
        for _, lo, hi in _ix.axis_pairs(blk.shape, axes=(2,)):
            a, b = blk[lo], blk[hi]
            rows_n = a.shape[0] * a.shape[1]
            for k in range(a.shape[2]):
                av, bv = a[:, :, k], b[:, :, k]
                rows.append((0, z0 + k, rows_n,
                             int(av.sum()), int(bv.sum()),
                             int((av * bv).sum()),
                             int((av * av).sum()),
                             int((bv * bv).sum()),
                             None, None, None, None, None))
        # z-face planes keyed by their boundary cell, emitted only if
        # the partner plane across the boundary lies inside the request
        for f in _ix.chunk_faces(cut, axes=(2,)):
            if not req[2][0] < f.plane < req[2][1]:
                continue
            yield _pd.DataFrame({
                "kind": 1, "z": f.plane - 1,
                "n": 0, "sa": 0, "sb": 0,
                "sab": 0, "saa": 0, "sbb": 0,
                "fz": f.plane, "fu": f.u.ravel(),
                "fv": f.v.ravel(), "side": f.side,
                "val": blk[f.sheet].ravel()})
        if rows:
            yield _pd.DataFrame(
                rows, columns=["kind", "z", "n", "sa", "sb",
                               "sab", "saa", "sbb", "fz", "fu",
                               "fv", "side", "val"])

    # without it `volume_slice_ncc` runs 2 parquet scans, not 1
    stream = materialize(vol.map_cuts(local, _NCC_SCHEMA, req), eager=False)
    inner = (stream.filter(F.col("kind") == 0)
             .select("z", "n", "sa", "sb", "sab", "saa", "sbb"))
    faces = (stream.filter(F.col("kind") == 1)
             .groupBy("fz", "fu", "fv")
             .agg(F.count("*").alias("sides"),
                  F.min(F.when(F.col("side") == 1, F.col("val")))
                   .alias("a"),
                  F.min(F.when(F.col("side") == 0, F.col("val")))
                   .alias("b"))
             .filter(F.col("sides") == 2)
             .groupBy((F.col("fz") - 1).alias("z"))
             .agg(F.count("*").alias("n"),
                  F.sum("a").alias("sa"), F.sum("b").alias("sb"),
                  F.sum(F.col("a") * F.col("b")).alias("sab"),
                  F.sum(F.col("a") * F.col("a")).alias("saa"),
                  F.sum(F.col("b") * F.col("b")).alias("sbb")))
    m = (inner.unionByName(faces)
         .groupBy("z")
         .agg(F.sum("n").cast("double").alias("n"),
              F.sum("sa").cast("double").alias("sa"),
              F.sum("sb").cast("double").alias("sb"),
              F.sum("sab").cast("double").alias("sab"),
              F.sum("saa").cast("double").alias("saa"),
              F.sum("sbb").cast("double").alias("sbb")))
    r = ((F.col("n") * F.col("sab") - F.col("sa") * F.col("sb"))
         / F.sqrt((F.col("n") * F.col("saa")
                   - F.col("sa") * F.col("sa"))
                  * (F.col("n") * F.col("sbb")
                     - F.col("sb") * F.col("sb"))))
    return m.select(F.col("z").cast("bigint").alias("z"),
                    F.col("n").cast("bigint").alias("n_pairs"),
                    r.alias("ncc"))


def volume_slice_ncc(spark: SparkSession, sf: str) -> DataFrame:
    return slice_ncc(demo_volume(spark), QC_BOX)


VOLUME_SLICE_NCC_SQL = """
WITH v AS (
  SELECT x.range AS x, y.range AS y, z.range AS z,
         ((x.range * 31 + y.range * 7 + z.range) % 256) AS val
  FROM range(0, 64) x, range(0, 64) y, range(0, 64) z),
pairs AS (
  SELECT a.z, a.val AS a, b.val AS b
  FROM v a JOIN v b ON a.x = b.x AND a.y = b.y AND b.z = a.z + 1),
m AS (
  SELECT z, CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(a) AS DOUBLE) AS sa, CAST(sum(b) AS DOUBLE) AS sb,
         CAST(sum(a * b) AS DOUBLE) AS sab,
         CAST(sum(a * a) AS DOUBLE) AS saa,
         CAST(sum(b * b) AS DOUBLE) AS sbb
  FROM pairs GROUP BY z)
SELECT CAST(z AS BIGINT) AS z, CAST(n AS BIGINT) AS n_pairs,
       (n * sab - sa * sb)
         / sqrt((n * saa - sa * sa) * (n * sbb - sb * sb)) AS ncc
FROM m
"""


QUERIES = {
    "volume_slice_qc": volume_slice_qc,
    "volume_slice_ncc": volume_slice_ncc,
}

ORACLES = {
    "volume_slice_qc": VOLUME_SLICE_QC_SQL,
    "volume_slice_ncc": VOLUME_SLICE_NCC_SQL,
}
