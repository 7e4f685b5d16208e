"""Voxel-level analytics over the chunk store (builder extension,
SURVEY §2C round 8) — the volume ↔ relational bridge beyond
``volume_cutout_sum``: distributed statistics a segmentation /
microscopy pipeline runs on a BigArrays-style volume (reference
surface: cutout + maintenance only, `ref src/type.jl:212-339`; any
voxel statistic there means collecting the cutout to the client).

Both queries run on the shared PID-keyed scratch volume
(``advanced.demo_volume``, 64³ uint8 with the closed-form value
(x·31 + y·7 + z) % 256) so the DuckDB oracle reproduces the exact
voxel lattice with ``range()`` — the driver hash-checks real chunk
decode against closed-form SQL.

Scale shape: ``Volume.voxels`` prunes the chunk table to the request
box, decodes chunks executor-side (Arrow-batched), and explodes to
(x,y,z,value) rows; both aggregations are one partial-agg shuffle over
that stream — histogram cardinality is bounded by the bucket count,
projection cardinality by the slice area, never by voxel count.

``volume_equalized_histogram`` reads an equalized twin of that
volume, built once per process through ``advanced.scratch_volume``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigarrays_jl_spark.operators.advanced import demo_volume, scratch_volume

HIST_BUCKET = 32     # 256/32 = 8 fixed-width value buckets


def volume_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Voxel-value histogram of a cutout box: the data-profiling pass
    (dtype utilization, label density) run before choosing a codec or a
    downsample factor."""
    vol = demo_volume(spark)
    vox = vol.voxels(((0, 64), (0, 64), (0, 64)))
    bucket = F.floor(F.col("value") / HIST_BUCKET).cast("int")
    return (vox.groupBy(bucket.alias("bucket"))
               .agg(F.count("*").alias("n_voxels"),
                    F.min("value").cast("bigint").alias("min_v"),
                    F.max("value").cast("bigint").alias("max_v")))


VOLUME_HISTOGRAM_SQL = f"""
WITH v AS (
  SELECT ((x.range * 31 + y.range * 7 + z.range) % 256) AS value
  FROM range(0, 64) x, range(0, 64) y, range(0, 64) z)
SELECT CAST(floor(value / {HIST_BUCKET}) AS INT) AS bucket,
       count(*) AS n_voxels,
       CAST(min(value) AS BIGINT) AS min_v,
       CAST(max(value) AS BIGINT) AS max_v
FROM v GROUP BY 1
"""


def volume_mip_projection(spark: SparkSession, sf: str) -> DataFrame:
    """Maximum-intensity projection along z — THE standard microscopy
    rendering reduction — plus the mean, per (x, y) column of a cutout
    box.  Mean uses an exact integer sum (uint8 voxels) divided once."""
    vol = demo_volume(spark)
    vox = vol.voxels(((0, 64), (0, 64), (16, 48)))
    return (vox.groupBy("x", "y")
               .agg(F.max("value").cast("bigint").alias("max_v"),
                    (F.sum("value").cast("double") / F.count("*"))
                    .alias("mean_v")))


VOLUME_MIP_PROJECTION_SQL = """
WITH v AS (
  SELECT CAST(x.range AS INT) AS x, CAST(y.range AS INT) AS y,
         ((x.range * 31 + y.range * 7 + z.range) % 256) AS value
  FROM range(0, 64) x, range(0, 64) y, range(16, 48) z)
SELECT x, y, CAST(max(value) AS BIGINT) AS max_v,
       CAST(sum(value) AS DOUBLE) / count(*) AS mean_v
FROM v GROUP BY x, y
"""


# volume_equalized_histogram: HISTOGRAM EQUALIZATION of the image
# volume — the classic contrast-normalization pass microscopy
# pipelines run before feature extraction — executed distributed:
# one aggregation builds the global intensity CDF (256 cells — bounded
# by the DTYPE domain, not the data), the integer lookup table
# eq(v) = ((cdf(v) − cdf_min)·255) // (N − cdf_min) broadcasts into a
# shuffle-free ``map_blocks`` pass (decode → LUT → encode inside one
# Arrow UDF, chunk ids unchanged), and the registry query histograms
# the EQUALIZED volume — so the oracle checks the whole loop:
# CDF → LUT → rewrite → re-read.  Pure integer arithmetic end to end.

# --------------------------------------------------------------------------
# volume_equalized_histogram
# --------------------------------------------------------------------------


def equalize_volume(spark: SparkSession):
    """Equalized twin of the demo volume (``advanced.scratch_volume``):
    global CDF → integer LUT → map_blocks rewrite."""
    import numpy as np

    from bigarrays_jl_spark.infos import Info

    src = demo_volume(spark)

    def fill(dest):
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
    return scratch_volume(spark, "voleq",
                          Info.from_dict(src.info.to_dict()), fill)


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


QUERIES = {
    "volume_histogram": volume_histogram,
    "volume_mip_projection": volume_mip_projection,
    "volume_equalized_histogram": volume_equalized_histogram,
}

ORACLES = {
    "volume_histogram": VOLUME_HISTOGRAM_SQL,
    "volume_mip_projection": VOLUME_MIP_PROJECTION_SQL,
    "volume_equalized_histogram": VOLUME_EQHIST_SQL,
}
