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
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigarrays_jl_spark.operators.advanced import demo_volume

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


QUERIES = {
    "volume_histogram": volume_histogram,
    "volume_mip_projection": volume_mip_projection,
}

ORACLES = {
    "volume_histogram": VOLUME_HISTOGRAM_SQL,
    "volume_mip_projection": VOLUME_MIP_PROJECTION_SQL,
}
