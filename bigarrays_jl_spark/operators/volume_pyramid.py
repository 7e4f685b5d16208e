"""Mip-pyramid arithmetic under the oracle gate (builder extension,
SURVEY §2C round 9).

``volume_mip1_histogram`` drives the DISTRIBUTED downsample itself
through the DuckDB hash-check: a closed-form 32³ uint8 volume is
pyramided one level by the engine (2×2×1 mean, half-even rounding —
``Volume.downsample``), and the mip-1 voxel histogram is compared
against a twin that reproduces the reduction arithmetically:

    s        = Σ of the four mip-0 values under the target voxel
    mean     = s / 4      (fraction ∈ {0, .25, .5, .75} for int s)
    value    = half-even round of mean — the only tie (frac .5,
               s % 4 == 2) resolves to the even neighbour, exactly
               numpy's rint, spelled as integer CASE arithmetic so the
               oracle is exact (DuckDB's round() is half-away-from-zero
               and would disagree on every tie)

Until now downsample correctness rested on pytest-vs-numpy; this puts
the whole chain — chunked write, distributed reduce, target-chunk
assembly, decode, explode — under the same cross-engine value-hash
gate as every relational operator.

Scale shape: the downsample is the engine's normal one-shuffle
chunk-reduce job; the histogram is a value-only pruned voxel scan with
bucket-bounded output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigarrays_jl_spark.operators.advanced import scratch_volume

MIP_SIDE = 32
MIP_BUCKET = 32


def demo_pyramid_volume(spark: SparkSession):
    """PID-keyed scratch volume with ONE built mip (the sentinel of
    ``advanced.scratch_volume`` follows both the ingest and the
    downsample)."""
    import numpy as np

    from bigarrays_jl_spark.infos import Info

    info = Info.from_dict({
        "num_channels": 1, "type": "image", "data_type": "uint8",
        "scales": [{"encoding": "gzip", "chunk_sizes": [[16, 16, 16]],
                    "key": "1_1_1", "resolution": [1, 1, 1],
                    "voxel_offset": [0, 0, 0],
                    "size": [MIP_SIDE, MIP_SIDE, MIP_SIDE]}]})

    def fill(vol):
        x, y, z = np.meshgrid(np.arange(MIP_SIDE), np.arange(MIP_SIDE),
                              np.arange(MIP_SIDE), indexing="ij")
        vol.write(((x * 31 + y * 7 + z) % 256).astype(np.uint8), (0, 0, 0))
        vol.downsample()
    return scratch_volume(spark, "volmip", info, fill)


def volume_mip1_histogram(spark: SparkSession, sf: str) -> DataFrame:
    vol = demo_pyramid_volume(spark)
    vox = vol.mip_volume(1).voxels()
    bucket = F.floor(F.col("value") / MIP_BUCKET).cast("int")
    return (vox.groupBy(bucket.alias("bucket"))
               .agg(F.count("*").alias("n_voxels"),
                    F.min("value").cast("bigint").alias("min_v"),
                    F.max("value").cast("bigint").alias("max_v")))


_F0 = "((2*x.range * 31 + 2*y.range * 7 + z.range) % 256)"
_F1 = "(((2*x.range+1) * 31 + 2*y.range * 7 + z.range) % 256)"
_F2 = "((2*x.range * 31 + (2*y.range+1) * 7 + z.range) % 256)"
_F3 = "(((2*x.range+1) * 31 + (2*y.range+1) * 7 + z.range) % 256)"

VOLUME_MIP1_HISTOGRAM_SQL = f"""
WITH s AS (
  SELECT {_F0} + {_F1} + {_F2} + {_F3} AS s
  FROM range(0, {MIP_SIDE // 2}) x, range(0, {MIP_SIDE // 2}) y,
       range(0, {MIP_SIDE}) z),
v AS (
  SELECT CASE
           WHEN s % 4 = 2 THEN       -- exact .5 tie: round half to EVEN
             CASE WHEN (s // 4) % 2 = 0 THEN s // 4 ELSE s // 4 + 1 END
           ELSE CAST(round(s / 4.0) AS BIGINT)
         END AS value
  FROM s)
SELECT CAST(floor(value / {MIP_BUCKET}) AS INT) AS bucket,
       count(*) AS n_voxels,
       CAST(min(value) AS BIGINT) AS min_v,
       CAST(max(value) AS BIGINT) AS max_v
FROM v GROUP BY 1
"""


QUERIES = {
    "volume_mip1_histogram": volume_mip1_histogram,
}

ORACLES = {
    "volume_mip1_histogram": VOLUME_MIP1_HISTOGRAM_SQL,
}
