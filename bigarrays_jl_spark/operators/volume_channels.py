"""Channel-aware voxel analytics over a 4D volume (builder extension,
SURVEY §2C round 9).

The round-8 voxel analytics (``volume_analytics.py``) ran on the 3D
single-channel demo volume only, while the reference's cloud tests
exercise 3- and 4-channel affinity/semantic volumes
(`ref test/GSDicts.jl:7-67`).  This module drives the channel axis
end-to-end through the same distributed bridge: a 4D scratch volume
(32³ × N_CH uint8, closed-form value ``(x·31 + y·7 + z·5 + ch·11) %
256``) is ingested through ``Volume.write`` (Fortran-order payloads,
channel-last — the neuroglancer layout), read back through
``Volume.voxels`` (which emits the ``c`` channel column), and
aggregated per channel — so the DuckDB oracle reproduces the exact 4D
lattice with ``range()`` and the driver hash-checks real multi-channel
chunk decode against closed-form SQL.

Scale shape: identical to the 3D analytics — chunk-table pruning to
the request box, executor-side Arrow-batched decode, one partial-agg
shuffle whose cardinality is channels × buckets, never voxel count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigarrays_jl_spark.operators.advanced import scratch_volume

N_CH = 3
SIDE = 32
CH_HIST_BUCKET = 32      # 256/32 = 8 value buckets per channel


def demo_volume4d(spark: SparkSession):
    """PID-keyed 4D scratch volume (``advanced.scratch_volume``)."""
    import numpy as np

    from bigarrays_jl_spark.infos import Info

    info = Info.from_dict({
        "num_channels": N_CH, "type": "image", "data_type": "uint8",
        "scales": [{"encoding": "gzip", "chunk_sizes": [[16, 16, 16]],
                    "key": "1_1_1", "resolution": [1, 1, 1],
                    "voxel_offset": [0, 0, 0],
                    "size": [SIDE, SIDE, SIDE]}]})

    def fill(vol):
        x, y, z, ch = np.meshgrid(np.arange(SIDE), np.arange(SIDE),
                                  np.arange(SIDE), np.arange(N_CH),
                                  indexing="ij")
        arr = ((x * 31 + y * 7 + z * 5 + ch * 11) % 256).astype(np.uint8)
        vol.write(arr, (0, 0, 0))
    return scratch_volume(spark, "vol4d", info, fill)


def volume_channel_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Per-channel voxel-value histogram of a cutout box — the
    affinity-map profiling pass (per-channel dynamic range / label
    density) a segmentation pipeline runs before thresholding."""
    vol = demo_volume4d(spark)
    vox = vol.voxels(((0, SIDE), (0, SIDE), (8, 24)))
    bucket = F.floor(F.col("value") / CH_HIST_BUCKET).cast("int")
    return (vox.groupBy(F.col("c").alias("channel"),
                        bucket.alias("bucket"))
               .agg(F.count("*").alias("n_voxels"),
                    F.min("value").cast("bigint").alias("min_v"),
                    F.max("value").cast("bigint").alias("max_v")))


VOLUME_CHANNEL_HISTOGRAM_SQL = f"""
WITH v AS (
  SELECT CAST(c.range AS INT) AS channel,
         ((x.range * 31 + y.range * 7 + z.range * 5 + c.range * 11) % 256)
           AS value
  FROM range(0, {SIDE}) x, range(0, {SIDE}) y, range(8, 24) z,
       range(0, {N_CH}) c)
SELECT channel, CAST(floor(value / {CH_HIST_BUCKET}) AS INT) AS bucket,
       count(*) AS n_voxels,
       CAST(min(value) AS BIGINT) AS min_v,
       CAST(max(value) AS BIGINT) AS max_v
FROM v GROUP BY 1, 2
"""


QUERIES = {
    "volume_channel_histogram": volume_channel_histogram,
}

ORACLES = {
    "volume_channel_histogram": VOLUME_CHANNEL_HISTOGRAM_SQL,
}
