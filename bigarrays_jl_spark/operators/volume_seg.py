"""Segmentation-volume label statistics (builder extension, SURVEY §2C
round 9).

The reference IS a neuroglancer segmentation store (layer type
"segmentation", uint32/uint64 labels — `ref src/Infos.jl:73-86`,
`ref test/GSDicts.jl:40-67`), and the first question every
segmentation pipeline asks of one is "how big is each label and where
does it live" — per-label voxel counts and bounding boxes, the
connected-component statistics pass that sizes meshing/skeletonization
work.  In the reference that means cutting the whole volume out to the
client; here it is one distributed aggregation over the decoded chunk
stream.

``volume_label_sizes`` runs on a uint32 SEGMENTATION scratch volume
(blocky closed-form labels: label = (x÷16)·16 + (y÷16)·4 + z÷16 over
64³, i.e. 4×4×4 label blocks of 16³ voxels) so the DuckDB twin
reproduces the exact lattice with ``range()`` and the driver
hash-checks real uint32 chunk decode — the first registry query to
drive the segmentation dtype (not uint8 image) through the analytics
bridge end-to-end.

Scale shape: chunk-table pruning → executor-side Arrow-batched decode
→ one partial-agg shuffle keyed by label; output cardinality is the
label count, never voxels.  min/max per axis compose the bounding box
without any sort.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SEG_SIDE = 64
SEG_BLOCK = 16


def demo_seg_volume(spark: SparkSession):
    """PID-keyed uint32 segmentation scratch volume (sentinel
    discipline as in ``advanced.demo_volume``)."""
    import numpy as np

    from bigarrays_jl_spark.infos import Info
    from bigarrays_jl_spark.volume import Volume

    info = Info.from_dict({
        "num_channels": 1, "type": "segmentation", "data_type": "uint32",
        "scales": [{"encoding": "gzip", "chunk_sizes": [[16, 16, 16]],
                    "key": "1_1_1", "resolution": [1, 1, 1],
                    "voxel_offset": [0, 0, 0],
                    "size": [SEG_SIDE, SEG_SIDE, SEG_SIDE]}]})
    root = os.path.join(tempfile.gettempdir(),
                        f"bigarrays_volseg_{os.getpid()}", "vol")
    sentinel = os.path.join(os.path.dirname(root), "INGEST_COMPLETE")
    if os.path.exists(sentinel):
        vol = Volume.open(spark, root)
    else:
        import shutil
        shutil.rmtree(root, ignore_errors=True)
        vol = Volume.create(spark, root, info)
        x, y, z = np.meshgrid(np.arange(SEG_SIDE), np.arange(SEG_SIDE),
                              np.arange(SEG_SIDE), indexing="ij")
        labels = ((x // SEG_BLOCK) * 16 + (y // SEG_BLOCK) * 4
                  + (z // SEG_BLOCK)).astype(np.uint32)
        vol.write(labels, (0, 0, 0))
        with open(sentinel, "w") as f:
            f.write("ok")
    return vol


def volume_label_sizes(spark: SparkSession, sf: str) -> DataFrame:
    """Per-label voxel count + axis-aligned bounding box over a cutout
    of the segmentation volume."""
    vol = demo_seg_volume(spark)
    vox = vol.voxels(((0, SEG_SIDE), (0, SEG_SIDE), (8, 56)))
    return (vox.groupBy(F.col("value").alias("label"))
               .agg(F.count("*").alias("n_voxels"),
                    F.min("x").alias("x0"), F.max("x").alias("x1"),
                    F.min("y").alias("y0"), F.max("y").alias("y1"),
                    F.min("z").alias("z0"), F.max("z").alias("z1")))


VOLUME_LABEL_SIZES_SQL = f"""
WITH v AS (
  SELECT CAST(x.range AS INT) AS x, CAST(y.range AS INT) AS y,
         CAST(z.range AS INT) AS z,
         ((x.range // {SEG_BLOCK}) * 16 + (y.range // {SEG_BLOCK}) * 4
          + (z.range // {SEG_BLOCK})) AS label
  FROM range(0, {SEG_SIDE}) x, range(0, {SEG_SIDE}) y, range(8, 56) z)
SELECT CAST(label AS BIGINT) AS label, count(*) AS n_voxels,
       min(x) AS x0, max(x) AS x1,
       min(y) AS y0, max(y) AS y1,
       min(z) AS z0, max(z) AS z1
FROM v GROUP BY 1
"""


QUERIES = {
    "volume_label_sizes": volume_label_sizes,
}

ORACLES = {
    "volume_label_sizes": VOLUME_LABEL_SIZES_SQL,
}
