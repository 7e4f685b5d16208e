"""Distributed 7-point stencil over the chunk store — halo exchange
(builder extension, SURVEY §2C round 11).

The classic HPC pattern the reference cannot run without collecting
cutouts to the client (its surface is cutout + maintenance only,
ref src/type.jl:212-339): a neighborhood filter where every voxel
needs its 6 face neighbors, some of which live in OTHER chunks.

``volume_stencil_smooth`` computes the 7-point (von-Neumann) mean
filter of the demo volume and reports per-z-slice statistics of the
smoothed field:

- interior voxels (all 6 neighbors inside the same chunk) reduce to
  per-slice sums INSIDE the chunk UDF — they never leave the executor;
- chunk-SURFACE voxels emit their in-chunk partial sum keyed by global
  (x, y, z), and each chunk emits its 6 face planes
  (``indexes.chunk_faces``) as neighbor contributions keyed by the
  RECEIVING voxel's coordinates, the voxel across the boundary — one
  shuffle whose volume is the chunk surface area, never the voxel
  count (16³ chunks: 1352 of 4096 voxels; at production 128³ chunks:
  ~4.6 % — halo traffic shrinks as chunks grow);
- boundary handling is exact: a voxel with n in-volume neighbors
  (n+1 ∈ {5,6,7} points) is scaled by the integer 420/(n+1)
  (420 = lcm(4..7)), so every per-slice sum is EXACT int64 and the
  one IEEE division happens at output.

Missing chunks are the store's zero-fill contract; this operator
assumes the request box is materialized (true for the demo volume —
a production run left-semi-joins partials against the chunk table).

DuckDB oracle: the demo volume's closed form (x·31 + y·7 + z) % 256
lets SQL evaluate each neighbor arithmetically — same lattice, same
integer scaling, value-hash-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigarrays_jl_spark.checkpointing import materialize
from bigarrays_jl_spark.operators.advanced import demo_volume

BOX = ((0, 64), (0, 64), (0, 64))
SCALE_LCM = 420                      # lcm(4,5,6,7): exact integer scaling

_STENCIL_SCHEMA = ("kind int, z bigint, ssum long, nvox long, "
                   "x int, y int, vz int, term long")


def _stencil_stream(vol, request) -> DataFrame:
    req = tuple((int(lo), int(hi)) for lo, hi in request)

    def local(key, cbox, cut, blk):
        import numpy as _np
        import pandas as _pd
        from bigarrays_jl_spark import indexes as _ix
        cols = ["kind", "z", "ssum", "nvox", "x", "y", "vz", "term"]
        blk = blk[..., 0].astype(_np.int64)
        (x0, _), (y0, _), (z0, _) = cut
        # in-chunk partial stencil sum via zero-padded shifts
        pad = _np.pad(blk, 1)
        s_in = (blk
                + pad[:-2, 1:-1, 1:-1] + pad[2:, 1:-1, 1:-1]
                + pad[1:-1, :-2, 1:-1] + pad[1:-1, 2:, 1:-1]
                + pad[1:-1, 1:-1, :-2] + pad[1:-1, 1:-1, 2:])
        dx, dy, dz = blk.shape
        rows = []
        # interior voxels: complete (all 6 neighbors in-chunk
        # ⇒ in-volume ⇒ n+1 = 7, scale 60); reduce per slice
        if dx > 2 and dy > 2 and dz > 2:
            inner = s_in[1:-1, 1:-1, 1:-1] * (SCALE_LCM // 7)
            nv = (dx - 2) * (dy - 2)
            for k in range(dz - 2):
                rows.append((0, z0 + 1 + k,
                             int(inner[:, :, k].sum()), nv,
                             None, None, None, None))
        if rows:
            yield _pd.DataFrame(rows, columns=cols)
        # surface voxels: ship the in-chunk partial per voxel
        mask = _np.ones(blk.shape, dtype=bool)
        if dx > 2 and dy > 2 and dz > 2:
            mask[1:-1, 1:-1, 1:-1] = False
        xs, ys, zs = _np.nonzero(mask)
        yield _pd.DataFrame({
            "kind": 1, "z": 0, "ssum": 0, "nvox": 0,
            "x": (xs + x0).astype("int32"),
            "y": (ys + y0).astype("int32"),
            "vz": (zs + z0).astype("int32"),
            "term": s_in[xs, ys, zs]})
        # face planes → neighbor contributions keyed by the receiving
        # voxel across the boundary, kept when it lies in the request
        faces = []
        for f in _ix.chunk_faces(cut):
            if not req[f.axis][0] < f.plane < req[f.axis][1]:
                continue
            xyz = [f.u.ravel(), f.v.ravel()]
            xyz.insert(f.axis, _np.full(f.u.size, f.plane - 1 + f.side))
            faces.append(_pd.DataFrame({
                "kind": 1, "z": 0, "ssum": 0, "nvox": 0,
                "x": xyz[0].astype("int32"),
                "y": xyz[1].astype("int32"),
                "vz": xyz[2].astype("int32"),
                "term": blk[f.sheet].ravel()}))
        if faces:
            yield _pd.concat(faces, ignore_index=True)

    return vol.map_cuts(local, _STENCIL_SCHEMA, req)


def volume_stencil_smooth(spark: SparkSession, sf: str) -> DataFrame:
    """Per-z-slice exact statistics of the 7-point-mean-smoothed demo
    volume: n_vox, the lcm-scaled integer sum, and the mean smoothed
    value (one division at output)."""
    vol = demo_volume(spark)
    # without it `volume_stencil_smooth` runs 2 parquet scans, not 1
    stream = materialize(_stencil_stream(vol, BOX), eager=False)
    inner = (stream.filter(F.col("kind") == 0)
             .groupBy("z")
             .agg(F.sum("ssum").alias("s"), F.sum("nvox").alias("n")))
    (xl, xh), (yl, yh), (zl, zh) = BOX
    n_nb = (F.lit(1)
            + (F.col("x") > xl).cast("int") + (F.col("x") < xh - 1).cast("int")
            + (F.col("y") > yl).cast("int") + (F.col("y") < yh - 1).cast("int")
            + (F.col("vz") > zl).cast("int")
            + (F.col("vz") < zh - 1).cast("int"))
    surface = (stream.filter(F.col("kind") == 1)
               .groupBy("x", "y", "vz")
               .agg(F.sum("term").alias("st"))
               .select(F.col("vz").cast("bigint").alias("z"),
                       (F.col("st") * (F.lit(SCALE_LCM) / n_nb)
                        .cast("long")).alias("s"),
                       F.lit(1).cast("long").alias("n"))
               .groupBy("z")
               .agg(F.sum("s").alias("s"), F.sum("n").alias("n")))
    return (inner.unionByName(surface)
            .groupBy("z")
            .agg(F.sum("s").alias("ss"), F.sum("n").alias("nn"))
            .select(F.col("z").cast("bigint").alias("z"),
                    F.col("nn").cast("bigint").alias("n_vox"),
                    F.col("ss").cast("bigint").alias("scaled_sum"),
                    (F.col("ss").cast("double")
                     / (F.col("nn") * SCALE_LCM).cast("double"))
                    .alias("mean_smoothed")))


VOLUME_STENCIL_SQL = f"""
WITH v AS (
  SELECT x.range AS x, y.range AS y, z.range AS z,
         ((x.range * 31 + y.range * 7 + z.range) % 256) AS v
  FROM range(0, 64) x, range(0, 64) y, range(0, 64) z),
s AS (
  SELECT z,
         (v
          + CASE WHEN x > 0  THEN ((x-1)*31 + y*7 + z) % 256 ELSE 0 END
          + CASE WHEN x < 63 THEN ((x+1)*31 + y*7 + z) % 256 ELSE 0 END
          + CASE WHEN y > 0  THEN (x*31 + (y-1)*7 + z) % 256 ELSE 0 END
          + CASE WHEN y < 63 THEN (x*31 + (y+1)*7 + z) % 256 ELSE 0 END
          + CASE WHEN z > 0  THEN (x*31 + y*7 + (z-1)) % 256 ELSE 0 END
          + CASE WHEN z < 63 THEN (x*31 + y*7 + (z+1)) % 256 ELSE 0 END)
         * ({SCALE_LCM} // (1 + CAST(x > 0 AS INT) + CAST(x < 63 AS INT)
                             + CAST(y > 0 AS INT) + CAST(y < 63 AS INT)
                             + CAST(z > 0 AS INT) + CAST(z < 63 AS INT)))
           AS scaled
  FROM v)
SELECT CAST(z AS BIGINT) AS z,
       CAST(count(*) AS BIGINT) AS n_vox,
       CAST(sum(scaled) AS BIGINT) AS scaled_sum,
       CAST(sum(scaled) AS DOUBLE) / (count(*) * {SCALE_LCM})
         AS mean_smoothed
FROM s GROUP BY z
"""


QUERIES = {"volume_stencil_smooth": volume_stencil_smooth}
ORACLES = {"volume_stencil_smooth": VOLUME_STENCIL_SQL}
