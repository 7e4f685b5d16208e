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

Also: label moments, the two-volume ROI overlay (``roi_stats``) and
the label surface census.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigarrays_jl_spark import indexes as ix
from bigarrays_jl_spark.operators.advanced import demo_volume, scratch_volume
from bigarrays_jl_spark.volume import _on_workers

SEG_SIDE = 64
SEG_BLOCK = 16


def demo_seg_volume(spark: SparkSession):
    """PID-keyed uint32 segmentation scratch volume
    (``advanced.scratch_volume``)."""
    import numpy as np

    from bigarrays_jl_spark.infos import Info

    info = Info.from_dict({
        "num_channels": 1, "type": "segmentation", "data_type": "uint32",
        "scales": [{"encoding": "gzip", "chunk_sizes": [[16, 16, 16]],
                    "key": "1_1_1", "resolution": [1, 1, 1],
                    "voxel_offset": [0, 0, 0],
                    "size": [SEG_SIDE, SEG_SIDE, SEG_SIDE]}]})

    def fill(vol):
        x, y, z = np.meshgrid(np.arange(SEG_SIDE), np.arange(SEG_SIDE),
                              np.arange(SEG_SIDE), indexing="ij")
        labels = ((x // SEG_BLOCK) * 16 + (y // SEG_BLOCK) * 4
                  + (z // SEG_BLOCK)).astype(np.uint32)
        vol.write(labels, (0, 0, 0))
    return scratch_volume(spark, "volseg", info, fill)


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


MOM_BOX = ((4, 60), (0, 64), (0, 64))


# volume_label_moments: per-label centroid and second central moments
# (the 3×3 shape covariance) over the segmentation volume — the
# skeletonization/meshing precursor that tells principal axes and
# elongation per segment.  Nine exact integer moment sums per label
# ride the one label-keyed shuffle; the closed forms evaluate once in
# doubles (the q77 moments discipline applied to voxels).
#
# Scale shape: label moments shuffle 9 integers per label, never voxels.

# --------------------------------------------------------------------------
# volume_label_moments
# --------------------------------------------------------------------------


def volume_label_moments(spark: SparkSession, sf: str) -> DataFrame:
    vol = demo_seg_volume(spark)
    vox = vol.voxels(MOM_BOX)
    m = (vox.groupBy(F.col("value").alias("label"))
         .agg(F.count("*").alias("n"),
              F.sum("x").alias("sx"), F.sum("y").alias("sy"),
              F.sum("z").alias("sz"),
              F.sum(F.col("x") * F.col("x")).alias("sxx"),
              F.sum(F.col("y") * F.col("y")).alias("syy"),
              F.sum(F.col("z") * F.col("z")).alias("szz"),
              F.sum(F.col("x") * F.col("y")).alias("sxy"),
              F.sum(F.col("x") * F.col("z")).alias("sxz"),
              F.sum(F.col("y") * F.col("z")).alias("syz")))

    def ctr(s):
        return (F.col(s).cast("double") / F.col("n")).alias(f"c{s[1]}")

    def cov(spq, sp, sq, out):
        n = F.col("n").cast("double")
        return ((F.col(spq).cast("double")
                 - F.col(sp).cast("double") * F.col(sq).cast("double") / n)
                / n).alias(out)

    return m.select(F.col("label").cast("bigint").alias("label"),
                    F.col("n").cast("bigint").alias("n_voxels"),
                    ctr("sx"), ctr("sy"), ctr("sz"),
                    cov("sxx", "sx", "sx", "cov_xx"),
                    cov("syy", "sy", "sy", "cov_yy"),
                    cov("szz", "sz", "sz", "cov_zz"),
                    cov("sxy", "sx", "sy", "cov_xy"),
                    cov("sxz", "sx", "sz", "cov_xz"),
                    cov("syz", "sy", "sz", "cov_yz"))


(_X0, _X1), (_Y0, _Y1), (_Z0, _Z1) = MOM_BOX

VOLUME_LABEL_MOMENTS_SQL = f"""
WITH v AS (
  SELECT CAST(x.range AS BIGINT) AS x, CAST(y.range AS BIGINT) AS y,
         CAST(z.range AS BIGINT) AS z,
         ((x.range // {SEG_BLOCK}) * 16 + (y.range // {SEG_BLOCK}) * 4
          + (z.range // {SEG_BLOCK})) AS label
  FROM range({_X0}, {_X1}) x, range({_Y0}, {_Y1}) y,
       range({_Z0}, {_Z1}) z),
m AS (
  SELECT label, count(*) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(z) AS BIGINT) AS sz,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(z * z) AS BIGINT) AS szz,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * z) AS BIGINT) AS sxz,
         CAST(sum(y * z) AS BIGINT) AS syz
  FROM v GROUP BY label)
SELECT CAST(label AS BIGINT) AS label, n AS n_voxels,
       CAST(sx AS DOUBLE) / n AS cx,
       CAST(sy AS DOUBLE) / n AS cy,
       CAST(sz AS DOUBLE) / n AS cz,
       (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
          / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS cov_xx,
       (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
          / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS cov_yy,
       (CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)
          / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS cov_zz,
       (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
          / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS cov_xy,
       (CAST(sxz AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE)
          / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS cov_xz,
       (CAST(syz AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE)
          / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS cov_yz
FROM m
"""


ROI_BOX = ((4, 60), (8, 56), (0, 64))


# volume_roi_stats: per-segment intensity statistics — the microscopy
# staple "mean/min/max image intensity under every segmentation
# label", the reference-adjacent two-volume overlay (the reference
# stores image AND segmentation layers, ref src/Infos.jl:73-86, but
# can only cut each to the client separately).  The two chunk tables
# join on the SHARED chunk key (both volumes use one lattice), one
# Arrow UDF decodes the aligned pair and reduces per-label partials
# (n, Σ, min, max) INSIDE the chunk — the only shuffles are the
# chunk-key join and the label-keyed fold, never voxels.
#
# Float parity: moments are exact integers; every mean/variance/t/θ is
# one identical double expression tree on both engines, emitted
# UNROUNDED (tie-prone quotients are never rounded — repo canon).
#
# Scale shape: the ROI overlay joins chunk tables on their id
# (co-partitioned/bucketed layouts make it shuffle-free) and reduces
# label partials chunk-locally.

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


# ``volume_label_surface`` — per-label surface area of the uint32
# segmentation demo volume (`volume_seg.demo_seg_volume`), the
# statistic that sizes neuroglancer meshing work (the reference is a
# segmentation store — `ref src/Infos.jl:73-86`): for every label,
# the count of voxel faces whose 6-neighbor holds a DIFFERENT label
# (in-volume), and separately the faces on the volume boundary.
# Interior faces reduce inside the decode UDF (numpy diffs over
# ``indexes.axis_pairs`` — output ∝ labels, never voxels);
# chunk-boundary faces are keyed by ``indexes.chunk_faces`` — one row
# per boundary voxel keyed by the shared face cell, paired by a
# surface-sized shuffle, never a voxel-sized one.  The DuckDB twin
# reproduces the closed-form block lattice (adjacent 16³ blocks always
# differ, so a block's in-volume surface is its total surface minus
# its volume-boundary faces).

def volume_label_surface(spark: SparkSession, sf: str) -> DataFrame:
    import pandas as pd

    vol = demo_seg_volume(spark)

    def stream(key, cbox, cut, arr):
        import numpy as np

        from bigarrays_jl_spark import indexes as _ix
        arr = arr[..., 0]
        shape = arr.shape
        counts: dict[tuple[int, int], list[int]] = {}

        def bump(label, which, n=1):
            c = counts.setdefault(int(label), [0, 0])
            c[which] += n

        # interior differing faces: both sides gain one face
        for _, lo, hi in _ix.axis_pairs(shape):
            m = arr[lo] != arr[hi]
            if m.any():
                for lbl, n in zip(*np.unique(arr[lo][m],
                                             return_counts=True)):
                    bump(lbl, 0, int(n))
                for lbl, n in zip(*np.unique(arr[hi][m],
                                             return_counts=True)):
                    bump(lbl, 0, int(n))
        # chunk faces: volume boundary vs shared chunk boundary
        faces = []
        for f in _ix.chunk_faces(cut):
            sheet = arr[f.sheet]
            # the face voxel's own coordinate on the volume edge
            if f.plane - f.side == (SEG_SIDE - 1 if f.side else 0):
                for lbl, n in zip(*np.unique(sheet, return_counts=True)):
                    bump(lbl, 1, int(n))
                continue
            faces.append(pd.DataFrame({
                "kind": 1, "axis": f.axis, "plane": f.plane,
                "u": f.u.reshape(-1), "v": f.v.reshape(-1),
                "hi_side": f.side,
                "label": sheet.reshape(-1).astype("int64"),
                "n_label": 0, "n_volume": 0}))
        local = pd.DataFrame({
            "kind": 0, "axis": 0, "plane": 0, "u": 0, "v": 0,
            "hi_side": 0,
            "label": [lbl for lbl in counts],
            "n_label": [c[0] for c in counts.values()],
            "n_volume": [c[1] for c in counts.values()]})
        yield pd.concat([local, *faces], ignore_index=True)

    rows = vol.map_cuts(
        stream, "kind int, axis int, plane long, u long, v long, "
                "hi_side int, label long, n_label long, n_volume long")
    local = (rows.filter(F.col("kind") == 0)
             .groupBy("label")
             .agg(F.sum("n_label").alias("nl"),
                  F.sum("n_volume").alias("nv")))
    # pair the two sides of each shared face cell; a differing pair
    # charges one face to each side's label
    cells = (rows.filter(F.col("kind") == 1)
             .groupBy("axis", "plane", "u", "v")
             .agg(F.min(F.when(F.col("hi_side") == 0, F.col("label")))
                  .alias("la"),
                  F.min(F.when(F.col("hi_side") == 1, F.col("label")))
                  .alias("lb"))
             .filter(F.col("la") != F.col("lb")))
    cross = (cells.select(F.col("la").alias("label"))
             .unionAll(cells.select(F.col("lb").alias("label")))
             .groupBy("label").agg(F.count("*").alias("nc")))
    # FULL outer: a label whose chunks are uniform and interior (no
    # volume face, no in-chunk diff) exists only in the face-pair side
    return (local.join(cross, "label", "full_outer")
            .select(F.col("label").cast("bigint").alias("label"),
                    (F.coalesce("nl", F.lit(0))
                     + F.coalesce("nc", F.lit(0)))
                    .cast("bigint").alias("n_label_faces"),
                    F.coalesce("nv", F.lit(0)).cast("bigint")
                    .alias("n_volume_faces")))


# closed-form twin: adjacent 16³ blocks always hold different labels
# (the label map is bijective on block coords), so a block's in-volume
# label-boundary surface is its full surface minus its volume faces
_NB = SEG_SIDE // SEG_BLOCK      # 4 blocks per axis
_FACE = SEG_BLOCK * SEG_BLOCK    # 256 voxels per block face

VOLUME_LABEL_SURFACE_SQL = f"""
WITH b AS (
  SELECT bx.range AS bx, by.range AS by, bz.range AS bz
  FROM range(0, {_NB}) bx, range(0, {_NB}) by, range(0, {_NB}) bz),
m AS (
  SELECT bx * 16 + by * 4 + bz AS label,
         {_FACE} * (CAST(bx = 0 AS INT) + CAST(bx = {_NB - 1} AS INT)
                  + CAST(by = 0 AS INT) + CAST(by = {_NB - 1} AS INT)
                  + CAST(bz = 0 AS INT) + CAST(bz = {_NB - 1} AS INT))
           AS vol_faces
  FROM b)
SELECT CAST(label AS BIGINT) AS label,
       CAST(6 * {_FACE} - vol_faces AS BIGINT) AS n_label_faces,
       CAST(vol_faces AS BIGINT) AS n_volume_faces
FROM m
"""


QUERIES = {
    "volume_label_sizes": volume_label_sizes,
    "volume_label_moments": volume_label_moments,
    "volume_roi_stats": volume_roi_stats,
    "volume_label_surface": volume_label_surface,
}

ORACLES = {
    "volume_label_sizes": VOLUME_LABEL_SIZES_SQL,
    "volume_label_moments": VOLUME_LABEL_MOMENTS_SQL,
    "volume_roi_stats": VOLUME_ROI_STATS_SQL,
    "volume_label_surface": VOLUME_LABEL_SURFACE_SQL,
}
