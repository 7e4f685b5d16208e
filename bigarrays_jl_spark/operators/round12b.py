"""Round-12 batch 2 (builder extension, SURVEY §2C):

- ``volume_label_surface`` — per-label surface area of the uint32
  segmentation demo volume (`volume_seg.demo_seg_volume`), the
  statistic that sizes neuroglancer meshing work (the reference is a
  segmentation store — `ref src/Infos.jl:73-86`): for every label,
  the count of voxel faces whose 6-neighbor holds a DIFFERENT label
  (in-volume), and separately the faces on the volume boundary.
  Interior faces reduce inside the decode UDF (numpy axis diffs —
  output ∝ labels, never voxels); chunk-boundary faces use the
  volume_components face discipline — one row per boundary voxel keyed
  by the shared face cell, paired by a surface-sized shuffle, never a
  voxel-sized one.  The DuckDB twin reproduces the closed-form block
  lattice (adjacent 16³ blocks always differ, so a block's in-volume
  surface is its total surface minus its volume-boundary faces).
- ``text_paragraph_dedup`` — C4-style paragraph-level exact dedup
  report: split documents on sentence boundaries ('. '), hash each
  paragraph, count per source how many paragraph instances are
  corpus-wide duplicates (md5 canon, first-instance-keeps semantics by
  (doc_id, paragraph index) order).  Finer-grained than dedup_exact
  (whole doc) and dedup_exact_substring.
- ``user_erasure_audit`` — right-to-be-forgotten propagation audit:
  for a deterministic erasure cohort (user_id % 97 == 0), the residual
  row count and distinct surviving users per event type — the
  compliance query every deletion pipeline runs after a scrub pass.
  Map-side filter + one partial-agg shuffle.

Scale: the surface operator's shuffles are O(labels) + O(chunk
surface); paragraph dedup is two hash-keyed shuffles (paragraph fold,
source rollup); the audit is a filtered scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigarrays_jl_spark.operators.volume_seg import (SEG_BLOCK, SEG_SIDE,
                                                     demo_seg_volume)
from bigarrays_jl_spark.sources.tables import load

ERASE_MOD = 97


def volume_label_surface(spark: SparkSession, sf: str) -> DataFrame:
    import pandas as pd

    vol = demo_seg_volume(spark)
    side = SEG_SIDE

    def stream(key, cbox, cut, arr):
        import numpy as np
        arr = arr[..., 0]
        shape = arr.shape
        counts: dict[tuple[int, int], list[int]] = {}

        def bump(label, which, n=1):
            c = counts.setdefault(int(label), [0, 0])
            c[which] += n

        # interior differing faces: both sides gain one face
        for ax in range(3):
            lo = arr.take(range(shape[ax] - 1), axis=ax)
            hi = arr.take(range(1, shape[ax]), axis=ax)
            m = lo != hi
            if m.any():
                for lbl, n in zip(*np.unique(lo[m],
                                             return_counts=True)):
                    bump(lbl, 0, int(n))
                for lbl, n in zip(*np.unique(hi[m],
                                             return_counts=True)):
                    bump(lbl, 0, int(n))
        # chunk faces: volume boundary vs shared chunk boundary
        faces = []
        for ax in range(3):
            for side_hi in (0, 1):
                gpos = cbox[ax][1] - 1 if side_hi else cbox[ax][0]
                sl = [slice(None)] * 3
                sl[ax] = -1 if side_hi else 0
                sheet = arr[tuple(sl)]
                at_vol_edge = (gpos == side - 1 if side_hi
                               else gpos == 0)
                if at_vol_edge:
                    for lbl, n in zip(*np.unique(
                            sheet, return_counts=True)):
                        bump(lbl, 1, int(n))
                    continue
                # face cell shared with the neighbor chunk:
                # plane = boundary between gpos and gpos±1
                plane = gpos if side_hi else gpos - 1
                other = [d for d in range(3) if d != ax]
                ub = np.arange(cbox[other[0]][0],
                               cbox[other[0]][1])
                vb = np.arange(cbox[other[1]][0],
                               cbox[other[1]][1])
                uu, vv = np.meshgrid(ub, vb, indexing="ij")
                faces.append(pd.DataFrame({
                    "kind": 1, "axis": ax, "plane": plane,
                    "u": uu.reshape(-1), "v": vv.reshape(-1),
                    "hi_side": side_hi,
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


def text_paragraph_dedup(spark: SparkSession, sf: str) -> DataFrame:
    paras = (load(spark, sf, "documents")
             .select("doc_id", "source",
                     F.posexplode(F.split(F.col("text"), r"\. "))
                     .alias("pidx", "para"))
             .filter(F.trim(F.col("para")) != "")
             .withColumn("ph", F.md5(F.trim(F.lower(F.col("para"))))))
    firsts = (paras.groupBy("ph")
              .agg(F.min(F.struct("doc_id", "pidx")).alias("keep"),
                   F.count("*").alias("n_inst")))
    j = paras.join(firsts, "ph")
    dup = (F.col("n_inst") > 1) & (
        (F.col("doc_id") != F.col("keep.doc_id"))
        | (F.col("pidx") != F.col("keep.pidx")))
    return (j.groupBy("source")
            .agg(F.count("*").cast("bigint").alias("n_paragraphs"),
                 F.sum(dup.cast("int")).cast("bigint")
                  .alias("n_dup_instances"),
                 F.countDistinct("ph").cast("bigint")
                  .alias("n_unique_paragraphs")))


TEXT_PARAGRAPH_DEDUP_SQL = """
WITH p0 AS (
  SELECT doc_id, source,
         unnest(regexp_split_to_array(text, '\\. '))
           AS para,
         generate_subscripts(regexp_split_to_array(text, '\\. '), 1) - 1
           AS pidx
  FROM documents),
paras AS (
  SELECT doc_id, source, pidx, md5(trim(lower(para))) AS ph
  FROM p0 WHERE trim(para) <> ''),
firsts AS (
  SELECT ph, min(ROW(doc_id, pidx)) AS keep, count(*) AS n_inst
  FROM paras GROUP BY ph),
j AS (
  SELECT source, ph, n_inst,
         CASE WHEN n_inst > 1 AND ROW(doc_id, pidx) <> keep
              THEN 1 ELSE 0 END AS is_dup
  FROM paras JOIN firsts USING (ph))
SELECT source, CAST(count(*) AS BIGINT) AS n_paragraphs,
       CAST(sum(is_dup) AS BIGINT) AS n_dup_instances,
       CAST(count(DISTINCT ph) AS BIGINT) AS n_unique_paragraphs
FROM j GROUP BY source
"""


def user_erasure_audit(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "events").select("user_id", "event_type")
    erased = F.col("user_id") % ERASE_MOD == 0
    return (e.groupBy("event_type")
            .agg(F.count("*").cast("bigint").alias("n_rows"),
                 F.sum(erased.cast("int")).cast("bigint")
                  .alias("n_residual_rows"),
                 F.countDistinct(F.when(erased, F.col("user_id")))
                  .cast("bigint").alias("n_residual_users")))


USER_ERASURE_SQL = f"""
SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN user_id % {ERASE_MOD} = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_residual_rows,
       CAST(count(DISTINCT CASE WHEN user_id % {ERASE_MOD} = 0
                                THEN user_id END) AS BIGINT)
         AS n_residual_users
FROM events GROUP BY event_type
"""


QUERIES = {
    "volume_label_surface": volume_label_surface,
    "text_paragraph_dedup": text_paragraph_dedup,
    "user_erasure_audit": user_erasure_audit,
}

ORACLES = {
    "volume_label_surface": VOLUME_LABEL_SURFACE_SQL,
    "text_paragraph_dedup": TEXT_PARAGRAPH_DEDUP_SQL,
    "user_erasure_audit": USER_ERASURE_SQL,
}
