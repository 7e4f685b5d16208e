"""Region adjacency graph (RAG) over a chunked segmentation volume
(builder extension, SURVEY §2C round 10).

After connected components, the next question every segmentation
pipeline asks is "which labels touch, and how much" — the region
adjacency graph with contact areas is the input to agglomeration /
proofreading (the reference is a neuroglancer segmentation store,
`ref src/Infos.jl:73-86`; agglomeration consumes exactly this graph).
The reference would cut the whole volume to one client to answer it;
here it is a two-phase distributed pass that never shuffles voxels:

1. **Chunk-local pass** (``mapInPandas`` over the pruned chunk
   table): decode executor-side, count label-pair contacts across the
   three axis shifts of ``indexes.axis_pairs`` with numpy,
   pre-aggregated to (label_a, label_b, n) INSIDE the UDF — a chunk
   emits at most its distinct touching pairs, never its voxels.
   Nonzero face voxels are emitted keyed by the shared boundary cell
   (axis, plane, u, v) of ``indexes.chunk_faces``, the one keying
   every per-chunk volume operator uses, so both sides of a chunk
   boundary share a key.
2. **Cross-chunk faces**: group face rows by boundary cell; a cell
   seen from both sides with two different nonzero labels is one
   contact face.  Shuffle ∝ chunk surface.

Total shuffle: distinct label pairs per chunk + surface cells.  The
output cardinality is the RAG edge count — agglomeration-scale, not
voxel-scale.

Every emitted row is tagged with its OWNING PART — the chunk id for
in-chunk contributions, the boundary's low-side chunk id (+ axis) for
face contributions — so ``streaming.rag`` can maintain a durable RAG
incrementally by recomputing exactly the parts a micro-batch touches.

Oracle: the closed-form block volume of ``volume_components`` (24³
blocks over 16³ chunks — every block face straddles chunk interiors
AND chunk boundaries, so both phases contribute to every edge): each
adjacent surviving block pair is one RAG edge with contact area 24²,
which the DuckDB twin enumerates by joining the 2×2×2 block lattice
along its three axes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigarrays_jl_spark import indexes as ix
from bigarrays_jl_spark.checkpointing import materialize
from bigarrays_jl_spark.operators.volume_components import (
    CC_BG_BLOCK, CC_BLOCK, demo_cc_volume)
from bigarrays_jl_spark.volume import Volume

RAG_STREAM_SCHEMA = ("kind int, a bigint, b bigint, n bigint, "
                     "axis int, fb long, fu long, fv long, "
                     "pcx int, pcy int, pcz int")


def rag_stream(vol: Volume, request: ix.Box,
               ids: list[tuple[int, int, int]] | None = None) -> DataFrame:
    """The tagged contribution stream of the chunks meeting ``request``
    (or of the chunk ids ``ids``): kind=0 rows are a chunk's
    pre-aggregated in-chunk pair counts (part = own chunk id), kind=1
    rows are nonzero face voxels keyed by boundary cell (part = the
    LOW chunk of that boundary, + axis).  Decode happens once
    (``materialize``) for the two consumers."""
    info = vol.info
    req = tuple((int(lo), int(hi)) for lo, hi in request)
    if info.num_channels != 1:
        raise ValueError("region_adjacency requires a single-channel "
                         "segmentation volume")
    sc = vol.scale
    anchor = ix.lattice_anchor(sc.voxel_offset, sc.chunk_size)
    chunk_size = tuple(sc.chunk_size)

    def local_pass(key, cbox, cut, block):
        import numpy as _np
        import pandas as _pd
        from bigarrays_jl_spark import indexes as _ix
        cid = tuple(_ix.chunk_id(cbox[d][0], anchor[d],
                                 chunk_size[d]) for d in range(3))
        block = _np.ascontiguousarray(block[..., 0]).astype(_np.int64)
        sh = block.shape
        rows = []
        # in-chunk contacts, pre-aggregated with numpy so a chunk
        # emits pairs, not voxels
        for _, lo, hi in _ix.axis_pairs(sh):
            la = block[lo]
            lb = block[hi]
            m = (la != lb) & (la != 0) & (lb != 0)
            if not m.any():
                continue
            pa, pb = la[m], lb[m]
            pairs = _np.stack(
                [_np.minimum(pa, pb), _np.maximum(pa, pb)], axis=1)
            uniq, counts = _np.unique(pairs, axis=0,
                                      return_counts=True)
            for (a, bb), n in zip(uniq.tolist(), counts.tolist()):
                rows.append((0, a, bb, n, None, None, None, None,
                             cid[0], cid[1], cid[2]))
        # nonzero face voxels keyed by their boundary cell; the part
        # tag is the boundary's LOW chunk — own id for the high face,
        # own id − 1 along the axis for the low face — so both sides
        # agree on the owning part
        for f in _ix.chunk_faces(cut):
            face = block[f.sheet]
            m = face != 0
            low = list(cid)
            low[f.axis] -= 1 - f.side
            for u, v, li in zip(f.u[m].tolist(), f.v[m].tolist(),
                                face[m].tolist()):
                rows.append((1, li, None, None, f.axis, f.plane, u, v,
                             *low))
        yield _pd.DataFrame(
            rows, columns=["kind", "a", "b", "n",
                           "axis", "fb", "fu", "fv",
                           "pcx", "pcy", "pcz"])

    # without it `volume_agglomerate` runs 5 parquet scans, not 2
    return materialize(vol.map_cuts(local_pass, RAG_STREAM_SCHEMA, req,
                                    ids=ids), eager=False)


def rag_edges(stream: DataFrame, keep_parts: bool = False) -> DataFrame:
    """Fold a tagged contribution stream into RAG edges.  With
    ``keep_parts`` the part tag (pcx,pcy,pcz + axis, axis −1 for
    in-chunk parts — a sentinel, NOT NULL, so the snapshot reader's
    equi-join on the part key never hits NULL-join semantics) survives
    into the output for incremental maintenance; otherwise edges
    aggregate globally."""
    inner = (stream.filter(F.col("kind") == 0)
             .select("a", "b", "n", "pcx", "pcy", "pcz",
                     F.lit(-1).cast("int").alias("axis")))
    cross = (stream.filter(F.col("kind") == 1)
             .groupBy("axis", "fb", "fu", "fv")
             .agg(F.min("a").alias("la"), F.max("a").alias("lb"),
                  F.count("*").alias("sides"),
                  F.min("pcx").alias("pcx"), F.min("pcy").alias("pcy"),
                  F.min("pcz").alias("pcz"))
             .filter((F.col("sides") == 2) & (F.col("la") != F.col("lb")))
             .select(F.col("la").alias("a"), F.col("lb").alias("b"),
                     F.lit(1).cast("bigint").alias("n"),
                     "pcx", "pcy", "pcz", "axis"))
    both = inner.unionByName(cross)
    keys = (["pcx", "pcy", "pcz", "axis"] if keep_parts else [])
    return (both.groupBy(*keys, F.col("a").alias("label_a"),
                         F.col("b").alias("label_b"))
            .agg(F.sum("n").alias("contact_faces")))


def region_adjacency(vol: Volume,
                     request: ix.Box | None = None) -> DataFrame:
    """6-connectivity region adjacency graph of ``vol`` restricted to
    ``request`` → ``(label_a, label_b, contact_faces)`` with
    ``label_a < label_b`` (both nonzero), ``contact_faces`` the number
    of shared voxel faces."""
    return rag_edges(rag_stream(vol, request or vol.vol_box))


def volume_rag(spark: SparkSession, sf: str) -> DataFrame:
    """RAG of the closed-form block volume — each adjacent surviving
    block pair is one edge with contact area 24²."""
    return region_adjacency(demo_cc_volume(spark))


VOLUME_RAG_SQL = f"""
WITH blocks AS (
  SELECT bx.range AS bx, by.range AS by, bz.range AS bz,
         bx.range * 4 + by.range * 2 + bz.range AS b
  FROM range(0, 2) bx, range(0, 2) by, range(0, 2) bz),
lb AS (
  SELECT bx, by, bz, b % 5 + 1 AS lab FROM blocks
  WHERE b <> {CC_BG_BLOCK}),
e AS (
  SELECT a.lab AS la, n.lab AS lbn FROM lb a JOIN lb n
    ON n.bx = a.bx + 1 AND n.by = a.by AND n.bz = a.bz
  UNION ALL
  SELECT a.lab, n.lab FROM lb a JOIN lb n
    ON n.bx = a.bx AND n.by = a.by + 1 AND n.bz = a.bz
  UNION ALL
  SELECT a.lab, n.lab FROM lb a JOIN lb n
    ON n.bx = a.bx AND n.by = a.by AND n.bz = a.bz + 1)
SELECT CAST(least(la, lbn) AS BIGINT) AS label_a,
       CAST(greatest(la, lbn) AS BIGINT) AS label_b,
       CAST(count(*) * {CC_BLOCK * CC_BLOCK} AS BIGINT) AS contact_faces
FROM e WHERE la <> lbn GROUP BY 1, 2
"""


QUERIES = {
    "volume_rag": volume_rag,
}

ORACLES = {
    "volume_rag": VOLUME_RAG_SQL,
}
