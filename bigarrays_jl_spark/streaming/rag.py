"""Streaming region-adjacency-graph maintenance.

``streaming_ingest_chunks`` lands segmentation chunks continuously;
this module keeps a durable RAG (label_a, label_b, contact_faces)
fresh incrementally: each micro-batch recomputes ONLY the contribution
parts its chunks touch and supersedes them in a parquet part table, so
the snapshot always equals a from-scratch ``region_adjacency`` over
the volume's current content — at per-batch cost ∝ the batch's chunk
surface, never the volume.

Part decomposition (see ``operators.volume_rag``): the global RAG is
the disjoint sum of
- one IN-CHUNK part per chunk id (pairs interior to that chunk), and
- one FACE part per (low chunk id, axis) boundary (pairs straddling
  that boundary).
A batch touching chunk set T invalidates exactly parts(T) = the
in-chunk parts of T plus every face part incident to T (6 per chunk:
low = c for the high faces, low = c − e_ax for the low faces).  Those
parts are recomputed from T ∪ neighbors(T) — a BETWEEN+IN pruned scan
(`Volume.map_cuts(..., ids=...)`) — and written with the batch id as their
epoch; every affected part also gets a tombstone row so a part whose
contacts vanished goes empty instead of stale.

Replay safety: foreachBatch may re-deliver a batch id; re-appended
rows carry the SAME (part, batch_id) and identical content, and the
snapshot reader drops exact duplicates before summing — replays are
no-ops (the same idempotent-reader discipline as
``streaming_minhash_neardup``'s durable index).

Scale shape per micro-batch (B = touched chunks): the recompute scans
≤ 7·B chunks, shuffles their pair lists + faces (∝ B chunk surface),
and the driver does O(B) integer arithmetic for the part list.  The
snapshot read is one window-free latest-epoch join over the part
table — ∝ RAG edges, agglomeration-sized.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["incremental_rag", "rag_snapshot", "streaming_ingest_with_rag"]

_PART_SCHEMA = ("pcx int, pcy int, pcz int, axis int, "
                "label_a bigint, label_b bigint, contact_faces bigint, "
                "batch_id bigint")


def _affected_parts(touched):
    """(in-chunk parts, face parts) invalidated by the touched chunk
    ids — pure driver-side integer arithmetic, O(|touched|)."""
    inner = {tuple(map(int, c)) for c in touched}
    faces = set()
    for c in inner:
        for ax in range(3):
            lo = list(c)
            lo[ax] -= 1
            faces.add((c[0], c[1], c[2], ax))
            faces.add((lo[0], lo[1], lo[2], ax))
    return sorted(inner), sorted(faces)


def incremental_rag(vol, touched, rag_root: str, batch_id: int) -> None:
    """Recompute and supersede exactly the RAG parts affected by the
    ``touched`` chunk ids, writing them (plus tombstones) to the part
    table at ``rag_root`` under epoch ``batch_id``."""
    from bigarrays_jl_spark.operators.volume_rag import (rag_edges,
                                                         rag_stream)
    if not touched:
        return
    spark = vol.spark
    inner_parts, face_parts = _affected_parts(touched)
    # the recompute needs the touched chunks and every face neighbor
    scan_ids = set(inner_parts)
    for (cx, cy, cz, ax) in face_parts:
        lo = (cx, cy, cz)
        hi = [cx, cy, cz]
        hi[ax] += 1
        scan_ids.add(lo)
        scan_ids.add(tuple(hi))
    parts = rag_edges(rag_stream(vol, vol.vol_box, ids=sorted(scan_ids)),
                      keep_parts=True)
    inner_set = {f"{c[0]}:{c[1]}:{c[2]}" for c in inner_parts}
    face_set = {f"{x}:{y}:{z}:{ax}" for (x, y, z, ax) in face_parts}
    pk = F.concat_ws(":", "pcx", "pcy", "pcz")
    fresh = parts.filter(
        ((F.col("axis") == -1) & pk.isin(sorted(inner_set)))
        | ((F.col("axis") != -1)
           & F.concat_ws(":", "pcx", "pcy", "pcz", "axis")
              .isin(sorted(face_set))))
    tomb_rows = ([(c[0], c[1], c[2], -1, None, None, 0)
                  for c in inner_parts]
                 + [(cx, cy, cz, ax, None, None, 0)
                    for (cx, cy, cz, ax) in face_parts])
    tombs = spark.createDataFrame(
        tomb_rows, ("pcx int, pcy int, pcz int, axis int, "
                    "label_a bigint, label_b bigint, contact_faces bigint"))
    (fresh.unionByName(tombs)
     .withColumn("batch_id", F.lit(batch_id).cast("bigint"))
     .write.mode("append").parquet(rag_root))


def rag_snapshot(spark: SparkSession, rag_root: str) -> DataFrame:
    """Current RAG from the part table: per part keep only the rows of
    its max epoch (exact duplicates from replays dropped), discard
    tombstones, sum contact faces per label pair."""
    rows = spark.read.schema(_PART_SCHEMA).parquet(rag_root)
    part = ["pcx", "pcy", "pcz", "axis"]
    latest = (rows.groupBy(*part).agg(F.max("batch_id").alias("mb")))
    cur = (rows.join(latest, part)
           .filter(F.col("batch_id") == F.col("mb"))
           .dropDuplicates(part + ["label_a", "label_b", "batch_id"])
           .filter(F.col("label_a").isNotNull()))
    return (cur.groupBy("label_a", "label_b")
            .agg(F.sum("contact_faces").alias("contact_faces")))


def streaming_ingest_with_rag(chunks: DataFrame, vol, rag_root: str,
                              checkpoint_path: str):
    """Continuous segmentation acquisition WITH RAG maintenance: each
    micro-batch of staged chunk rows ``(cx,cy,cz int, key string,
    payload binary)`` flows through the distributed ingest, then the
    touched RAG parts are recomputed and superseded — the durable RAG
    at ``rag_root`` never goes stale and ``rag_snapshot`` equals a
    batch ``region_adjacency`` on the volume's content exactly.

    Returns the started StreamingQuery (caller stops it)."""
    def process_batch(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_df.persist()
        try:
            vol.ingest_chunks(batch_df)
            touched = [(r["cx"], r["cy"], r["cz"]) for r in
                       batch_df.select("cx", "cy", "cz").distinct().collect()]
        finally:
            batch_df.unpersist()
        incremental_rag(vol, touched, rag_root, batch_id)

    return (chunks.writeStream
            .foreachBatch(process_batch)
            .option("checkpointLocation", checkpoint_path)
            .start())
