"""Streaming mip-pyramid maintenance.

``streaming_ingest_chunks`` (windows.py) lands mip-0 chunks
continuously, but the pyramid built by ``Volume.build_pyramid`` goes
stale as sections arrive.  This module keeps it fresh incrementally:
each micro-batch re-derives ONLY the parent chunks its ingested
children touch, level by level, through the SAME distributed
``downsample`` pass the batch build uses — so the streamed pyramid is
byte-identical to re-running ``build_pyramid`` from scratch, at a
per-batch cost proportional to the batch, not the volume.

Reference parity note: BigArrays.jl has no downsample at all (its mips
are metadata-only, `ref src/Infos.jl:220-229`); this is the §2C
extension surface's streaming twin of our batch pyramid.

Scale shape per micro-batch (B = touched chunk count):
- driver work is pure integer arithmetic over ≤ 27·B candidate ids
  (`child_to_parent_id` closure) — no jobs, no payloads;
- each level's downsample scans ≤ 4·B_parent source chunks via the
  BETWEEN + multi-column-IN pruned subset (`Volume.map_cuts(ids=)`),
  never the mip table;
- levels shrink geometrically (2×2×1), so the whole cascade is O(B).

Replay safety: a re-delivered batch re-ingests under a newer epoch
(volume MVCC) and re-derives the same parents from the same latest
children — reads converge to identical voxels, so checkpoint restarts
are no-ops and mid-cascade crashes heal on the replay.
"""
from __future__ import annotations

from itertools import product

from pyspark.sql import DataFrame

__all__ = ["incremental_pyramid", "streaming_ingest_with_pyramid"]


def _contributing_sources(vol, mip: int, touched):
    """(parents, closure): the mip+1 ids affected by ``touched`` mip
    ids, and EVERY mip id contributing to those parents.

    Each parent's children in x/y are a contiguous pair of source
    cells (2×2×1 reduction, uniform chunk sizes across mips), so the
    closure of a touched child is found among its ±1 neighbors —
    filter the 27-neighborhood by parent equality.  Pure driver-side
    integer math via ``child_to_parent_id`` (the exact twin of the
    executor-side ``to_target`` formula).
    """
    parents = {vol.child_to_parent_id(mip, c) for c in touched}
    closure = set()
    for c in touched:
        for cand in product(range(c[0] - 1, c[0] + 2),
                            range(c[1] - 1, c[1] + 2),
                            range(c[2] - 1, c[2] + 2)):
            if vol.child_to_parent_id(mip, cand) in parents:
                closure.add(cand)
    return sorted(parents), sorted(closure)


def incremental_pyramid(vol, touched, num_mip: int) -> None:
    """Re-derive exactly the pyramid chunks affected by the ``touched``
    mip-0 chunk ids, up through ``num_mip`` total levels.

    Runs the SAME ``Volume.downsample`` pass as ``build_pyramid``,
    restricted per level to the touched parents' full child sets — so
    after processing, every affected parent equals what a from-scratch
    ``build_pyramid(num_mip)`` would produce, byte for byte.
    """
    if not touched:
        return
    if len(vol.info.scales) < num_mip:
        vol.info = vol.info.with_mips(num_mip)
        vol.commit_info()
    level = [tuple(map(int, c)) for c in touched]
    for m in range(num_mip - 1):
        parents, closure = _contributing_sources(vol, m, level)
        vol.downsample(from_mip=m, only_sources=closure)
        level = parents


def streaming_ingest_with_pyramid(chunks: DataFrame, vol,
                                  checkpoint_path: str, num_mip: int = 2):
    """Continuous acquisition WITH pyramid maintenance: each
    micro-batch of staged chunk rows ``(cx,cy,cz int, key string,
    payload binary)`` flows through the distributed ingest
    (``Volume.ingest_chunks`` contract, raw Fortran-order bytes), then
    the touched parents at every mip are incrementally re-downsampled —
    the streamed volume's pyramid never goes stale, and matches a batch
    ``build_pyramid`` on the same data exactly.

    The batch is persisted across its two consumers (ingest + touched-id
    collect) — one source evaluation per micro-batch.  Returns the
    started StreamingQuery (caller stops it)."""
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
        incremental_pyramid(vol, touched, num_mip)

    return (chunks.writeStream
            .foreachBatch(process_batch)
            .option("checkpointLocation", checkpoint_path)
            .start())
