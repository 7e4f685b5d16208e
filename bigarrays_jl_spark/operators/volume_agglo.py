"""Agglomeration over the region adjacency graph (builder extension,
SURVEY §2C round 10) — the step that closes the segmentation loop:
connected components → RAG with contact areas → threshold merge →
distributed relabel.

- ``agglomerate_map(rag, min_contact)``: connected components over the
  RAG edges whose contact area clears the threshold — min-label
  propagation with pointer jumping (the ``volume_components`` /
  ``dedup_components`` discipline: O(log diameter) rounds, honest
  non-convergence failure, materialize per round).  Nodes are ALL
  labels present in the RAG, so untouched labels map to themselves.
- ``relabel_volume(vol, mapping, dest)``: applies the merge map to
  every voxel through ONE ``map_blocks`` pass — sorted-key
  ``np.searchsorted`` lookup inside the chunk UDF, no shuffle, chunk
  ids unchanged.  The mapping is agglomeration-sized (distinct labels,
  not voxels); for maps too large to broadcast as a closure, go
  through ``voxels()`` → join → ``ingest_voxels`` instead (SCALE.md).
- ``volume_agglomerate``: the oracle query — a speckled block volume
  (closed-form labels with a background speckle mask, so CONTACT AREAS
  GENUINELY VARY and the threshold separates strong from weak edges);
  the DuckDB twin brute-forces the voxel lattice with ``range()``,
  re-derives the RAG arithmetically, and closes the merge with a
  recursive reachability CTE.

Scale shape: the thresholded edge list is agglomeration-sized (bounded
by label adjacency, not voxels); pointer jumping shuffles that edge
list O(log d) times; the relabel pass streams chunks with zero
shuffle.  Nothing in the loop ever moves voxel-scale data except the
embarrassingly parallel decode/encode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigarrays_jl_spark.checkpointing import materialize
from bigarrays_jl_spark.operators.advanced import scratch_volume
from bigarrays_jl_spark.operators.volume_rag import region_adjacency
from bigarrays_jl_spark.volume import Volume

AGGLO_MAX_ROUNDS = 20

AGG_SIDE = 48
AGG_BLOCK = 24
AGG_CHUNK = 16
AGG_SPECKLE_MOD = 13
# speckle density differs by x-half (3/13 vs 9/13 background), so
# block-face contact areas land in two well-separated tiers
# (~177-178 vs ~310-488) and the threshold separates them robustly
AGG_SPECKLE_LO = 3
AGG_SPECKLE_HI = 9
AGG_MIN_CONTACT = 200


def agglomerate_map(rag: DataFrame, min_contact: int,
                    max_rounds: int = AGGLO_MAX_ROUNDS) -> DataFrame:
    """Merge decision over a RAG: ``(label, merged_label)`` where
    ``merged_label`` is the min label of the connected component formed
    by edges with ``contact_faces >= min_contact``.  Every label seen
    in the RAG gets a row (isolated labels map to themselves)."""
    strong = (rag.filter(F.col("contact_faces") >= min_contact)
              .select(F.col("label_a").alias("a"),
                      F.col("label_b").alias("b")))
    # without it `volume_agglomerate` runs 40 Spark jobs, not 31
    e = materialize(strong.unionAll(strong.select(
        F.col("b").alias("a"), F.col("a").alias("b"))).distinct(), eager=True)
    nodes = (rag.select(F.col("label_a").alias("lab"))
             .unionAll(rag.select(F.col("label_b").alias("lab")))
             .distinct())
    # without it `volume_agglomerate` runs 36 Spark jobs, not 31
    lab = materialize(nodes.withColumn("root", F.col("lab")), eager=True)
    for _ in range(max_rounds):
        nbr = (e.join(lab, e.b == lab.lab)
               .select(F.col("a").alias("lab"), "root"))
        nl = (lab.select("lab", "root").unionAll(nbr)
              .groupBy("lab").agg(F.min("root").alias("root")))
        jump = nl.select(F.col("lab").alias("j_lab"),
                         F.col("root").alias("j_root"))
        nl = materialize(nl.join(jump, nl.root == jump.j_lab, "left").select(
            "lab", F.coalesce("j_root", "root").alias("root")), eager=True)
        changed = (nl.alias("n").join(lab.alias("o"), "lab")
                   .filter(F.col("n.root") != F.col("o.root")).count())
        lab = nl
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"agglomerate_map did not converge in {max_rounds} "
            f"pointer-jumping rounds — raise max_rounds")
    return lab.select(F.col("lab").alias("label"),
                      F.col("root").alias("merged_label"))


def relabel_volume(vol: Volume, mapping: dict, dest: Volume) -> None:
    """Write ``vol`` into ``dest`` with every voxel's label replaced by
    ``mapping[label]`` (labels absent from the map pass through).  One
    shuffle-free ``map_blocks`` pass; the lookup is a sorted-key
    ``searchsorted`` so chunk cost is O(voxels · log |map|)."""
    import numpy as np
    if not mapping:
        vol.map_blocks(lambda b: b, dest)
        return
    keys = np.array(sorted(mapping), dtype=np.int64)
    vals = np.array([mapping[k] for k in sorted(mapping)], dtype=np.int64)

    def fn(block):
        flat = block.astype(np.int64)
        idx = np.clip(np.searchsorted(keys, flat), 0, len(keys) - 1)
        hit = keys[idx] == flat
        return np.where(hit, vals[idx], flat)

    vol.map_blocks(fn, dest)


def demo_agglo_volume(spark: SparkSession):
    """PID-keyed uint32 volume: 24³ label blocks (labels b%5+1, no
    background block) over 16³ chunks, with a closed-form background
    SPECKLE mask ((3x+5y+7z) % 13 < 3 → 0) punched through everything —
    so block-face contact areas vary cell by cell and a contact
    threshold has something real to separate."""
    import numpy as np

    from bigarrays_jl_spark.infos import Info

    info = Info.from_dict({
        "num_channels": 1, "type": "segmentation", "data_type": "uint32",
        "scales": [{"encoding": "gzip",
                    "chunk_sizes": [[AGG_CHUNK, AGG_CHUNK, AGG_CHUNK]],
                    "key": "1_1_1", "resolution": [1, 1, 1],
                    "voxel_offset": [0, 0, 0],
                    "size": [AGG_SIDE, AGG_SIDE, AGG_SIDE]}]})

    def fill(vol):
        x, y, z = np.meshgrid(np.arange(AGG_SIDE), np.arange(AGG_SIDE),
                              np.arange(AGG_SIDE), indexing="ij")
        b = (x // AGG_BLOCK) * 4 + (y // AGG_BLOCK) * 2 + (z // AGG_BLOCK)
        labels = (b % 5 + 1).astype(np.uint32)
        thr = np.where(x < AGG_BLOCK, AGG_SPECKLE_LO, AGG_SPECKLE_HI)
        speckle = (3 * x + 5 * y + 7 * z) % AGG_SPECKLE_MOD < thr
        labels[speckle] = 0
        vol.write(labels, (0, 0, 0))
    return scratch_volume(spark, "volagg", info, fill)


def agglomerate_census(vol: Volume,
                       min_contact: int = AGG_MIN_CONTACT) -> DataFrame:
    """Threshold-merge census of any labeled volume: per merged group,
    total voxels and member-label count.  The vol-generic core of
    ``volume_agglomerate`` (also driven at two volume sizes by
    tools/scale_proof.py's volume leg)."""
    rag = region_adjacency(vol)
    merge = agglomerate_map(rag, min_contact)
    sizes = (vol.voxels()
             .filter(F.col("value") != 0)
             .groupBy(F.col("value").alias("label"))
             .agg(F.count("*").alias("n_voxels")))
    return (sizes.join(F.broadcast(merge), "label", "left")
            .select(F.coalesce("merged_label", "label").alias("merged_label"),
                    "n_voxels")
            .groupBy("merged_label")
            .agg(F.sum("n_voxels").alias("n_voxels"),
                 F.count("*").alias("n_labels")))


def volume_agglomerate(spark: SparkSession, sf: str) -> DataFrame:
    """Threshold-merge census of the speckled block volume: per merged
    group, total voxels and member-label count."""
    return agglomerate_census(demo_agglo_volume(spark))


VOLUME_AGGLOMERATE_SQL = f"""
WITH RECURSIVE v AS (
  SELECT x.range AS x, y.range AS y, z.range AS z,
         CASE WHEN (3 * x.range + 5 * y.range + 7 * z.range)
                   % {AGG_SPECKLE_MOD}
                   < (CASE WHEN x.range < {AGG_BLOCK}
                           THEN {AGG_SPECKLE_LO}
                           ELSE {AGG_SPECKLE_HI} END) THEN 0
              ELSE ((x.range // {AGG_BLOCK}) * 4
                    + (y.range // {AGG_BLOCK}) * 2
                    + (z.range // {AGG_BLOCK})) % 5 + 1 END AS lab
  FROM range(0, {AGG_SIDE}) x, range(0, {AGG_SIDE}) y,
       range(0, {AGG_SIDE}) z),
pairs AS (
  SELECT a.lab AS pa, b.lab AS pb FROM v a JOIN v b
    ON b.x = a.x + 1 AND b.y = a.y AND b.z = a.z
  UNION ALL
  SELECT a.lab, b.lab FROM v a JOIN v b
    ON b.x = a.x AND b.y = a.y + 1 AND b.z = a.z
  UNION ALL
  SELECT a.lab, b.lab FROM v a JOIN v b
    ON b.x = a.x AND b.y = a.y AND b.z = a.z + 1),
contacts AS (
  SELECT least(pa, pb) AS la, greatest(pa, pb) AS lb,
         count(*) AS contact
  FROM pairs WHERE pa <> 0 AND pb <> 0 AND pa <> pb
  GROUP BY 1, 2),
strong AS (
  SELECT la, lb FROM contacts WHERE contact >= {AGG_MIN_CONTACT}),
e AS (
  SELECT la AS src, lb AS dst FROM strong
  UNION ALL SELECT lb, la FROM strong),
nodes AS (
  SELECT DISTINCT la AS lab FROM contacts
  UNION SELECT DISTINCT lb FROM contacts),
r(lab, tgt) AS (
  SELECT lab, lab FROM nodes
  UNION
  SELECT e.src, r.tgt FROM e JOIN r ON r.lab = e.dst),
reach AS (
  SELECT lab, min(tgt) AS root FROM r GROUP BY 1),
sizes AS (
  SELECT lab, count(*) AS n_voxels FROM v WHERE lab <> 0 GROUP BY 1)
SELECT CAST(coalesce(r.root, s.lab) AS BIGINT) AS merged_label,
       CAST(sum(s.n_voxels) AS BIGINT) AS n_voxels,
       count(*) AS n_labels
FROM sizes s LEFT JOIN reach r ON s.lab = r.lab
GROUP BY 1
"""


QUERIES = {
    "volume_agglomerate": volume_agglomerate,
}

ORACLES = {
    "volume_agglomerate": VOLUME_AGGLOMERATE_SQL,
}
