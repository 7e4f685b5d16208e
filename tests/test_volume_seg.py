"""Tests of operators/volume_seg.py."""

import numpy as np


def _surface_python(a):
    """Brute-force per-label (in-volume differing faces, volume faces)."""
    from collections import defaultdict
    nl = defaultdict(int)
    nv = defaultdict(int)
    sx, sy, sz = a.shape
    for ax in range(3):
        lo = a.take(range(a.shape[ax] - 1), axis=ax)
        hi = a.take(range(1, a.shape[ax]), axis=ax)
        m = lo != hi
        for lbl, n in zip(*np.unique(lo[m], return_counts=True)):
            nl[int(lbl)] += int(n)
        for lbl, n in zip(*np.unique(hi[m], return_counts=True)):
            nl[int(lbl)] += int(n)
        for sheet in (a.take([0], axis=ax), a.take([-1], axis=ax)):
            for lbl, n in zip(*np.unique(sheet, return_counts=True)):
                nv[int(lbl)] += int(n)
    return {k: (nl.get(k, 0), nv.get(k, 0))
            for k in set(nl) | set(nv)}


def test_label_surface_matches_numpy_when_blocks_misalign_chunks(
        spark, tmp_path, monkeypatch):
    """The registry demo's chunks coincide with label blocks, so every
    chunk is uniform and the INTERIOR diff path never fires there.
    This volume uses 8³ label blocks inside 16³ chunks (plus a random
    speckle) so both the in-chunk diffs and the cross-chunk face pairs
    carry real work — compared against a dense numpy oracle."""
    from bigarrays_jl_spark.infos import Info
    from bigarrays_jl_spark.operators import volume_seg
    from bigarrays_jl_spark.operators.volume_seg import SEG_SIDE
    from bigarrays_jl_spark.volume import Volume

    side = 32
    info = Info.from_dict({
        "num_channels": 1, "type": "segmentation", "data_type": "uint32",
        "scales": [{"encoding": "gzip", "chunk_sizes": [[16, 16, 16]],
                    "key": "1_1_1", "resolution": [1, 1, 1],
                    "voxel_offset": [0, 0, 0], "size": [side] * 3}]})
    vol = Volume.create(spark, str(tmp_path / "v"), info)
    x, y, z = np.meshgrid(np.arange(side), np.arange(side),
                          np.arange(side), indexing="ij")
    a = ((x // 8) * 16 + (y // 8) * 4 + (z // 8)).astype(np.uint32)
    rng = np.random.default_rng(5)
    mask = rng.random(a.shape) < 0.01          # speckle some voxels
    a[mask] = rng.integers(100, 104, mask.sum()).astype(np.uint32)
    vol.write(a, (0, 0, 0))

    # run the operator against THIS volume (demo_seg_volume patched)
    monkeypatch.setattr(volume_seg, "demo_seg_volume", lambda s: vol)
    monkeypatch.setattr(volume_seg, "SEG_SIDE", side)
    got = {r.label: (r.n_label_faces, r.n_volume_faces)
           for r in volume_seg.volume_label_surface(spark, "unused")
           .collect()}
    want = _surface_python(a)
    assert got == want
    assert any(v[1] == 0 for v in want.values())   # interior labels exist
