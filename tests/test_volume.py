"""Volume end-to-end round-trip tests.

Mirrors the reference's behavioral spec (test/BinDicts.jl, test/GSDicts.jl)
— write a seeded random array, read it back, assert exact elementwise
equality against the in-memory numpy oracle.  Scenario boxes are the F1/F3
fixtures translated from Julia 1-based-inclusive to 0-based half-open.
"""

import json

import numpy as np
import pytest

from bigarrays_jl_spark.infos import Info
from bigarrays_jl_spark.volume import MissingChunkError, Volume

F1 = {
    "num_channels": 1, "type": "image", "data_type": "uint8", "scales": [
        {"encoding": "gzip", "chunk_sizes": [[100, 100, 5]], "key": "6_6_30",
         "resolution": [6, 6, 30], "voxel_offset": [-300, -300, -10],
         "size": [510, 510, 2022]},
        {"encoding": "gzip", "chunk_sizes": [[100, 100, 5]], "key": "12_12_30",
         "resolution": [12, 12, 30], "voxel_offset": [-597, -597, -103],
         "size": [12286, 11262, 2046]},
    ]}

RNG = np.random.default_rng(42)


@pytest.fixture
def vol(spark, tmp_path):
    info = Info.from_dict(F1)
    return Volume.create(spark, str(tmp_path / "ds"), info)


def rand_u8(shape):
    return RNG.integers(0, 256, size=shape, dtype=np.uint8)


def test_create_open_roundtrip(spark, tmp_path, vol):
    reopened = Volume.open(spark, vol.root)
    assert reopened.info == vol.info
    assert reopened.shape == (510, 510, 2022)
    assert "uint8" in repr(reopened)


def test_aligned_in_bounds_roundtrip(vol):
    # test/BinDicts.jl:51-57 — [1:200,1:200,1:10]
    a = rand_u8((200, 200, 10))
    vol[0:200, 0:200, 0:10] = a
    out = vol[0:200, 0:200, 0:10]
    np.testing.assert_array_equal(out, a)


def test_negative_coordinates(vol):
    # test/BinDicts.jl:59-65 — [-199:0, -99:100, -4:1995]
    a = rand_u8((200, 200, 2000))
    vol[-200:0, -100:100, -5:1995] = a
    np.testing.assert_array_equal(vol[-200:0, -100:100, -5:1995], a)


def test_aligned_write_crossing_volume_stop(vol):
    # test/BinDicts.jl:76-85 — beyond-bounds voxels dropped, read back zeros
    a = rand_u8((200, 200, 10))
    vol[100:300, 100:300, 2005:2015] = a
    out = vol[100:300, 100:300, 2005:2015]
    # volume stops: x,y at 210, z at 2012
    np.testing.assert_array_equal(out[:110, :110, :7], a[:110, :110, :7])
    assert (out[110:, :, :] == 0).all()
    assert (out[:, 110:, :] == 0).all()
    assert (out[:, :, 7:] == 0).all()


def test_non_aligned_write_crossing_volume_stop(vol):
    # test/BinDicts.jl:87-96 — [101:290, 101:290, 2006:2014]
    a = rand_u8((190, 190, 8))
    vol[100:290, 100:290, 2005:2013] = a
    out = vol[100:290, 100:290, 2005:2013]
    np.testing.assert_array_equal(out[:110, :110, :7], a[:110, :110, :7])
    assert (out[110:, :, :] == 0).all()


def test_unaligned_interior_write_rejected(vol):
    with pytest.raises(ValueError, match="aligned"):
        vol.write(rand_u8((50, 100, 5)), (0, 0, 0))


def test_missing_chunks_zero_fill_and_strict(spark, vol):
    a = rand_u8((100, 100, 5))
    vol[0:100, 0:100, 0:5] = a
    out = vol[0:100, 0:200, 0:5]   # second y-chunk never written
    np.testing.assert_array_equal(out[:, :100, :], a)
    assert (out[:, 100:, :] == 0).all()
    strict = Volume(spark, vol.root, vol.info, fill_missing=False)
    with pytest.raises(MissingChunkError):
        strict.cutout(((0, 100), (0, 200), (0, 5)))


def test_overwrite_latest_wins(vol):
    a = rand_u8((100, 100, 5))
    b = rand_u8((100, 100, 5))
    vol[0:100, 0:100, 0:5] = a
    vol[0:100, 0:100, 0:5] = b
    np.testing.assert_array_equal(vol[0:100, 0:100, 0:5], b)
    # compaction folds history, result unchanged
    vol.compact()
    np.testing.assert_array_equal(vol[0:100, 0:100, 0:5], b)


def test_mip2_offset_anchored_lattice(spark, vol):
    # test/BinDicts.jl:134-150 — mip 2 offset (-597,-597,-103): lattice
    # anchored at offset mod chunk_size = (3,3,2)
    v2 = vol.mip_volume(1)
    a = rand_u8((200, 200, 10))
    v2[203:403, 203:403, 102:112] = a
    np.testing.assert_array_equal(v2[203:403, 203:403, 102:112], a)
    b = rand_u8((200, 200, 10))
    v2[-97:103, -297:-97, -3:7] = b
    np.testing.assert_array_equal(v2[-97:103, -297:-97, -3:7], b)


@pytest.mark.parametrize("encoding", ["raw", "zstd", "blosclz"])
def test_codec_sweep(spark, tmp_path, encoding):
    # codec variants (test/BinDicts.jl:99-120); gzip is the default
    # exercised everywhere else; zstd rides the pyarrow backend when the
    # zstandard package is absent; blosclz rides the vendored
    # pure-Python Blosc1 codec when the C package is absent
    f1 = json.loads(json.dumps(F1))
    f1["scales"][0]["encoding"] = encoding
    vol = Volume.create(spark, str(tmp_path / f"{encoding}_ds"),
                        Info.from_dict(f1))
    a = rand_u8((200, 200, 10))
    vol[0:200, 0:200, 0:10] = a
    np.testing.assert_array_equal(vol[0:200, 0:200, 0:10], a)


@pytest.mark.parametrize("data_type,nch", [
    ("uint8", 1), ("uint32", 1), ("uint64", 1), ("float32", 3), ("float32", 4),
    ("uint16", 1), ("float64", 1), ("bool", 1),
])
def test_dtype_fixtures(spark, tmp_path, data_type, nch):
    # F3 cloud-parity fixtures: box [257:512,257:512,17:32] → 0-based
    # [256,512)²×[16,32); full dtype map incl. 4D channel volumes
    info = Info.from_dict({
        "num_channels": nch, "type": "image", "data_type": data_type,
        "scales": [{"encoding": "gzip", "chunk_sizes": [[128, 128, 16]],
                    "key": "1_1_1", "resolution": [1, 1, 1],
                    "voxel_offset": [0, 0, 0], "size": [1024, 1024, 64]}]})
    vol = Volume.create(spark, str(tmp_path / f"ds_{data_type}_{nch}"), info)
    shape = (256, 256, 16) if nch == 1 else (256, 256, 16, nch)
    if data_type.startswith("float"):
        a = RNG.standard_normal(shape).astype(data_type)
    elif data_type == "bool":
        a = RNG.integers(0, 2, size=shape).astype(bool)
    else:
        hi = min(np.iinfo(data_type).max, 1 << 62)
        a = RNG.integers(0, hi, size=shape, dtype=data_type)
    vol.write(a, (256, 256, 16))
    out, origin = vol.cutout(((256, 512), (256, 512), (16, 32)))
    assert origin == (256, 512 and 256, 16) or origin == (256, 256, 16)
    np.testing.assert_array_equal(out, a)


def test_maintenance_ops(spark, vol):
    a = rand_u8((200, 100, 5))
    vol[0:200, 0:100, 0:5] = a
    box = ((0, 200), (0, 200), (0, 5))
    assert vol.num_chunks(box) == 2 * 2 * 1
    missing = vol.list_missing_chunks(box)
    # chunk ids for offset (-300,-300,-10): cx = x//100 + 3 anchor 0 → x0 chunk 0
    assert len(missing) == 2   # the y∈[100,200) column, both x chunks
    assert all(cy == 1 for (_, cy, _) in missing)
    keys = vol.keys()
    assert len(keys) == 2
    vol.delete(((0, 100), (0, 100), (0, 5)))
    assert len(vol.keys()) == 1
    assert (vol[0:100, 0:100, 0:5] == 0).all()


def test_voxel_view(spark, tmp_path):
    info = Info.from_dict({
        "num_channels": 1, "type": "image", "data_type": "uint8",
        "scales": [{"encoding": "gzip", "chunk_sizes": [[10, 10, 4]],
                    "key": "1_1_1", "resolution": [1, 1, 1],
                    "voxel_offset": [0, 0, 0], "size": [20, 20, 8]}]})
    vol = Volume.create(spark, str(tmp_path / "vox"), info)
    a = rand_u8((20, 20, 8))
    vol.write(a, (0, 0, 0))
    df = vol.voxels(((5, 15), (0, 10), (2, 6)))
    rows = df.collect()
    assert len(rows) == 10 * 10 * 4
    for r in rows[:50]:
        assert r.value == int(a[r.x, r.y, r.z])
    # distributed aggregation over the voxel view
    total = df.groupBy().sum("value").collect()[0][0]
    assert total == int(a[5:15, 0:10, 2:6].astype(np.int64).sum())


def test_downsample_mean(spark, tmp_path):
    info = Info.from_dict({
        "num_channels": 1, "type": "image", "data_type": "uint8",
        "scales": [{"encoding": "gzip", "chunk_sizes": [[8, 8, 4]],
                    "key": "1_1_1", "resolution": [1, 1, 1],
                    "voxel_offset": [0, 0, 0], "size": [32, 32, 8]}]})
    vol = Volume.create(spark, str(tmp_path / "mips"), info)
    a = rand_u8((32, 32, 8))
    vol.write(a, (0, 0, 0))
    vol.downsample()
    v2 = Volume.open(spark, vol.root, mip=1)
    assert v2.scale.volume_size == (16, 16, 8)
    out, _ = v2.cutout(((0, 16), (0, 16), (0, 8)))
    expect = np.rint((a[0::2, 0::2].astype(np.float64) + a[1::2, 0::2]
                      + a[0::2, 1::2] + a[1::2, 1::2]) / 4.0).astype(np.uint8)
    np.testing.assert_array_equal(out, expect)


def test_build_pyramid_three_levels(spark, tmp_path):
    info = Info.from_dict({
        "num_channels": 1, "type": "image", "data_type": "uint8",
        "scales": [{"encoding": "gzip", "chunk_sizes": [[8, 8, 4]],
                    "key": "1_1_1", "resolution": [1, 1, 1],
                    "voxel_offset": [0, 0, 0], "size": [32, 32, 8]}]})
    vol = Volume.create(spark, str(tmp_path / "pyr"), info)
    a = rand_u8((32, 32, 8))
    vol.write(a, (0, 0, 0))
    vol.build_pyramid(3)
    re = Volume.open(spark, vol.root)
    assert len(re.info.scales) == 3
    assert re.info.scale(2).volume_size == (8, 8, 8)
    m2, _ = Volume.open(spark, vol.root, mip=2).cutout(((0, 8), (0, 8), (0, 8)))
    # two rounds of 2×2×1 mean (rounded half-even per level, like the engine)
    l1 = np.rint((a[0::2, 0::2].astype(np.float64) + a[1::2, 0::2]
                  + a[0::2, 1::2] + a[1::2, 1::2]) / 4.0).astype(np.uint8)
    l2 = np.rint((l1[0::2, 0::2].astype(np.float64) + l1[1::2, 0::2]
                  + l1[0::2, 1::2] + l1[1::2, 1::2]) / 4.0).astype(np.uint8)
    np.testing.assert_array_equal(m2, l2)


def test_downsample_segmentation_strides(spark, tmp_path):
    # label volumes must not average (blends label ids); the striding
    # rule keeps voxel [0::2, 0::2, :] — neuroglancer's segmentation
    # default
    info = Info.from_dict({
        "num_channels": 1, "type": "segmentation", "data_type": "uint32",
        "scales": [{"encoding": "gzip", "chunk_sizes": [[8, 8, 4]],
                    "key": "1_1_1", "resolution": [1, 1, 1],
                    "voxel_offset": [0, 0, 0], "size": [32, 32, 8]}]})
    vol = Volume.create(spark, str(tmp_path / "segmips"), info)
    a = np.random.default_rng(7).integers(
        0, 2**31, size=(32, 32, 8), dtype=np.uint32)
    vol.write(a, (0, 0, 0))
    vol.downsample()
    v2 = Volume.open(spark, vol.root, mip=1)
    out, _ = v2.cutout(((0, 16), (0, 16), (0, 8)))
    np.testing.assert_array_equal(out, a[0::2, 0::2, :])


def test_map_blocks_invert_roundtrip(spark, tmp_path):
    info = Info.from_dict({
        "num_channels": 1, "type": "image", "data_type": "uint8",
        "scales": [{"encoding": "gzip", "chunk_sizes": [[8, 8, 4]],
                    "key": "1_1_1", "resolution": [1, 1, 1],
                    "voxel_offset": [0, 0, 0], "size": [24, 16, 8]}]})
    src = Volume.create(spark, str(tmp_path / "mb_src"), info)
    a = rand_u8((24, 16, 8))
    src.write(a, (0, 0, 0))
    dst = Volume.create(spark, str(tmp_path / "mb_dst"), info)
    src.map_blocks(lambda c: 255 - c, dst)
    out, _ = dst.cutout(((0, 24), (0, 16), (0, 8)))
    np.testing.assert_array_equal(out, 255 - a)


def test_map_blocks_dtype_change(spark, tmp_path):
    base = {"encoding": "gzip", "chunk_sizes": [[8, 8, 4]],
            "key": "1_1_1", "resolution": [1, 1, 1],
            "voxel_offset": [0, 0, 0], "size": [16, 16, 8]}
    src_info = Info.from_dict({
        "num_channels": 1, "type": "image", "data_type": "uint8",
        "scales": [dict(base)]})
    dst_info = Info.from_dict({
        "num_channels": 1, "type": "image", "data_type": "float32",
        "scales": [dict(base)]})
    src = Volume.create(spark, str(tmp_path / "mbd_src"), src_info)
    a = rand_u8((16, 16, 8))
    src.write(a, (0, 0, 0))
    dst = Volume.create(spark, str(tmp_path / "mbd_dst"), dst_info)
    src.map_blocks(lambda c: c.astype(np.float32) / 255.0, dst)
    out, _ = dst.cutout(((0, 16), (0, 16), (0, 8)))
    np.testing.assert_allclose(out, a.astype(np.float32) / 255.0)


def test_map_blocks_rejects_mismatched_lattice(spark, tmp_path):
    import pytest
    src_info = Info.from_dict({
        "num_channels": 1, "type": "image", "data_type": "uint8",
        "scales": [{"encoding": "gzip", "chunk_sizes": [[8, 8, 4]],
                    "key": "1_1_1", "resolution": [1, 1, 1],
                    "voxel_offset": [0, 0, 0], "size": [16, 16, 8]}]})
    dst_info = Info.from_dict({
        "num_channels": 1, "type": "image", "data_type": "uint8",
        "scales": [{"encoding": "gzip", "chunk_sizes": [[4, 4, 4]],
                    "key": "1_1_1", "resolution": [1, 1, 1],
                    "voxel_offset": [0, 0, 0], "size": [16, 16, 8]}]})
    src = Volume.create(spark, str(tmp_path / "mm_src"), src_info)
    dst = Volume.create(spark, str(tmp_path / "mm_dst"), dst_info)
    with pytest.raises(ValueError, match="lattice"):
        src.map_blocks(lambda c: c, dst)


# -- write-intent lock (single-writer epoch contract, volume.py) ------------

SMALL = {
    "num_channels": 1, "type": "image", "data_type": "uint8", "scales": [
        {"encoding": "gzip", "chunk_sizes": [[8, 8, 4]], "key": "1_1_1",
         "resolution": [1, 1, 1], "voxel_offset": [0, 0, 0],
         "size": [16, 16, 8]}]}


def test_second_concurrent_writer_raises(spark, tmp_path):
    from bigarrays_jl_spark.volume import ConcurrentWriterError
    v1 = Volume.create(spark, str(tmp_path / "lk"), Info.from_dict(SMALL))
    v2 = Volume.open(spark, v1.root)
    a = rand_u8((8, 8, 4))
    with v1._write_lock():  # writer 1 is mid-write
        with pytest.raises(ConcurrentWriterError, match="locked by another writer"):
            v2.write(a, (0, 0, 0))
    # writer 1 released the lock → writer 2 proceeds and lock is cleaned up
    v2.write(a, (0, 0, 0))
    assert not (tmp_path / "lk" / "_lock").exists()
    out, _ = v2.cutout(((0, 8), (0, 8), (0, 4)))
    assert (out == a).all()


def test_stale_lock_break_and_reentrancy(spark, tmp_path):
    from bigarrays_jl_spark.volume import ConcurrentWriterError
    vol = Volume.create(spark, str(tmp_path / "stale"), Info.from_dict(SMALL))
    a = rand_u8((8, 8, 4))
    # simulate a crashed writer that left its lock behind
    (tmp_path / "stale" / "_lock").write_bytes(b"pid=0 host=crashed")
    with pytest.raises(ConcurrentWriterError, match="break_lock"):
        vol.write(a, (0, 0, 0))
    vol.break_lock()
    vol.write(a, (0, 0, 0))
    # reentrant within one handle: a composite writer holding the lock can
    # call another locked method (e.g. compact inside a write path)
    with vol._write_lock():
        vol.compact()
    out, _ = vol.cutout(((0, 8), (0, 8), (0, 4)))
    assert (out == a).all()


def test_cutout_voxel_budget_guard(spark, tmp_path):
    # a cutout materializes the whole request box on the driver; a
    # request above the budget must fail fast with a pointer to the
    # distributed paths instead of OOMing before Spark even runs
    vol = Volume.create(spark, str(tmp_path / "budget"), Info.from_dict(SMALL))
    a = rand_u8((8, 8, 4))
    vol.write(a, (0, 0, 0))
    vol.cutout_voxel_budget = 100
    with pytest.raises(ValueError, match="voxels.*budget|budget"):
        vol.cutout(((0, 16), (0, 16), (0, 8)))   # 2048 voxels > 100
    out, _ = vol.cutout(((0, 8), (0, 4), (0, 2)))  # 64 voxels: fine
    assert (out == a[:8, :4, :2]).all()
    vol.cutout_voxel_budget = 2 ** 31
    out, _ = vol.cutout(((0, 16), (0, 16), (0, 8)))
    assert (out[:8, :8, :4] == a).all()


def test_auto_compaction_restores_fast_path(spark, tmp_path):
    # repeated overwrites accumulate epochs; once the policy threshold is
    # crossed the writer folds history itself, so a subsequent read plans
    # the no-shuffle `_latest` fast path (no max_by dedupe aggregate)
    vol = Volume.create(spark, str(tmp_path / "ac"), Info.from_dict(SMALL))
    vol.auto_compact_epochs = 4
    last = None
    for i in range(6):
        last = rand_u8((16, 16, 8))
        vol.write(last, (0, 0, 0))
    # 6 writes with threshold 4 -> compaction ran at least once
    assert vol._current_epoch() < 4
    out, _ = vol.cutout(((0, 16), (0, 16), (0, 8)))
    assert (out == last).all()                      # latest write survives
    vol.compact()                                   # idempotent manual fold
    plan = vol._latest(vol.chunks_df())._jdf.queryExecution().executedPlan().toString()
    assert "max_by" not in plan                     # fast path: scan only
    assert vol._current_epoch() == 0


def test_compact_folds_every_mip(spark, tmp_path):
    # downsample appends epochs to mip+1; compact must fold ALL mips
    # before resetting the dataset-global epoch counter, or mip+1 reads
    # would silently skip their dedupe
    info = Info.from_dict({
        "num_channels": 1, "type": "image", "data_type": "uint8",
        "scales": [{"encoding": "gzip", "chunk_sizes": [[8, 8, 4]],
                    "key": "1_1_1", "resolution": [1, 1, 1],
                    "voxel_offset": [0, 0, 0], "size": [16, 16, 8]}]}).with_mips(2)
    vol = Volume.create(spark, str(tmp_path / "mipc"), info)
    vol.auto_compact_epochs = None                  # manual control
    a = rand_u8((16, 16, 8))
    vol.write(a, (0, 0, 0))
    vol.downsample()                                # mip1 epoch e1
    b = rand_u8((16, 16, 8))
    vol.write(b, (0, 0, 0))
    vol.downsample()                                # mip1 epoch e2 (overwrites)
    vol.compact()
    assert vol._current_epoch() == 0
    m1 = vol.mip_volume(1)
    # single row per key at mip1 (history folded), values = downsample of b
    keys = [r.key for r in m1.chunks_df().select("key").collect()]
    assert len(keys) == len(set(keys))
    out, _ = m1.cutout(((0, 8), (0, 8), (0, 8)))
    expect = np.rint((b[0::2, 0::2, :].astype(np.float64) + b[1::2, 0::2, :]
                      + b[0::2, 1::2, :] + b[1::2, 1::2, :]) / 4.0).astype(np.uint8)
    np.testing.assert_array_equal(out, expect)


def test_auto_compact_skips_append_only_workload(spark):
    # epochs count write GENERATIONS; disjoint appends must not trigger
    # the full rewrite (quadratic IO at scale) — only real overwrite
    # history does
    import numpy as np

    from bigarrays_jl_spark.infos import Info
    from bigarrays_jl_spark.volume import Volume

    info = Info.from_dict({
        "num_channels": 1, "type": "image", "data_type": "uint8",
        "scales": [{"encoding": "raw", "chunk_sizes": [[8, 8, 8]],
                    "key": "1_1_1", "resolution": [1, 1, 1],
                    "voxel_offset": [0, 0, 0], "size": [64, 8, 8]}]})
    vol = Volume.scratch(spark, info)
    vol.auto_compact_epochs = 4
    for i in range(6):  # 6 disjoint chunks: append-only, never overwrite
        vol.write(np.full((8, 8, 8), i + 1, dtype=np.uint8), (8 * i, 0, 0))
    # past the threshold yet NOT compacted: epoch history retained
    assert vol._current_epoch() >= 4
    eps = {r.epoch for r in vol.chunks_df(0).select("epoch").collect()}
    assert len(eps) > 1, "append-only history must not be rewritten"
    # an actual overwrite at the threshold still folds everything
    for _ in range(5):
        vol.write(np.full((8, 8, 8), 99, dtype=np.uint8), (0, 0, 0))
    eps = {r.epoch for r in vol.chunks_df(0).select("epoch").collect()}
    assert eps == {0}, f"overwrite history should compact, got {eps}"
    got = vol[0:48, 0:8, 0:8]
    want = np.concatenate(
        [np.full((8, 8, 8), v, dtype=np.uint8)
         for v in (99, 2, 3, 4, 5, 6)], axis=0)
    np.testing.assert_array_equal(got, want)


def test_setitem_rejects_shape_mismatch(spark):
    import numpy as np
    import pytest as _pytest

    from bigarrays_jl_spark.infos import Info
    from bigarrays_jl_spark.volume import Volume

    info = Info.from_dict({
        "num_channels": 1, "type": "image", "data_type": "uint8",
        "scales": [{"encoding": "raw", "chunk_sizes": [[8, 8, 8]],
                    "key": "1_1_1", "resolution": [1, 1, 1],
                    "voxel_offset": [0, 0, 0], "size": [16, 16, 16]}]})
    vol = Volume.scratch(spark, info)
    with _pytest.raises(ValueError, match="shape mismatch"):
        vol[0:16, 0:8, 0:8] = np.zeros((8, 8, 8), dtype=np.uint8)


def test_numpy_integer_indices(spark):
    import numpy as np

    from bigarrays_jl_spark.infos import Info
    from bigarrays_jl_spark.volume import Volume

    info = Info.from_dict({
        "num_channels": 1, "type": "image", "data_type": "uint8",
        "scales": [{"encoding": "raw", "chunk_sizes": [[8, 8, 8]],
                    "key": "1_1_1", "resolution": [1, 1, 1],
                    "voxel_offset": [0, 0, 0], "size": [8, 8, 8]}]})
    vol = Volume.scratch(spark, info)
    a = np.arange(8 * 8 * 8, dtype=np.uint8).reshape(8, 8, 8) % 251
    vol.write(a, (0, 0, 0))
    z = np.int64(3)  # the natural product of np.argmax etc.
    got = vol[0:8, np.int32(2), z]
    np.testing.assert_array_equal(got[:, 0, 0], a[:, 2, 3])


def test_num_chunks_closed_form_matches_lattice(spark):
    from bigarrays_jl_spark import indexes as ix
    from bigarrays_jl_spark.infos import Info
    from bigarrays_jl_spark.volume import Volume

    info = Info.from_dict({
        "num_channels": 1, "type": "image", "data_type": "uint8",
        "scales": [{"encoding": "raw", "chunk_sizes": [[8, 8, 8]],
                    "key": "1_1_1", "resolution": [1, 1, 1],
                    "voxel_offset": [-4, 0, 3], "size": [20, 17, 30]}]})
    vol = Volume.scratch(spark, info)
    sc = vol.scale
    for req in (None, ((-4, 16), (0, 17), (3, 33)), ((0, 1), (0, 1), (3, 4)),
                ((-100, -50), (0, 1), (3, 4)), ((5, 13), (8, 9), (10, 29))):
        want = sum(1 for _ in ix.iter_chunk_slices(
            ix.intersect_box(req or vol.vol_box, vol.vol_box),
            sc.voxel_offset, sc.volume_size, sc.chunk_size)) if req != (
                (-100, -50), (0, 1), (3, 4)) else 0
        assert vol.num_chunks(req) == want, req


def test_downsample_emits_no_spurious_zero_chunks(spark):
    # only the edge chunk [64,65) on x is written; its 2x2x1 reduction
    # lands at gx0=32, outside the halved dst volume [0,32) — the
    # assemble stage must emit NOTHING, not a stored all-zero chunk
    # (which would break fill_missing=False at mip+1)
    import numpy as np

    from bigarrays_jl_spark.infos import Info
    from bigarrays_jl_spark.volume import Volume

    info = Info.from_dict({
        "num_channels": 1, "type": "image", "data_type": "uint8",
        "scales": [{"encoding": "raw", "chunk_sizes": [[64, 64, 64]],
                    "key": "1_1_1", "resolution": [1, 1, 1],
                    "voxel_offset": [0, 0, 0], "size": [65, 64, 64]}]})
    vol = Volume.scratch(spark, info)
    vol.write(np.full((1, 64, 64), 200, dtype=np.uint8), (64, 0, 0))
    vol.downsample(from_mip=0)
    assert vol.chunks_df(1).count() == 0, \
        "no source data maps inside the dst volume, so mip1 must be empty"


def _rc_info(chunk, size=(24, 16, 8), dtype="uint8"):
    return Info.from_dict({
        "num_channels": 1, "type": "image", "data_type": dtype,
        "scales": [{"encoding": "gzip", "chunk_sizes": [list(chunk)],
                    "key": "1_1_1", "resolution": [1, 1, 1],
                    "voxel_offset": [0, 0, 0], "size": list(size)}]})


def test_rechunk_split_roundtrip(spark, tmp_path):
    # 8x8x4 -> 4x4x2: pure map path (each source chunk emits its
    # sub-chunks), boundary chunks included (size 24x16x8 is not a
    # multiple of anything interesting but clamps identically)
    src = Volume.create(spark, str(tmp_path / "rs_src"), _rc_info((8, 8, 4)))
    a = rand_u8((24, 16, 8))
    src.write(a, (0, 0, 0))
    dst = Volume.create(spark, str(tmp_path / "rs_dst"), _rc_info((4, 4, 2)))
    src.rechunk(dst)
    out, _ = dst.cutout(((0, 24), (0, 16), (0, 8)))
    np.testing.assert_array_equal(out, a)
    assert dst.num_chunks() < dst.chunks_df().count() + 1  # table written
    assert dst.chunks_df().count() == 6 * 4 * 4


def test_rechunk_merge_roundtrip_with_missing_chunks(spark, tmp_path):
    # 4x4x2 -> 8x8x4: grouped-assembly path; leave part of the volume
    # unwritten so absent source chunks must zero-fill in the dest
    src = Volume.create(spark, str(tmp_path / "rm_src"), _rc_info((4, 4, 2)))
    a = rand_u8((16, 16, 8))
    src.write(a, (0, 0, 0))        # covers x<16 only; x in [16,24) missing
    dst = Volume.create(spark, str(tmp_path / "rm_dst"), _rc_info((8, 8, 4)))
    src.rechunk(dst)
    out, _ = dst.cutout(((0, 24), (0, 16), (0, 8)))
    want = np.zeros((24, 16, 8), dtype=np.uint8)
    want[:16] = a
    np.testing.assert_array_equal(out, want)


def test_rechunk_rejects_non_nesting_lattice(spark, tmp_path):
    src = Volume.create(spark, str(tmp_path / "rx_src"), _rc_info((8, 8, 4)))
    # 6 neither divides nor is divided by 8 on x
    dst = Volume.create(spark, str(tmp_path / "rx_dst"), _rc_info((6, 8, 4)))
    with pytest.raises(ValueError, match="nest"):
        src.rechunk(dst)
    # mixed split/merge (16 on x = merge, 4 on y = split) must also raise
    dst2 = Volume.create(spark, str(tmp_path / "rx_dst2"),
                         _rc_info((16, 4, 4)))
    with pytest.raises(ValueError, match="nest"):
        src.rechunk(dst2)


def test_fsck_clean_and_corrupted(spark, tmp_path):
    import gzip

    vol = Volume.create(spark, str(tmp_path / "fsck"), _rc_info((8, 8, 4)))
    a = rand_u8((24, 16, 8))
    vol.write(a, (0, 0, 0))
    clean = vol.fsck()
    assert clean.count() == 12 and clean.filter("NOT ok").count() == 0

    # corrupt one chunk (truncated payload) and misplace another
    # (key that is not this lattice's clamped box for its cid), at a
    # later epoch so _latest surfaces exactly these rows
    bad = spark.createDataFrame(
        [(0, 0, 0, "0-8_0-8_0-4", "gzip", 99,
          gzip.compress(b"\x00" * 10)),          # 10 B != 8*8*4
         (1, 0, 0, "0-8_0-8_0-4", "gzip", 99,    # foreign key for cid(1,0,0)
          gzip.compress(b"\x00" * (8 * 8 * 4)))],
        "cx int, cy int, cz int, key string, enc string, epoch bigint, "
        "payload binary")
    vol._write_chunks(bad)
    # epoch tracker: _latest consults _current_epoch; bump via marker
    vol._next_epoch()
    report = {r.key + f"@{r.ok}": r.error for r in vol.fsck().collect()}
    flagged = vol.fsck().filter("NOT ok").collect()
    assert len(flagged) == 2, report
    errs = " | ".join(r.error for r in flagged)
    assert "B != expected" in errs and "lattice box" in errs


def test_rechunk_multichannel_roundtrip(spark, tmp_path):
    info = Info.from_dict({
        "num_channels": 2, "type": "image", "data_type": "uint8",
        "scales": [{"encoding": "gzip", "chunk_sizes": [[8, 8, 4]],
                    "key": "1_1_1", "resolution": [1, 1, 1],
                    "voxel_offset": [0, 0, 0], "size": [16, 8, 8]}]})
    src = Volume.create(spark, str(tmp_path / "rc2_src"), info)
    a = rand_u8((16, 8, 8, 2))
    src.write(a, (0, 0, 0))
    dinfo = Info.from_dict({
        "num_channels": 2, "type": "image", "data_type": "uint8",
        "scales": [{"encoding": "gzip", "chunk_sizes": [[4, 4, 4]],
                    "key": "1_1_1", "resolution": [1, 1, 1],
                    "voxel_offset": [0, 0, 0], "size": [16, 8, 8]}]})
    dst = Volume.create(spark, str(tmp_path / "rc2_dst"), dinfo)
    src.rechunk(dst)
    out, _ = dst.cutout(((0, 16), (0, 8), (0, 8)))
    np.testing.assert_array_equal(out, a)


def test_rechunk_unaligned_offset_both_directions(spark, tmp_path):
    # voxel_offset 5 with chunk sizes 8 and 4 gives DIFFERENT lattice
    # anchors (5%8=5 vs 5%4=1) — the lattices still nest through the
    # shared offset, and both migration directions must round-trip
    def info(chunk):
        return Info.from_dict({
            "num_channels": 1, "type": "image", "data_type": "uint8",
            "scales": [{"encoding": "gzip", "chunk_sizes": [list(chunk)],
                        "key": "1_1_1", "resolution": [1, 1, 1],
                        "voxel_offset": [5, 0, 0], "size": [19, 8, 8]}]})
    a = rand_u8((19, 8, 8))
    box = ((5, 24), (0, 8), (0, 8))

    src = Volume.create(spark, str(tmp_path / "ua_src"), info((8, 8, 4)))
    src.write(a, (5, 0, 0))
    dst = Volume.create(spark, str(tmp_path / "ua_dst"), info((4, 4, 2)))
    src.rechunk(dst)                     # split, anchors 5/0/0 vs 1/0/0
    out, _ = dst.cutout(box)
    np.testing.assert_array_equal(out, a)

    back = Volume.create(spark, str(tmp_path / "ua_back"), info((8, 8, 4)))
    dst.rechunk(back)                    # merge, the reverse mapping
    out2, _ = back.cutout(box)
    np.testing.assert_array_equal(out2, a)


def test_build_pyramid_to_collapse(spark, tmp_path):
    # full pyramid from 32x32x8: mip sizes halve in x/y until the
    # extent collapses; every level must agree with direct striding/
    # averaging of the level below
    info = Info.from_dict({
        "num_channels": 1, "type": "image", "data_type": "uint8",
        "scales": [{"encoding": "gzip", "chunk_sizes": [[8, 8, 4]],
                    "key": "1_1_1", "resolution": [1, 1, 1],
                    "voxel_offset": [0, 0, 0], "size": [32, 32, 8]}]})
    vol = Volume.create(spark, str(tmp_path / "pyr"), info)
    a = rand_u8((32, 32, 8))
    vol.write(a, (0, 0, 0))
    built = vol.build_pyramid()
    assert built == 5          # 32 -> 16 -> 8 -> 4 -> 2 -> 1
    top = Volume.open(spark, vol.root, mip=built)
    assert tuple(top.scale.volume_size[:2]) == (1, 1)
    out, _ = top.cutout(((0, 1), (0, 1), (0, 8)))
    assert out.shape[:2] == (1, 1)
    # bounded levels: a fresh volume builds exactly the requested count
    vol2 = Volume.create(spark, str(tmp_path / "pyr2"), info)
    vol2.write(a, (0, 0, 0))
    assert vol2.build_pyramid(levels=2) == 2
    assert Volume.open(spark, vol2.root, mip=2).chunks_df(2).count() > 0


def test_stats_reports_fill_and_bytes(spark, tmp_path):
    vol = Volume.create(spark, str(tmp_path / "st"), _rc_info((8, 8, 4)))
    a = rand_u8((16, 16, 8))
    vol.write(a, (0, 0, 0))        # fills 8 of the 12 lattice chunks
    s = vol.stats()
    assert s["lattice_chunks"] == 12 and s["stored_chunks"] == 8
    assert s["fill_ratio"] == round(8 / 12, 6)
    # random bytes don't compress; gzip adds ~10% framing overhead
    assert 0 < s["stored_bytes"] < 2 * a.nbytes
    assert s["raw_bytes"] == s["stored_bytes"]   # no overwrites yet
    assert s["encoding"] == "gzip" and s["write_epochs"] == 1
    # after the pyramid, mip 1 reports its OWN lattice and generation
    # depth (not the dataset-global epoch counter)
    vol.downsample()
    s1 = vol.stats(mip=1)
    assert s1["mip"] == 1 and s1["stored_chunks"] > 0
    assert s1["lattice_chunks"] == 2 * 1 * 2     # 12x8x8 over 8x8x4
    assert s1["write_epochs"] == 1
    assert vol.stats()["write_epochs"] == 1      # mip 0 unchanged
    # overwrite part of mip 0: live bytes stay one generation, raw
    # bytes include the superseded rows until compact()
    vol.write(rand_u8((8, 8, 4)), (0, 0, 0))
    s2 = vol.stats()
    assert s2["write_epochs"] == 2
    assert s2["raw_rows"] == s2["stored_chunks"] + 1
    assert s2["raw_bytes"] > s2["stored_bytes"]


def test_stats_empty_volume(spark, tmp_path):
    vol = Volume.create(spark, str(tmp_path / "empty"), _rc_info((8, 8, 4)))
    s = vol.stats()
    assert s["stored_chunks"] == 0 and s["raw_rows"] == 0
    assert s["stored_bytes"] == 0 and s["raw_bytes"] == 0
    assert s["write_epochs"] == 0
    assert s["lattice_chunks"] == 12 and s["fill_ratio"] == 0.0


def test_downsample_mean_multichannel(spark, tmp_path):
    # the reference's cloud volumes are 3/4-channel affinity maps
    # (ref test/GSDicts.jl:7-67): the 2x2x1 mean must reduce each
    # channel independently and preserve the channel axis end-to-end
    info = Info.from_dict({
        "num_channels": 3, "type": "image", "data_type": "uint8",
        "scales": [{"encoding": "gzip", "chunk_sizes": [[8, 8, 4]],
                    "key": "1_1_1", "resolution": [1, 1, 1],
                    "voxel_offset": [0, 0, 0], "size": [32, 32, 8]}]})
    vol = Volume.create(spark, str(tmp_path / "mips4d"), info)
    a = rand_u8((32, 32, 8, 3))
    vol.write(a, (0, 0, 0))
    vol.downsample()
    v2 = Volume.open(spark, vol.root, mip=1)
    assert v2.scale.volume_size == (16, 16, 8)
    out, _ = v2.cutout(((0, 16), (0, 16), (0, 8)))
    assert out.shape == (16, 16, 8, 3)
    expect = np.rint((a[0::2, 0::2].astype(np.float64) + a[1::2, 0::2]
                      + a[0::2, 1::2] + a[1::2, 1::2]) / 4.0).astype(np.uint8)
    np.testing.assert_array_equal(out, expect)
    # per-channel independence: downsampling channel c alone gives the
    # same plane the 4D reduce produced for c
    for c in range(3):
        one = np.rint((a[0::2, 0::2, :, c].astype(np.float64)
                       + a[1::2, 0::2, :, c] + a[0::2, 1::2, :, c]
                       + a[1::2, 1::2, :, c]) / 4.0).astype(np.uint8)
        np.testing.assert_array_equal(out[..., c], one)


def _hand_built_precomputed(tmp_path):
    """A reference-format layer built by hand: info JSON + loose
    Fortran-order gzip chunk files named by the neuroglancer key."""
    import gzip
    root = tmp_path / "ref_layer"
    mip = root / "1_1_1"
    mip.mkdir(parents=True)
    info = {"num_channels": 1, "type": "image", "data_type": "uint8",
            "scales": [{"encoding": "gzip", "chunk_sizes": [[64, 64, 64]],
                        "key": "1_1_1", "resolution": [1, 1, 1],
                        "voxel_offset": [0, 0, 0], "size": [128, 64, 64]}]}
    (root / "info").write_text(json.dumps(info))
    a = rand_u8((128, 64, 64))
    for x0 in (0, 64):
        block = a[x0:x0 + 64]
        # .gz-suffixed and bare names both occur in the wild
        name = f"{x0}-{x0+64}_0-64_0-64" + (".gz" if x0 == 0 else "")
        (mip / name).write_bytes(gzip.compress(block.tobytes(order="F")))
    (mip / "README.txt").write_text("stray non-chunk file")
    return str(root), a


def test_import_precomputed_reads_reference_layout(spark, tmp_path):
    src, a = _hand_built_precomputed(tmp_path)
    vol = Volume.import_precomputed(spark, src, str(tmp_path / "imported"))
    out, origin = vol.cutout(((0, 128), (0, 64), (0, 64)))
    assert origin == (0, 0, 0)
    np.testing.assert_array_equal(out, a)
    # stored without recompression, encoding sniffed per file
    assert len(vol.keys()) == 2
    from pyspark.sql import functions as SF
    assert vol.fsck().filter(~SF.col("ok")).count() == 0


def test_export_import_round_trip(spark, tmp_path):
    import gzip
    info = Info.from_dict({
        "num_channels": 1, "type": "image", "data_type": "uint8",
        "scales": [{"encoding": "gzip", "chunk_sizes": [[32, 32, 32]],
                    "key": "1_1_1", "resolution": [1, 1, 1],
                    "voxel_offset": [0, 0, 0], "size": [64, 64, 32]}]})
    vol = Volume.create(spark, str(tmp_path / "src_ds"), info)
    a = rand_u8((64, 64, 32))
    vol.write(a, (0, 0, 0))
    out_dir = str(tmp_path / "exported")
    n = vol.export_precomputed(out_dir)
    assert n == 4
    # the exported layer is reference-readable: decode one file by hand
    import os
    files = sorted(os.listdir(os.path.join(out_dir, "1_1_1")))
    assert "0-32_0-32_0-32" in files
    raw = gzip.decompress(
        open(os.path.join(out_dir, "1_1_1", "0-32_0-32_0-32"), "rb").read())
    np.testing.assert_array_equal(
        np.frombuffer(raw, dtype=np.uint8).reshape((32, 32, 32), order="F"),
        a[0:32, 0:32, 0:32])
    # and round-trips through import
    re = Volume.import_precomputed(spark, out_dir,
                                   str(tmp_path / "reimported"))
    np.testing.assert_array_equal(re[0:64, 0:64, 0:32], a)


def test_export_precomputed_gz_suffix(spark, tmp_path):
    info = Info.from_dict({
        "num_channels": 1, "type": "image", "data_type": "uint8",
        "scales": [{"encoding": "gzip", "chunk_sizes": [[32, 32, 32]],
                    "key": "1_1_1", "resolution": [1, 1, 1],
                    "voxel_offset": [0, 0, 0], "size": [32, 32, 32]}]})
    vol = Volume.create(spark, str(tmp_path / "srcz"), info)
    vol.write(rand_u8((32, 32, 32)), (0, 0, 0))
    out_dir = str(tmp_path / "exportedz")
    vol.export_precomputed(out_dir, gz_suffix=True)
    import os
    assert os.listdir(os.path.join(out_dir, "1_1_1")) == \
        ["0-32_0-32_0-32.gz"]


def test_voxels_column_pruning(spark, vol, tmp_path):
    """voxels() derives x, y, z and c as Catalyst expressions, so a
    select prunes the unused ones out of the plan."""
    from pyspark.sql import functions as SF
    a = rand_u8((100, 100, 5))
    vol[0:100, 0:100, 0:5] = a
    box = ((0, 100), (0, 100), (0, 5))
    full = vol.voxels(box)
    assert full.columns == ["x", "y", "z", "c", "value"]
    pruned = full.select("value")
    s1 = pruned.agg(SF.sum("value"), SF.count("*")).collect()[0]
    s2 = full.agg(SF.sum("value"), SF.count("*")).collect()[0]
    assert tuple(s1) == tuple(s2) == (int(a.sum()), a.size)
    plan = pruned._jdf.queryExecution().optimizedPlan().toString()
    assert "posexplode" in plan
    assert " % " not in plan and " div " not in plan, plan

    # coordinates and channel exact on a multi-channel volume with a
    # negative offset, for a box cutting through chunks and the edge
    info = Info.from_dict({
        "num_channels": 3, "type": "image", "data_type": "uint16",
        "scales": [{"encoding": "gzip", "chunk_sizes": [[4, 3, 2]],
                    "key": "1_1_1", "resolution": [1, 1, 1],
                    "voxel_offset": [-5, -4, -3], "size": [9, 7, 5]}]})
    mc = Volume.create(spark, str(tmp_path / "mc"), info)
    b = RNG.integers(0, 65536, size=(9, 7, 5, 3), dtype=np.uint16)
    mc.write(b, (-5, -4, -3))
    req = ((-4, 6), (-6, 2), (-2, 1))
    got = {(r.x, r.y, r.z, r.c): r.value for r in mc.voxels(req).collect()}
    want = {(x, y, z, c): int(b[x + 5, y + 4, z + 3, c])
            for x in range(-4, 4) for y in range(-4, 2)
            for z in range(-2, 1) for c in range(3)}
    assert got == want


def test_import_precomputed_negative_offset_multichannel(spark, tmp_path):
    # the reference's hardest key semantics in one layer: negative
    # voxel_offset (negative-coordinate keys, C8 parity) and a channel
    # axis (Fortran-order channel-last payloads)
    import gzip
    root = tmp_path / "neg_layer"
    mip = root / "1_1_1"
    mip.mkdir(parents=True)
    info = {"num_channels": 2, "type": "image", "data_type": "uint8",
            "scales": [{"encoding": "gzip", "chunk_sizes": [[32, 32, 8]],
                        "key": "1_1_1", "resolution": [1, 1, 1],
                        "voxel_offset": [-32, -32, -8],
                        "size": [64, 64, 16]}]}
    (root / "info").write_text(json.dumps(info))
    a = rand_u8((64, 64, 16, 2))
    for x0 in (-32, 0):
        for y0 in (-32, 0):
            for z0 in (-8, 0):
                block = a[x0 + 32:x0 + 64, y0 + 32:y0 + 64,
                          z0 + 8:z0 + 16]
                key = f"{x0}-{x0+32}_{y0}-{y0+32}_{z0}-{z0+8}"
                (mip / key).write_bytes(
                    gzip.compress(block.tobytes(order="F")))
    vol = Volume.import_precomputed(spark, str(root),
                                    str(tmp_path / "neg_imported"))
    out, origin = vol.cutout(((-32, 32), (-32, 32), (-8, 8)))
    assert origin == (-32, -32, -8)
    np.testing.assert_array_equal(out, a)
    # interior sub-box crossing the origin in every axis
    sub, o2 = vol.cutout(((-5, 5), (-9, 3), (-2, 6)))
    assert o2 == (-5, -9, -2)
    np.testing.assert_array_equal(sub, a[27:37, 23:35, 6:14])
    # export → reimport preserves the negative-key layout byte-for-byte
    out_dir = str(tmp_path / "neg_exported")
    assert vol.export_precomputed(out_dir) == 8
    import os
    names = set(os.listdir(os.path.join(out_dir, "1_1_1")))
    assert "-32-0_-32-0_-8-0" in names
    re = Volume.import_precomputed(spark, out_dir,
                                   str(tmp_path / "neg_reimported"))
    np.testing.assert_array_equal(
        re.cutout(((-32, 32), (-32, 32), (-8, 8)))[0], a)


def test_export_import_multi_mip_pyramid(spark, tmp_path):
    # a pyramided dataset migrates with every mip level intact
    info = Info.from_dict({
        "num_channels": 1, "type": "image", "data_type": "uint8",
        "scales": [{"encoding": "gzip", "chunk_sizes": [[16, 16, 8]],
                    "key": "1_1_1", "resolution": [1, 1, 1],
                    "voxel_offset": [0, 0, 0], "size": [32, 32, 8]}]})
    vol = Volume.create(spark, str(tmp_path / "pyr_src"), info)
    a = rand_u8((32, 32, 8))
    vol.write(a, (0, 0, 0))
    vol.downsample()
    out_dir = str(tmp_path / "pyr_exported")
    n = vol.export_precomputed(out_dir)
    assert n == (2 * 2 * 1) + (1 * 1 * 1)   # mip0 chunks + mip1 chunk
    import os
    assert sorted(os.listdir(out_dir)) == ["1_1_1", "2_2_1", "info"]
    re = Volume.import_precomputed(spark, out_dir,
                                   str(tmp_path / "pyr_reimported"))
    np.testing.assert_array_equal(re[0:32, 0:32, 0:8], a)
    m1 = Volume.open(spark, re.root, mip=1)
    expect = np.rint((a[0::2, 0::2].astype(np.float64) + a[1::2, 0::2]
                      + a[0::2, 1::2] + a[1::2, 1::2]) / 4.0).astype(np.uint8)
    np.testing.assert_array_equal(
        m1.cutout(((0, 16), (0, 16), (0, 8)))[0], expect)
