"""The driver-local cutout's chunk index (chunk_index.py): it must stay
current when other handles write, compact or re-open the dataset, read
older on-disk layouts exactly as before, and report which chunk broke
when a payload does not decode.  Both writers must put one chunk in
each row group.  Driver-local writes and compactions keep the
decoded-chunk cache filled with exactly what the store decodes to, and
the index's one winner table agrees with a brute-force reference.
Every case is checked against a numpy mirror."""
import gzip
import importlib.util
import os
import shutil
import sys
import threading
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from bigarrays_jl_spark import indexes as ix
from bigarrays_jl_spark import chunk_index
from bigarrays_jl_spark.chunk_index import ChunkIndex, list_part_files
from bigarrays_jl_spark.infos import Info
from bigarrays_jl_spark.volume import (ChunkDecodeError,
                                       ConcurrentWriterError, Volume)

BOXES = [((0, 128), (0, 128), (0, 128)), ((5, 61), (17, 90), (3, 127)),
         ((-8, 40), (100, 140), (60, 70)), ((31, 33), (31, 33), (31, 33))]


def _info(enc="gzip", size=(128, 128, 128), chunk=(32, 32, 32)):
    return Info.from_dict({
        "num_channels": 1, "type": "image", "data_type": "uint8",
        "scales": [{"encoding": enc, "chunk_sizes": [list(chunk)],
                    "key": "1_1_1", "resolution": [1, 1, 1],
                    "voxel_offset": [0, 0, 0], "size": list(size)}]})


def _arr(shape, seed):
    return np.random.default_rng(seed).integers(0, 256, size=shape,
                                                dtype=np.uint8)


def _want(mirror, box):
    out = np.zeros(ix.box_shape(box), dtype=mirror.dtype)
    src = tuple(slice(max(lo, 0), min(hi, n))
                for (lo, hi), n in zip(box, mirror.shape))
    if all(s.stop > s.start for s in src):
        dst = tuple(slice(s.start - lo, s.stop - lo)
                    for s, (lo, _) in zip(src, box))
        out[dst] = mirror[src]
    return out


def _check(vol, mirror):
    for box in BOXES:
        out, origin = vol.cutout(box)
        assert origin == tuple(lo for lo, _ in box)
        assert np.array_equal(out, _want(mirror, box)), box


def _chunk_rows(arr, info, epoch, enc="gzip"):
    """(cx, cy, cz, key, enc, epoch, payload) rows of a whole-volume
    array, sorted by (cz, cy, cx)."""
    sc = info.scale(0)
    rows = []
    for cs in ix.iter_chunk_slices(ix.volume_box(sc.voxel_offset,
                                                 sc.volume_size),
                                   sc.voxel_offset, sc.volume_size,
                                   sc.chunk_size):
        block = arr[tuple(slice(lo, hi) for lo, hi in cs.chunk_box)]
        payload = np.asfortranarray(block).tobytes(order="F")
        if enc == "gzip":
            payload = gzip.compress(payload)
        rows.append((*cs.cid, cs.key, enc, epoch, payload))
    return sorted(rows, key=lambda r: (r[2], r[1], r[0]))


def _write_rows(path, rows, **kw):
    cols = list(zip(*rows))
    tbl = pa.table({
        "cx": pa.array(cols[0], pa.int32()),
        "cy": pa.array(cols[1], pa.int32()),
        "cz": pa.array(cols[2], pa.int32()),
        "key": pa.array(cols[3], pa.string()),
        "enc": pa.array(cols[4], pa.string()),
        "epoch": pa.array(cols[5], pa.int64()),
        "payload": pa.array(cols[6], pa.binary())})
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(tbl, path, **kw)


def _latest(index, box):
    """``(key, enc, payload, part_file)`` of the winners of ``box``,
    through ``latest_decoded``: nothing caches a block of these files,
    so every winner is a miss and comes back with its payload."""
    found = index.latest_decoded(box, 1, np.uint8)
    assert found.blocks == [] and found.boxes.shape == (0, 3, 2)
    return [(key, enc, p, ident[0])
            for _, _, _, key, enc, p, ident in found.misses]


def test_second_handle_overwrite_is_seen(spark, tmp_path):
    root = str(tmp_path / "v")
    a = Volume.create(spark, root, _info())
    mirror = _arr((128, 128, 128), 1)
    a.write(mirror, (0, 0, 0))
    _check(a, mirror)                       # index built and warm
    b = Volume.open(spark, root)
    block = _arr((64, 32, 32), 2)
    b.write(block, (32, 64, 96))
    mirror[32:96, 64:96, 96:128] = block
    _check(a, mirror)
    _check(b, mirror)


def test_index_current_after_compact(spark, tmp_path):
    root = str(tmp_path / "v")
    a = Volume.create(spark, root, _info())
    a.auto_compact_epochs = None
    mirror = _arr((128, 128, 128), 3)
    a.write(mirror, (0, 0, 0))
    b = Volume.open(spark, root)
    b.auto_compact_epochs = None
    for i, off in enumerate([(0, 0, 0), (32, 32, 32), (0, 0, 0)]):
        block = _arr((32, 32, 32), 10 + i)
        b.write(block, off)
        mirror[tuple(slice(o, o + 32) for o in off)] = block
    _check(a, mirror)
    before = set(list_part_files(a._mip_dir()))
    b.compact()
    after = set(list_part_files(a._mip_dir()))
    assert before.isdisjoint(after)         # the compaction swapped files
    _check(a, mirror)
    index = a._chunk_indexes[a._mip_dir()]
    assert set(index._files) == after       # the swapped-out files dropped
    assert set(index._footers) <= after


def test_index_current_after_break_lock_and_reopen(spark, tmp_path):
    root = str(tmp_path / "v")
    a = Volume.create(spark, root, _info())
    mirror = _arr((128, 128, 128), 4)
    a.write(mirror, (0, 0, 0))
    _check(a, mirror)
    with open(os.path.join(root, "_lock"), "w") as f:
        f.write("pid=0 crashed writer")
    b = Volume.open(spark, root)
    block = _arr((32, 64, 32), 5)
    with pytest.raises(ConcurrentWriterError):
        b.write(block, (64, 0, 32))
    b.break_lock()
    b = Volume.open(spark, root)
    b.write(block, (64, 0, 32))
    mirror[64:96, 0:64, 32:64] = block
    _check(a, mirror)
    _check(Volume.open(spark, root), mirror)


def test_old_layout_reads_as_before(spark, tmp_path):
    """A 64-chunk single-row-group file plus an overwrite file written
    without statistics in multi-chunk row groups (the layout of earlier
    versions of both writers)."""
    root = str(tmp_path / "v")
    info = _info()
    vol = Volume.create(spark, root, info)
    base = _arr((128, 128, 128), 6)
    over = _arr((128, 128, 128), 7)
    d = vol._mip_dir()
    rows0 = _chunk_rows(base, info, 0)
    assert len(rows0) == 64
    _write_rows(os.path.join(d, "part-old-0.parquet"), rows0,
                row_group_size=64, compression="none")
    rows1 = [r for r in _chunk_rows(over, info, 1) if (r[0] + r[2]) % 3 == 0]
    _write_rows(os.path.join(d, "part-old-1.parquet"), rows1,
                row_group_size=5, compression="none",
                write_statistics=False)
    with open(os.path.join(root, "_epoch"), "w") as f:
        f.write("1")
    assert pq.read_metadata(os.path.join(d, "part-old-0.parquet")) \
        .num_row_groups == 1
    mirror = base.copy()
    for r in rows1:
        sl = tuple(slice(lo, hi) for lo, hi in ix.parse_chunk_key(r[3]))
        mirror[sl] = over[sl]
    _check(vol, mirror)
    vol.local_io = False
    _check(vol, mirror)


def test_list_part_files_discovery_rules(tmp_path):
    """The pyarrow.dataset rules: recurse, skip ``.``/``_`` names."""
    for rel in ("a.parquet", "sub/b.parquet", "_SUCCESS", ".a.parquet.crc",
                "_tmp/c.parquet", ".hidden/d.parquet"):
        p = tmp_path / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_bytes(b"x" * len(rel))
    found = list_part_files(str(tmp_path))
    assert sorted(os.path.relpath(p, tmp_path) for p in found) == \
        ["a.parquet", "sub/b.parquet"]
    assert found[str(tmp_path / "a.parquet")][0] == len("a.parquet")
    assert list_part_files(str(tmp_path / "absent")) == {}


def test_footer_cache_is_bounded(tmp_path, monkeypatch):
    """Footers beyond the row-group budget are evicted (or never kept)
    and re-read on demand; lookups return the same rows either way."""
    monkeypatch.setattr(chunk_index, "FOOTER_CACHE_ROW_GROUPS", 6)
    want = {}
    for f, n in enumerate((4, 4, 8)):
        rows = [(f, i, 0, f"{f}-{i}", "raw", 0, bytes([f, i]) * 3)
                for i in range(n)]
        _write_rows(str(tmp_path / f"part-{f}.parquet"), rows,
                    row_group_size=1)
        want.update({r[3]: r[6] for r in rows})
    index = ChunkIndex(str(tmp_path))
    for _ in range(2):
        got = _latest(index, ((0, 3), (0, 8), (0, 1)))
        assert {k: p for k, _, p, _ in got} == want
        assert all(enc == "raw" for _, enc, _, _ in got)
        assert index._footer_rgs <= 6
        assert len(index._footers) == 1     # one 4-chunk footer fits


def test_concurrent_lookups_while_files_arrive(tmp_path, monkeypatch):
    """Eight threads share one index while new epochs land and footers
    are evicted: every lookup sees one whole epoch no older than the
    last one committed before it started, and the footer accounting
    stays exact."""
    monkeypatch.setattr(chunk_index, "FOOTER_CACHE_ROW_GROUPS", 20)
    keys = [f"k{i}" for i in range(8)]

    def commit(epoch):
        tmp = str(tmp_path / f"_tmp-{epoch}.parquet")
        _write_rows(tmp, [(i, 0, 0, k, "raw", epoch, b"%d" % epoch)
                          for i, k in enumerate(keys)], row_group_size=1)
        os.replace(tmp, str(tmp_path / f"part-{epoch}.parquet"))

    commit(0)
    index, committed, errors = ChunkIndex(str(tmp_path)), [0], []
    done = threading.Event()

    def reader():
        try:
            while not done.is_set():
                floor = committed[0]
                got = _latest(index, ((0, 8), (0, 1), (0, 1)))
                epochs = {int(p) for _, _, p, _ in got}
                assert sorted(k for k, *_ in got) == keys, got
                assert len(epochs) == 1 and min(epochs) >= floor, epochs
        except Exception as e:  # noqa: BLE001 - reported below
            errors.append(e)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    threads = [threading.Thread(target=reader) for _ in range(8)]
    try:
        for t in threads:
            t.start()
        for epoch in range(1, 16):
            commit(epoch)
            committed[0] = epoch
    finally:
        done.set()
        for t in threads:
            t.join(timeout=60)
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[0]
    assert index._footer_rgs == sum(
        f.num_row_groups for f in index._footers.values()) <= 20


def _row_groups_per_row(d):
    mds = [pq.read_metadata(p) for p in list_part_files(d)]
    assert mds
    return [(m.num_row_groups, m.num_rows) for m in mds]


@pytest.mark.parametrize("local", [True, False])
def test_writers_put_one_chunk_per_row_group(spark, tmp_path, local):
    vol = Volume.create(spark, str(tmp_path / "v"), _info())
    vol.local_io = local
    mirror = _arr((128, 128, 128), 8)
    vol.write(mirror, (0, 0, 0))
    d = vol._mip_dir()
    counts = _row_groups_per_row(d)
    assert sum(n for _, n in counts) == 64
    assert all(g == n for g, n in counts), counts
    vol.write(mirror[:32, :32, :32], (0, 0, 0))
    vol.compact()                           # Spark or driver-local fold
    assert all(g == n for g, n in _row_groups_per_row(d))
    vol.local_io = True
    _check(vol, mirror)


def test_corrupt_payload_error_names_chunk_and_file(spark, tmp_path):
    vol = Volume.create(spark, str(tmp_path / "v"), _info())
    vol.write(_arr((128, 128, 128), 9), (0, 0, 0))
    key = "32-64_0-32_0-32"
    bad = os.path.join(vol._mip_dir(), "part-bad.parquet")
    _write_rows(bad, [(1, 0, 0, key, "gzip", 5,
                       gzip.compress(b"\x00" * 100)[:-4])])
    with pytest.raises(ChunkDecodeError) as ei:
        vol.cutout(((0, 64), (0, 32), (0, 32)))
    assert key in str(ei.value) and bad in str(ei.value)
    # a payload that decodes to the wrong byte count fails the reshape
    _write_rows(bad, [(1, 0, 0, key, "gzip", 6, gzip.compress(b"\x00" * 10))])
    with pytest.raises(ChunkDecodeError) as ei:
        vol.cutout(((40, 41), (0, 1), (0, 1)))
    assert key in str(ei.value) and bad in str(ei.value)


def test_corrupt_payload_fails_voxels_naming_chunk(spark, tmp_path):
    vol = Volume.create(spark, str(tmp_path / "v"), _info())
    vol.write(_arr((128, 128, 128), 9), (0, 0, 0))
    key = "32-64_0-32_0-32"
    _write_rows(os.path.join(vol._mip_dir(), "part-bad.parquet"),
                [(1, 0, 0, key, "gzip", 5,
                  gzip.compress(b"\x00" * 100)[:-4])])
    vol._next_epoch()                  # the corrupt row is the latest
    assert vol.voxels(((0, 32), (0, 32), (0, 32))).count() == 32 ** 3
    with pytest.raises(Exception, match="ChunkDecodeError") as ei:
        vol.voxels(((0, 64), (0, 32), (0, 32))).count()
    assert key in str(ei.value)


# -- jpeg aspect guard on both cutout paths ----------------------------------
#
# Pillow is optional, so a fake PIL stands in for it.  Its "jpeg" is an
# 8-byte header holding the image height and width, then the pixels.

SX, SY, SZ = 8, 8, 4
JPEG_KEY = "0-8_0-8_0-4"


def _fake_jpeg(img):
    h, w = img.shape
    return (b"FJ" + h.to_bytes(3, "little") + w.to_bytes(3, "little")
            + np.ascontiguousarray(img).tobytes())


def _fake_open(bio):
    raw = bio.read()
    h, w = (int.from_bytes(raw[2:5], "little"),
            int.from_bytes(raw[5:8], "little"))
    return np.frombuffer(raw[8:], np.uint8).reshape(h, w)


def _jpeg_volume(spark, tmp_path, payload):
    vol = Volume.create(spark, str(tmp_path / "jpg"),
                        _info(size=(SX, SY, SZ), chunk=(SX, SY, SZ)))
    _write_rows(os.path.join(vol._mip_dir(), "part-jpeg.parquet"),
                [(0, 0, 0, JPEG_KEY, "jpeg", 0, payload)])
    return vol


def _chunk_and_images():
    chunk = np.arange(SX * SY * SZ, dtype=np.uint8).reshape(
        (SX, SY, SZ), order="F")
    stacked = chunk.reshape((SX, SY * SZ), order="F").T    # (sy*sz, sx)
    wrong = stacked.reshape(SY * SZ // 2, SX * 2)           # same bytes
    return chunk, stacked, wrong


def test_jpeg_aspect_guard_local_cutout(spark, tmp_path, monkeypatch):
    import sys
    import types
    fake_pil = types.ModuleType("PIL")
    fake_pil.Image = types.SimpleNamespace(open=_fake_open)
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    chunk, stacked, wrong = _chunk_and_images()
    box = ((0, SX), (0, SY), (0, SZ))
    good = _jpeg_volume(spark, tmp_path / "good", _fake_jpeg(stacked))
    assert np.array_equal(good.cutout(box)[0], chunk)
    bad = _jpeg_volume(spark, tmp_path / "bad", _fake_jpeg(wrong))
    with pytest.raises(ChunkDecodeError, match="width") as ei:
        bad.cutout(box)
    assert JPEG_KEY in str(ei.value)


def test_jpeg_aspect_guard_spark_cutout(spark, tmp_path):
    """The Spark path decodes in Python workers, which a monkeypatch
    cannot reach: the fake PIL ships as a py-file that imports only
    while a marker file exists, so once the marker is gone every later
    ``import PIL`` or ``from PIL import Image`` fails as it does without
    Pillow."""
    if importlib.util.find_spec("PIL") is not None:
        pytest.skip("Pillow is installed; the fake PIL would shadow it")
    marker = tmp_path / "fake-pil-active"
    shim = tmp_path / f"fakepil_{os.getpid()}_{id(marker)}.zip"
    with zipfile.ZipFile(shim, "w") as z:
        z.writestr("PIL.py", f'''
import os
import types

import numpy as np

_MARKER = {str(marker)!r}
if not os.path.exists(_MARKER):
    raise ModuleNotFoundError("No module named 'PIL'", name="PIL")


def _open(bio):
    raw = bio.read()
    h, w = (int.from_bytes(raw[2:5], "little"),
            int.from_bytes(raw[5:8], "little"))
    return np.frombuffer(raw[8:], np.uint8).reshape(h, w)


def __getattr__(name):
    if name == "Image" and os.path.exists(_MARKER):
        return types.SimpleNamespace(open=_open)
    raise AttributeError(name)
''')
    chunk, stacked, wrong = _chunk_and_images()
    box = ((0, SX), (0, SY), (0, SZ))
    good = _jpeg_volume(spark, tmp_path / "good", _fake_jpeg(stacked))
    bad = _jpeg_volume(spark, tmp_path / "bad", _fake_jpeg(wrong))
    good.local_io = bad.local_io = False
    dest = Volume.create(spark, str(tmp_path / "dest"),
                         _info(size=(SX, SY, SZ), chunk=(SX, SY, SZ)))
    marker.write_text("")
    try:
        spark.sparkContext.addPyFile(str(shim))
        assert np.array_equal(good.cutout(box)[0], chunk)
        assert {(r.x, r.y, r.z): r.value for r in good.voxels().collect()} \
            == {i: int(v) for i, v in np.ndenumerate(chunk)}
        assert good.fsck().filter("NOT ok").count() == 0
        # every read path refuses the wrong-aspect chunk by name
        for op in (lambda: bad.cutout(box),
                   lambda: bad.voxels().collect(),
                   lambda: bad.map_blocks(lambda a: a, dest),
                   lambda: bad.downsample()):
            with pytest.raises(Exception, match="width") as ei:
                op()
            assert JPEG_KEY in str(ei.value)
        (row,) = bad.fsck().collect()
        assert row.key == JPEG_KEY and row.ok is False
        assert "width" in row.error and JPEG_KEY in row.error
    finally:
        marker.unlink()


# -- the decoded-chunk cache of the driver-local cutout ----------------------
#
# The cache is process-wide; each test gets an empty one of its own.

CHUNK_BYTES = 32 ** 3                  # one uint8 chunk of _info()


@pytest.fixture
def decoded(monkeypatch):
    cache = chunk_index._DecodedCache()
    monkeypatch.setattr(chunk_index, "_decoded", cache)
    return cache


def _cached_files(cache):
    return {ident[0] for ident in cache._blocks}


def _count_decodes(monkeypatch):
    """Count codec decodes from here on through a wrapped get_codec."""
    from bigarrays_jl_spark import codecs
    calls = [0]
    get_codec = codecs.get_codec

    class Counted:
        def __init__(self, codec):
            self._codec = codec

        def __getattr__(self, attr):
            return getattr(self._codec, attr)

        def decode(self, data, **kw):
            calls[0] += 1
            return self._codec.decode(data, **kw)

    monkeypatch.setattr(codecs, "get_codec",
                        lambda enc: Counted(get_codec(enc)))
    return calls


def test_warm_cache_sees_second_handle_overwrite(spark, tmp_path, decoded):
    root = str(tmp_path / "v")
    a = Volume.create(spark, root, _info())
    mirror = _arr((128, 128, 128), 21)
    a.write(mirror, (0, 0, 0))
    _check(a, mirror)
    _check(a, mirror)
    assert decoded.hits and decoded.nbytes == 64 * CHUNK_BYTES
    b = Volume.open(spark, root)
    block = _arr((64, 32, 64), 22)
    b.write(block, (32, 64, 0))
    mirror[32:96, 64:96, 0:64] = block
    _check(a, mirror)
    _check(b, mirror)


def test_part_file_rewritten_in_place_is_not_served(spark, tmp_path,
                                                    decoded):
    """A fresh handle over a part file rewritten at the same path must
    not get the blocks cached from the old file's rows."""
    root = str(tmp_path / "v")
    info = _info()
    vol = Volume.create(spark, root, info)
    path = os.path.join(vol._mip_dir(), "part-0.parquet")
    old, new = _arr((128, 128, 128), 23), _arr((128, 128, 128), 24)
    _write_rows(path, _chunk_rows(old, info, 0), row_group_size=1)
    _check(vol, old)
    mtime = os.stat(path).st_mtime_ns
    _write_rows(path, _chunk_rows(new, info, 0), row_group_size=1)
    os.utime(path, ns=(mtime + 10 ** 9, mtime + 10 ** 9))
    _check(Volume.open(spark, root), new)
    _check(vol, new)


@pytest.mark.parametrize("op", ["compact", "delete"])
def test_cache_forgets_swapped_out_files(spark, tmp_path, decoded, op):
    root = str(tmp_path / "v")
    vol = Volume.create(spark, root, _info())
    vol.auto_compact_epochs = None
    mirror = _arr((128, 128, 128), 25)
    vol.write(mirror, (0, 0, 0))
    block = _arr((32, 64, 32), 26)
    vol.write(block, (32, 0, 64))
    mirror[32:64, 0:64, 64:96] = block
    _check(vol, mirror)
    before = set(list_part_files(vol._mip_dir()))
    assert _cached_files(decoded) == before
    if op == "compact":
        vol.compact()
    else:
        box = ((0, 40), (30, 70), (60, 128))
        vol.delete(box)
        doomed = tuple((lo // 32 * 32, -(-hi // 32) * 32) for lo, hi in box)
        mirror[tuple(slice(lo, hi) for lo, hi in doomed)] = 0
    after = set(list_part_files(vol._mip_dir()))
    assert before.isdisjoint(after)
    _check(vol, mirror)
    assert _cached_files(decoded) <= after
    assert decoded.nbytes == sum(b.nbytes for b in decoded._blocks.values())
    spark_reader = Volume.open(spark, root)
    spark_reader.local_io = False
    _check(spark_reader, mirror)


def test_cache_stays_within_its_bound(spark, tmp_path, decoded,
                                      monkeypatch):
    cap = 3 * CHUNK_BYTES + CHUNK_BYTES // 2
    monkeypatch.setattr(chunk_index, "DECODED_CACHE_BYTES", cap)
    vol = Volume.create(spark, str(tmp_path / "v"), _info())
    vol.auto_compact_epochs = None
    mirror = _arr((128, 128, 128), 27)
    vol.write(mirror, (0, 0, 0))
    rng = np.random.default_rng(28)
    for i in range(40):
        if i == 20:
            block = _arr((64, 32, 32), 29)
            vol.write(block, (0, 32, 32))
            mirror[0:64, 32:64, 32:64] = block
        lo = rng.integers(-8, 120, size=3)
        box = tuple((int(a), int(a + s)) for a, s in
                    zip(lo, rng.integers(1, 48, size=3)))
        out, _ = vol.cutout(box)
        assert np.array_equal(out, _want(mirror, box)), box
        assert decoded.nbytes <= cap
        assert decoded.nbytes == sum(b.nbytes
                                     for b in decoded._blocks.values())
        assert len(decoded._blocks) <= 3
    assert decoded.hits and decoded.misses > 3


def test_cutouts_do_not_alias_cached_blocks(spark, tmp_path, decoded):
    vol = Volume.create(spark, str(tmp_path / "v"), _info())
    mirror = _arr((128, 128, 128), 30)
    vol.write(mirror, (0, 0, 0))
    box = ((10, 70), (0, 33), (40, 100))
    for _ in range(3):
        out, _ = vol.cutout(box)
        assert np.array_equal(out, _want(mirror, box))
        out[...] = 7
    assert decoded._blocks
    assert not any(b.flags.writeable for b in decoded._blocks.values())
    with pytest.raises(ValueError):
        next(iter(decoded._blocks.values()))[0, 0, 0, 0] = 1


def test_corrupt_payload_is_not_cached(spark, tmp_path, decoded):
    vol = Volume.create(spark, str(tmp_path / "v"), _info())
    mirror = _arr((128, 128, 128), 31)
    vol.write(mirror, (0, 0, 0))
    key = "32-64_0-32_0-32"
    bad = os.path.join(vol._mip_dir(), "part-bad.parquet")
    _write_rows(bad, [(1, 0, 0, key, "gzip", 5,
                       gzip.compress(b"\x00" * 100)[:-4])])
    for _ in range(2):
        with pytest.raises(ChunkDecodeError) as ei:
            vol.cutout(((0, 64), (0, 32), (0, 32)))
        assert key in str(ei.value) and bad in str(ei.value)
        assert bad not in _cached_files(decoded)
    os.remove(bad)
    _check(vol, mirror)


def test_chunk_larger_than_cap_is_read_uncached(spark, tmp_path, decoded,
                                                monkeypatch):
    monkeypatch.setattr(chunk_index, "DECODED_CACHE_BYTES", CHUNK_BYTES - 1)
    vol = Volume.create(spark, str(tmp_path / "v"), _info())
    mirror = _arr((128, 128, 128), 32)
    vol.write(mirror, (0, 0, 0))
    calls = _count_decodes(monkeypatch)
    box = ((20, 40), (20, 40), (20, 40))
    for n in (1, 2):
        out, _ = vol.cutout(box)
        assert np.array_equal(out, _want(mirror, box))
        assert calls[0] == 8 * n
    assert decoded.nbytes == 0 and not decoded._blocks


def test_repeat_cutout_decodes_nothing(spark, tmp_path, decoded,
                                       monkeypatch):
    """The second cut of a box is served from the cache: no codec
    decode and no thread pool.  The write fills the cache, so an empty
    cache replaces it before the first cut."""
    from bigarrays_jl_spark import volume
    vol = Volume.create(spark, str(tmp_path / "v"), _info())
    mirror = _arr((128, 128, 128), 33)
    vol.write(mirror, (0, 0, 0))
    monkeypatch.setattr(chunk_index, "_decoded", chunk_index._DecodedCache())
    calls = _count_decodes(monkeypatch)
    box = ((5, 61), (17, 90), (3, 127))
    out, _ = vol.cutout(box)
    assert np.array_equal(out, _want(mirror, box))
    assert calls[0] == 2 * 3 * 4
    monkeypatch.setattr(volume, "_driver_pool", None)    # not callable
    out, _ = vol.cutout(box)
    assert np.array_equal(out, _want(mirror, box))
    assert calls[0] == 2 * 3 * 4


def test_cache_misses_on_another_dtype(spark, tmp_path, decoded):
    """A handle reading the same files as another dtype decodes them
    itself: uint16 over uint8 payloads fails the byte-count check
    instead of reusing the uint8 blocks."""
    root = str(tmp_path / "v")
    vol = Volume.create(spark, root, _info())
    mirror = _arr((128, 128, 128), 34)
    vol.write(mirror, (0, 0, 0))
    _check(vol, mirror)
    info16 = Info.from_dict({**_info().to_dict(), "data_type": "uint16"})
    with pytest.raises(ChunkDecodeError, match="expected"):
        Volume(spark, root, info16).cutout(((0, 32), (0, 32), (0, 32)))


def test_concurrent_cutouts_while_files_arrive(spark, tmp_path, decoded,
                                               monkeypatch):
    """Eight threads cut overlapping boxes of one handle while another
    handle writes whole-volume epochs: every cutout shows one whole
    epoch no older than the last one written before it started, and
    the cache's byte count stays exact under a small bound."""
    monkeypatch.setattr(chunk_index, "DECODED_CACHE_BYTES", 6 * CHUNK_BYTES)
    root = str(tmp_path / "v")
    info = _info(size=(64, 64, 64))
    a = Volume.create(spark, root, info)
    a.write(np.zeros((64, 64, 64), np.uint8), (0, 0, 0))
    b = Volume.open(spark, root)
    b.auto_compact_epochs = None
    committed, errors, done = [0], [], threading.Event()
    boxes = [((0, 64), (0, 64), (0, 64)), ((10, 50), (20, 40), (0, 64)),
             ((30, 34), (30, 34), (30, 34)), ((0, 33), (31, 64), (5, 40))]

    def reader(i):
        try:
            while not done.is_set():
                box = boxes[i % len(boxes)]
                floor = committed[0]
                out, _ = a.cutout(box)
                values = np.unique(out)
                assert len(values) == 1 and values[0] >= floor, values
        except Exception as e:  # noqa: BLE001 - reported below
            errors.append(e)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    threads = [threading.Thread(target=reader, args=(i,)) for i in range(8)]
    try:
        for t in threads:
            t.start()
        for epoch in range(1, 13):
            b.write(np.full((64, 64, 64), epoch, np.uint8), (0, 0, 0))
            committed[0] = epoch
    finally:
        done.set()
        for t in threads:
            t.join(timeout=60)
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[0]
    assert decoded.nbytes == sum(
        b.nbytes for b in decoded._blocks.values()) <= 6 * CHUNK_BYTES
    out, _ = a.cutout(boxes[0])
    assert (out == 12).all()


def test_cut_right_after_write_decodes_nothing(spark, tmp_path, decoded,
                                               monkeypatch):
    """A driver-local write fills the cache with the chunks it wrote,
    so the first cut after it reads and decodes nothing."""
    from bigarrays_jl_spark import volume
    vol = Volume.create(spark, str(tmp_path / "v"), _info())
    vol.auto_compact_epochs = None
    mirror = _arr((128, 128, 128), 35)
    vol.write(mirror, (0, 0, 0))
    block = _arr((64, 32, 32), 36)
    vol.write(block, (32, 64, 96))
    mirror[32:96, 64:96, 96:128] = block
    calls = _count_decodes(monkeypatch)
    monkeypatch.setattr(volume, "_driver_pool", None)    # not callable
    _check(vol, mirror)
    assert calls[0] == 0 and decoded.misses == 0


def _stored_rows(d):
    """``(ident, key, enc, payload)`` of every row stored under ``d``."""
    out = []
    for path, (size, mtime) in list_part_files(d).items():
        t = pq.read_table(path, columns=["key", "enc", "payload"])
        out += [((path, size, mtime, i), *r) for i, r in enumerate(
            zip(*(t[c].to_pylist() for c in ("key", "enc", "payload"))))]
    return out


@pytest.mark.parametrize("enc", ["raw", "gzip", "zstd", "blosclz"])
@pytest.mark.parametrize("dtype", ["uint8", "uint16"])
@pytest.mark.parametrize("nc", [1, 3])
def test_write_through_blocks_equal_decoded_payloads(spark, tmp_path,
                                                     decoded, enc, dtype,
                                                     nc):
    """Every block a write caches is byte-identical to what its stored
    payload decodes to, edge chunks clamped by the volume bounds
    included, and is read-only."""
    from bigarrays_jl_spark.volume import decode_chunk
    size, chunk = (40, 36, 20), (16, 16, 16)
    info = Info.from_dict({
        "num_channels": nc, "type": "image", "data_type": dtype,
        "scales": [{"encoding": enc, "chunk_sizes": [list(chunk)],
                    "key": "1_1_1", "resolution": [1, 1, 1],
                    "voxel_offset": [0, 0, 0], "size": list(size)}]})
    vol = Volume.create(spark, str(tmp_path / "v"), info)
    rng = np.random.default_rng(37)
    shape = size if nc == 1 else (*size, nc)
    arr = rng.integers(0, 300, size=shape).astype(dtype)
    arr[:20] //= 64                          # some compressible content
    vol.write(arr, (0, 0, 0))
    rows = _stored_rows(vol._mip_dir())
    assert len(rows) == 3 * 3 * 2 == len(decoded._blocks)
    clamped = 0
    for ident, key, row_enc, payload in rows:
        assert row_enc == enc
        block = decoded._blocks[ident]
        _, _, want = decode_chunk(key, enc, payload, nc, dtype)
        assert block.dtype == want.dtype and block.shape == want.shape
        assert block.tobytes(order="F") == want.tobytes(order="F"), key
        assert not block.flags.writeable
        clamped += block.shape[:3] != chunk
    assert clamped == 3 * 3 * 2 - 2 * 2 * 1
    out, _ = vol.cutout(((0, 40), (0, 36), (0, 20)))
    assert np.array_equal(out, arr)


def _overwritten(spark, root, auto=None):
    """A volume with four overwrites of a whole-volume write, and its
    mirror."""
    vol = Volume.create(spark, root, _info())
    vol.auto_compact_epochs = auto
    mirror = _arr((128, 128, 128), 38)
    vol.write(mirror, (0, 0, 0))
    for i, off in enumerate([(0, 0, 0), (32, 64, 32), (0, 0, 0),
                             (96, 96, 96)]):
        block = _arr((32, 64, 32), 39 + i)
        off = tuple(min(o, 128 - s) for o, s in zip(off, block.shape))
        vol.write(block, off)
        mirror[tuple(slice(o, o + s) for o, s in zip(off, block.shape))] \
            = block
    return vol, mirror


def _assert_cache_current(cache, d):
    assert _cached_files(cache) <= set(list_part_files(d))
    assert cache.nbytes == sum(b.nbytes for b in cache._blocks.values())


def test_compaction_carries_blocks_over(spark, tmp_path, decoded,
                                        monkeypatch):
    """After ``compact()`` the folded chunks are served from the cache
    under their new files: no decode, on this handle or a fresh one."""
    root = str(tmp_path / "v")
    vol, mirror = _overwritten(spark, root)
    before = set(list_part_files(vol._mip_dir()))
    monkeypatch.setattr(chunk_index, "FOLD_BATCH_BYTES", 8 * CHUNK_BYTES)
    vol.compact()
    after = set(list_part_files(vol._mip_dir()))
    assert before.isdisjoint(after) and len(after) > 1
    assert max(pq.read_metadata(p).num_rows for p in after) > 1
    calls = _count_decodes(monkeypatch)
    _check(vol, mirror)
    _check(Volume.open(spark, root), mirror)
    assert calls[0] == 0
    _assert_cache_current(decoded, vol._mip_dir())
    assert _cached_files(decoded) == after
    assert len(decoded._blocks) == 64


def test_auto_compaction_carries_blocks_over(spark, tmp_path, decoded,
                                             monkeypatch):
    vol, mirror = _overwritten(spark, str(tmp_path / "v"), auto=5)
    assert vol._current_epoch() == 0         # the last write compacted
    calls = _count_decodes(monkeypatch)
    _check(vol, mirror)
    assert calls[0] == 0
    _assert_cache_current(decoded, vol._mip_dir())


def _fail_swap_before_renames(mp):
    def swap(self, mip=None):
        raise OSError("injected: crash before the swap")
    mp.setattr(Volume, "_swap_mip_dir", swap)


def _fail_swap_between_renames(mp):
    real = os.rename

    def rename(src, dst, *a, **kw):
        if str(src).endswith(".tmp"):
            raise OSError("injected: crash between renames")
        return real(src, dst, *a, **kw)
    mp.setattr(os, "rename", rename)


@pytest.mark.parametrize("inject", [_fail_swap_before_renames,
                                    _fail_swap_between_renames])
def test_failed_fold_moves_nothing(spark, tmp_path, decoded, monkeypatch,
                                   inject):
    """A fold that fails after writing its batches but before its swap
    completes moves no block: the old files stay live (or come back)
    and keep their blocks, and nothing stale is served before or after
    a later compaction."""
    root = str(tmp_path / "v")
    vol, mirror = _overwritten(spark, root)
    _check(vol, mirror)
    blocks = dict(decoded._blocks)
    monkeypatch.setattr(chunk_index, "FOLD_BATCH_BYTES", 20 * 1024)
    with monkeypatch.context() as mp:
        inject(mp)
        with pytest.raises(OSError, match="injected"):
            vol.compact()
    assert os.path.isdir(vol._mip_dir() + ".tmp")
    assert decoded._blocks.keys() == blocks.keys()
    assert all(decoded._blocks[i] is b for i, b in blocks.items())
    reopened = Volume.open(spark, root)          # rolls a crashed swap back
    calls = _count_decodes(monkeypatch)
    _check(reopened, mirror)
    _check(vol, mirror)
    assert calls[0] == 0
    reopened.compact()
    _check(reopened, mirror)
    _check(vol, mirror)
    assert calls[0] == 0
    _assert_cache_current(decoded, vol._mip_dir())


def test_cache_forgets_files_of_a_recreated_dataset(spark, tmp_path,
                                                   decoded):
    """Blocks written through for files removed behind every index's
    back (the dataset deleted and created again) are dropped once a
    cutout has listed the directory."""
    root = str(tmp_path / "v")
    for seed in (46, 47, 48):
        shutil.rmtree(root, ignore_errors=True)
        vol = Volume.create(spark, root, _info())
        mirror = _arr((128, 128, 128), seed)
        vol.write(mirror, (0, 0, 0))
    assert len(decoded._blocks) == 3 * 64
    _check(vol, mirror)
    _assert_cache_current(decoded, vol._mip_dir())
    assert len(decoded._blocks) == 64


def test_write_larger_than_cache_stays_within_bound(spark, tmp_path,
                                                    decoded, monkeypatch):
    cap = 5 * CHUNK_BYTES + CHUNK_BYTES // 2
    monkeypatch.setattr(chunk_index, "DECODED_CACHE_BYTES", cap)
    vol = Volume.create(spark, str(tmp_path / "v"), _info())
    mirror = _arr((128, 128, 128), 45)
    vol.write(mirror, (0, 0, 0))
    assert len(decoded._blocks) == 5
    assert decoded.nbytes == 5 * CHUNK_BYTES == sum(
        b.nbytes for b in decoded._blocks.values())
    _check(vol, mirror)
    assert decoded.nbytes <= cap
    assert decoded.nbytes == sum(b.nbytes for b in decoded._blocks.values())


# -- the one winner rule ------------------------------------------------------

# voxel_offset, size and chunk size of the random indexes: a negative
# offset off the chunk lattice, and edge chunks clamped on every side
LATTICE = ((-5, 3, -12), (30, 20, 17), (8, 8, 8))


def _random_index(tmp_path, seed):
    """Part files of random rows on the chunks of ``LATTICE``, keyed as
    the writers key them, a quarter of the keys ``.gz``-suffixed (a key
    of its own on the same chunk): epochs drawn from a small range, so
    a key often repeats an epoch in another file; ``enc`` drawn per
    row; some files in the old layout (many chunks per row group, no
    statistics).  Each payload names its file and row.  Returns the
    directory."""
    off, size, chunk = LATTICE
    lattice = [(cs.cid, cs.key) for cs in ix.iter_chunk_slices(
        ix.volume_box(off, size), off, size, chunk)]
    rng = np.random.default_rng(seed)
    d = tmp_path / f"idx{seed}"
    for fi in range(int(rng.integers(2, 7))):
        n = int(rng.integers(1, 40))
        rows = []
        for r, i in enumerate(rng.integers(0, len(lattice), n).tolist()):
            (x, y, z), key = lattice[i]
            rows.append((x, y, z, key + (".gz" if rng.random() < 0.25
                                         else ""),
                         str(rng.choice(["gzip", "raw", "zstd"])),
                         int(rng.integers(0, 4)), f"{fi}:{r}".encode()))
        old = rng.random() < 0.4
        _write_rows(str(d / f"part-{fi}.parquet"), rows,
                    row_group_size=int(rng.integers(3, 9)) if old else 1,
                    write_statistics=not old)
    return str(d)


def _box(b):
    return tuple(map(tuple, b))


def _brute_force(d):
    """``{key: (cid, enc, payload, path, row)}`` of the latest epoch of
    every key, the first file in listing order and the first row within
    it winning a tie; and the number of rows stored."""
    best, stored = {}, 0
    for path in list_part_files(d):
        t = pq.read_table(path)
        cols = [t[c].to_pylist() for c in
                ("cx", "cy", "cz", "key", "enc", "epoch", "payload")]
        for r, (cx, cy, cz, key, enc, epoch, p) in enumerate(zip(*cols)):
            stored += 1
            if key not in best or epoch > best[key][0]:
                best[key] = (epoch, (cx, cy, cz), enc, p, path, r)
    return {k: v[1:] for k, v in best.items()}, stored


@pytest.mark.parametrize("seed", range(6))
def test_winner_table_matches_brute_force(tmp_path, decoded, seed):
    """The winner table agrees with a brute-force reference: lookups
    return exactly the latest row of every key in the box, each winner's
    box is ``parse_chunk_key`` of its key, and so is the box of every
    cache hit a lookup returns."""
    d = _random_index(tmp_path, seed)
    want, stored = _brute_force(d)
    index = ChunkIndex(d)
    rng = np.random.default_rng(100 + seed)
    boxes = [((-1, 3), (0, 3), (-2, 1)), ((-9, 9), (-9, 9), (-9, 9))] + [
        tuple((int(lo), int(lo + s)) for lo, s in
              zip(rng.integers(-2, 3, 3), rng.integers(0, 4, 3)))
        for _ in range(12)]

    def inside(box):
        return {k: w for k, w in want.items()
                if all(lo <= c < hi for c, (lo, hi) in zip(w[0], box))}

    for box in boxes:
        found = index.latest_decoded(box, 1, np.uint8)
        assert found.blocks == [] and len(found.boxes) == 0
        got = [r[3:] for r in found.misses]
        assert len(got) == len({k for k, *_ in got})
        assert {k: (enc, p, ident[0], ident[3])
                for k, enc, p, ident in got} == \
            {k: (*w[1:4], w[4]) for k, w in inside(box).items()}, box

    t = index._current()
    keys = [t.files[f][1].key[r].as_py()
            for f, r in zip(t.fid.tolist(), t.row.tolist())]
    assert sorted(keys) == sorted(want)
    assert t.ok.all() and t.box.dtype == np.int32
    assert [_box(b) for b in t.box.tolist()] == \
        [ix.parse_chunk_key(k) for k in keys]
    for _, f in t.files:
        assert f.ok.all()
        assert [_box(b) for b in f.box.tolist()] == \
            [ix.parse_chunk_key(k) for k in f.key.to_pylist()]

    # cache every other winner: those come back as box + block, the
    # rest as misses
    cached = {}
    for i, (key, ident) in enumerate(zip(keys,
                                         t.idents(np.arange(len(keys))))):
        if i % 2:
            shape = ix.box_shape(ix.parse_chunk_key(key))
            decoded.put(ident, np.full((*shape, 1), i, np.uint8))
            cached[key] = i
    for box in boxes:
        found = index.latest_decoded(box, 1, np.uint8)
        hit = {k for k in inside(box) if k in cached}
        assert sorted((_box(b), int(blk[0, 0, 0, 0]))
                      for b, blk in zip(found.boxes.tolist(),
                                        found.blocks)) == \
            sorted((ix.parse_chunk_key(k), cached[k]) for k in hit), box
        assert sorted(r[3] for r in found.misses) == \
            sorted(set(inside(box)) - hit), box

    flat = [r for batch in index.fold() for r in batch]
    assert [(r[2], r[1], r[0]) for r in flat] == \
        sorted((w[0][2], w[0][1], w[0][0]) for w in want.values())
    sigs = list_part_files(d)
    assert {r[3]: (tuple(r[:3]), r[4], r[5], r[6]) for r in flat} == \
        {k: (w[0], w[1], w[2], (w[3], *sigs[w[3]], w[4]))
         for k, w in want.items()}
    assert index.has_duplicates() == (stored > len(want))


def test_parse_chunk_keys_flags_what_it_cannot_parse():
    """The vectorised parse agrees with ``parse_chunk_key`` where it
    parses, and flags the rest: keys the grammar refuses, bounds beyond
    int32, and keys only Python's ``re`` accepts."""
    good = ["0-64_0-64_0-64", "-69-0_3-11_-12-0.gz", "-2147483648-0_0-1_0-1",
            "00-07_1-2_3-4"]
    bad = ["k0", "", "0-64_0-64", "0-64_0-64_0-64.zst", "0-2147483648_0-1_0-1",
           "0-99999999999999999999_0-1_0-1", "0-64_0-64_0-64\n",
           "0-6\u0664_0-64_0-64"]
    box, ok = chunk_index.parse_chunk_keys(pa.array(good + bad + [None]))
    assert box.shape == (len(good) + len(bad) + 1, 3, 2)
    assert ok.tolist() == [True] * len(good) + [False] * (len(bad) + 1)
    assert [_box(b) for b in box[:len(good)].tolist()] == \
        [ix.parse_chunk_key(k) for k in good]
    assert not box[len(good):].any()


def test_winner_table_follows_file_set(tmp_path, decoded):
    """A file that arrives or leaves rebuilds the table; has_duplicates
    follows."""
    d = tmp_path / "idx"
    _write_rows(str(d / "part-0.parquet"),
                [(0, 0, 0, "a", "raw", 0, b"a0"), (1, 0, 0, "b", "raw", 0,
                                                   b"b0")])
    index = ChunkIndex(str(d))
    box = ((0, 2), (0, 1), (0, 1))
    assert not index.has_duplicates()
    _write_rows(str(d / "part-1.parquet"), [(1, 0, 0, "b", "gzip", 1, b"b1")])
    assert index.has_duplicates()
    assert sorted((k, e, p) for k, e, p, _ in _latest(index, box)) == \
        [("a", "raw", b"a0"), ("b", "gzip", b"b1")]
    os.remove(str(d / "part-0.parquet"))
    assert not index.has_duplicates()
    assert [(k, p) for k, _, p, _ in _latest(index, box)] == [("b", b"b1")]
    assert list_part_files(str(tmp_path / "none")) == {}
    assert _latest(ChunkIndex(str(tmp_path / "none")), box) == []
    assert list(ChunkIndex(str(tmp_path / "none")).fold()) == []


@pytest.mark.parametrize("bad", ["k1_0_0", "32-64_0-32_0-32_",
                                 "32-64_0-99999999999_0-32"])
def test_malformed_key_fails_only_cutouts_that_touch_it(spark, tmp_path,
                                                       decoded, bad):
    """A stored key the chunk grammar refuses (or whose box leaves
    int32) fails the cutouts that touch its chunk with a ValueError
    naming the key; cutouts elsewhere read as before."""
    import re
    vol = Volume.create(spark, str(tmp_path / "v"), _info())
    mirror = _arr((128, 128, 128), 61)
    vol.write(mirror, (0, 0, 0))
    _write_rows(os.path.join(vol._mip_dir(), "part-bad.parquet"),
                [(1, 0, 0, bad, "gzip", 9,
                  gzip.compress(b"\0" * CHUNK_BYTES))],
                row_group_size=1)
    for _ in range(2):
        with pytest.raises(ValueError, match=re.escape(bad)):
            vol.cutout(((40, 50), (0, 10), (0, 10)))
        for box in [((0, 32), (0, 128), (0, 128)),
                    ((32, 64), (32, 64), (0, 128)),
                    ((64, 128), (0, 40), (32, 100))]:
            assert np.array_equal(vol.cutout(box)[0], _want(mirror, box))


def test_key_only_python_parses_still_reads(spark, tmp_path, decoded):
    """A key the vectorised parse leaves to Python (a trailing newline)
    takes the miss path every time and still lands where
    ``parse_chunk_key`` puts it."""
    info = _info()
    vol = Volume.create(spark, str(tmp_path / "v"), info)
    mirror = np.zeros((128, 128, 128), np.uint8)
    mirror[:32] = _arr((32, 128, 128), 62)
    vol.write(mirror[:32], (0, 0, 0))
    block = _arr((32, 32, 32), 63)
    mirror[32:64, :32, :32] = block
    _write_rows(os.path.join(vol._mip_dir(), "part-nl.parquet"),
                [(1, 0, 0, "32-64_0-32_0-32\n", "gzip", 9,
                  gzip.compress(block.tobytes(order="F")))],
                row_group_size=1)
    _check(vol, mirror)
    _check(vol, mirror)


def _count_opens(monkeypatch):
    """Paths pyarrow opens through ``ParquetFile`` or ``read_metadata``
    from here on."""
    opened = []
    for name in ("ParquetFile", "read_metadata"):
        real = getattr(pq, name)

        def spy(path, *a, _real=real, **kw):
            opened.append(str(path))
            return _real(path, *a, **kw)
        monkeypatch.setattr(pq, name, spy)
    return opened


def test_writes_and_folds_register_their_files(spark, tmp_path, decoded,
                                               monkeypatch):
    """After a driver-local write, compaction or delete, the next cutout
    indexes no part file from disk and opens none: the writer handed
    the index its ids and footer."""
    vol = Volume.create(spark, str(tmp_path / "v"), _info())
    vol.auto_compact_epochs = None
    index = vol._chunk_index(vol._local_chunks_dir())
    mirror = _arr((128, 128, 128), 64)
    vol.write(mirror, (0, 0, 0))
    opened = _count_opens(monkeypatch)
    calls = _count_decodes(monkeypatch)
    _check(vol, mirror)
    added = index.files_added
    assert added == 1
    for i, op in enumerate(["write", "write", "compact", "delete"]):
        if op == "write":
            block = _arr((32, 64, 32), 65 + i)
            vol.write(block, (32 * i, 64, 32))
            mirror[32 * i:32 * i + 32, 64:128, 32:64] = block
        elif op == "compact":
            vol.compact()
        else:
            vol.delete(((0, 32), (0, 64), (64, 128)))
            mirror[0:32, 0:64, 64:128] = 0
        assert index.files_added > added, op
        added = index.files_added
        opened.clear()           # a fold reads the payloads it copies
        _check(vol, mirror)
        assert index.files_read == 0 and opened == [] and calls[0] == 0, op


def test_second_handle_file_is_read_from_disk_once(spark, tmp_path,
                                                   decoded):
    root = str(tmp_path / "v")
    a = Volume.create(spark, root, _info())
    mirror = _arr((128, 128, 128), 70)
    a.write(mirror, (0, 0, 0))
    _check(a, mirror)
    index = a._chunk_index(a._local_chunks_dir())
    b = Volume.open(spark, root)
    block = _arr((64, 32, 32), 71)
    b.write(block, (0, 32, 64))
    mirror[0:64, 32:64, 64:96] = block
    _check(a, mirror)
    _check(a, mirror)
    assert (index.files_read, index.files_added) == (1, 1)


def test_registered_file_rewritten_in_place_is_read_again(spark, tmp_path,
                                                          decoded):
    vol = Volume.create(spark, str(tmp_path / "v"), _info())
    info = vol.info
    old, new = _arr((128, 128, 128), 72), _arr((128, 128, 128), 73)
    vol.write(old, (0, 0, 0))
    index = vol._chunk_index(vol._local_chunks_dir())
    (path,) = list_part_files(vol._mip_dir())
    _check(vol, old)
    mtime = os.stat(path).st_mtime_ns
    _write_rows(path, _chunk_rows(new, info, 1), row_group_size=1)
    os.utime(path, ns=(mtime + 10 ** 9, mtime + 10 ** 9))
    _check(vol, new)
    assert index.files_read == 1


def _disk_part_file(path):
    from bigarrays_jl_spark.chunk_index import ID_COLUMNS
    pf = pq.ParquetFile(path)
    sig = list_part_files(os.path.dirname(path))[path]
    return chunk_index._PartFile(sig, pf.read(columns=ID_COLUMNS),
                                 pq.read_metadata(path))


@pytest.mark.parametrize("enc", ["raw", "gzip", "zstd", "blosclz"])
def test_registered_part_file_equals_disk_built(spark, tmp_path, decoded,
                                                monkeypatch, enc):
    """What a writer hands the index equals what the index would read
    back, field by field, for a plain write and for the files of a
    fold; payloads read through the collected footer equal those read
    through ``pq.read_metadata``."""
    vol = Volume.create(spark, str(tmp_path / "v"),
                        _info(enc, size=(96, 64, 64)))
    vol.auto_compact_epochs = None
    index = vol._chunk_index(vol._local_chunks_dir())
    arr = _arr((96, 64, 64), 74)
    arr[:32] //= 64                          # some compressible content
    vol.write(arr, (0, 0, 0))
    vol.write(arr[:32, :32, :32], (32, 0, 32))
    monkeypatch.setattr(chunk_index, "FOLD_BATCH_BYTES", 5 * CHUNK_BYTES)
    checked = 0
    for step in ("write", "fold"):
        if step == "fold":
            vol.compact()
        files = list_part_files(vol._mip_dir())
        assert set(files) <= set(index._files)
        for path in files:
            f, disk = index._files[path], _disk_part_file(path)
            footer = index._footers[path]
            assert footer.equals(pq.read_metadata(path))
            assert f.sig == disk.sig
            for name in ("cid", "epoch", "enc", "box", "ok", "rg_start",
                         "rg_bytes"):
                assert np.array_equal(getattr(f, name),
                                      getattr(disk, name)), name
            assert f.key.equals(disk.key) and f.enc_names == disk.enc_names
            rows = np.arange(len(f.epoch))
            assert chunk_index._read_payloads(path, f, footer, rows) == \
                chunk_index._read_payloads(path, disk,
                                           pq.read_metadata(path), rows)
            checked += 1
    assert index.files_read == 0 and checked >= 4
    mirror = arr.copy()
    mirror[32:64, 0:32, 32:64] = arr[:32, :32, :32]
    assert np.array_equal(vol.cutout(((0, 96), (0, 64), (0, 64)))[0], mirror)
