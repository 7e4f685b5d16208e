"""The driver-local cutout's chunk index (chunk_index.py): it must stay
current when other handles write, compact or re-open the dataset, read
older on-disk layouts exactly as before, and report which chunk broke
when a payload does not decode.  Both writers must put one chunk in
each row group.  Every case is checked against a numpy mirror."""
import gzip
import importlib.util
import os
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
        got = index.latest(((0, 3), (0, 8), (0, 1)))
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
                got = index.latest(((0, 8), (0, 1), (0, 1)))
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
    marker.write_text("")
    try:
        spark.sparkContext.addPyFile(str(shim))
        assert np.array_equal(good.cutout(box)[0], chunk)
        with pytest.raises(Exception, match="width"):
            bad.cutout(box)
    finally:
        marker.unlink()
