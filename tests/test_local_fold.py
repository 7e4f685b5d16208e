"""Driver-local compaction and delete (``Volume.compact`` and
``Volume.delete`` under ``local_io``): the chunk index folds overwrite
history on the driver, less a deleted chunk-id box, a byte copy with no
Spark job.  It must keep exactly the rows the Spark fold keeps, write
one chunk per row group sorted by (cz, cy, cx) in bounded batches, and
leave the dataset readable after a crash at any step, on the Python and
on the Hadoop-FS swap alike.  Metadata files (``info``, ``_epoch``) are
replaced atomically.  Every case is checked against a numpy mirror."""
import errno
import os
import shutil
import tracemalloc

import numpy as np
import pyarrow.parquet as pq
import pytest
from test_chunk_index import (_arr, _check, _chunk_rows, _count_decodes,
                              _info, _write_rows, decoded)  # noqa: F401

from bigarrays_jl_spark import chunk_index
from bigarrays_jl_spark import indexes as ix
from bigarrays_jl_spark import volume as volume_mod
from bigarrays_jl_spark.chunk_index import ChunkIndex, list_part_files
from bigarrays_jl_spark.volume import Volume


def _mixed_volume(spark, root):
    """A volume whose history mixes local files, Spark-written files
    (``ingest_chunks`` and a Spark-path ``write``) and the old layout
    (multi-chunk row groups without statistics, ``raw`` rows in a gzip
    mip); returns it with its numpy mirror."""
    info = _info()
    vol = Volume.create(spark, root, info)
    vol.auto_compact_epochs = None
    mirror = _arr((128, 128, 128), 20)
    vol.write(mirror, (0, 0, 0))                        # epoch 0, local
    over = _arr((128, 128, 128), 21)
    old = [r for r in _chunk_rows(over, info, vol._next_epoch(), enc="raw")
           if (r[0] + r[2]) % 3 == 0]                   # epoch 1, old layout
    _write_rows(os.path.join(vol._mip_dir(), "part-old-1.parquet"), old,
                row_group_size=5, compression="none", write_statistics=False)
    for r in old:
        sl = tuple(slice(lo, hi) for lo, hi in ix.parse_chunk_key(r[3]))
        mirror[sl] = over[sl]
    ing = _arr((128, 128, 128), 22)
    vol.ingest_chunks(spark.createDataFrame(            # epoch 2, Spark
        [(*r[:4], r[6]) for r in _chunk_rows(ing, info, 0, enc="raw")
         if r[1] == 1],
        "cx int, cy int, cz int, key string, payload binary"))
    mirror[:, 32:64, :] = ing[:, 32:64, :]
    block = _arr((64, 32, 32), 23)
    vol.write(block, (32, 32, 64))                      # epoch 3, local
    mirror[32:96, 32:64, 64:96] = block
    vol.local_io = False
    block = _arr((32, 64, 32), 24)
    vol.write(block, (96, 0, 32))                       # epoch 4, Spark
    mirror[96:128, 0:64, 32:64] = block
    vol.local_io = True
    return vol, mirror


def _rows(d):
    """Sorted ``(cx, cy, cz, key, enc, payload)`` rows stored under
    ``d``, all of which must be at epoch 0."""
    out = []
    for p in list_part_files(d):
        t = pq.read_table(p)
        assert set(t["epoch"].to_pylist()) <= {0}
        out += zip(*(t[c].to_pylist()
                     for c in ("cx", "cy", "cz", "key", "enc", "payload")))
    return sorted(out)


def _spans(d):
    """Check each part file under ``d`` holds one chunk per row group,
    sorted by (cz, cy, cx); return the files' (first, last) sort keys."""
    spans = []
    for p in list_part_files(d):
        md = pq.read_metadata(p)
        assert md.num_row_groups == md.num_rows > 0, p
        t = pq.read_table(p, columns=["cx", "cy", "cz"])
        keys = list(zip(*(t[c].to_pylist() for c in ("cz", "cy", "cx"))))
        assert keys == sorted(keys), p
        spans.append((keys[0], keys[-1]))
    return sorted(spans)


def _disjoint(spans):
    return all(a[1] < b[0] for a, b in zip(spans, spans[1:]))


DOOMED = ((20, 70), (0, 40), (60, 128))     # chunk ids 0-2 x 0-1 x 1-3


def _delete(vol, mirror, box=DOOMED):
    """Delete ``box`` from ``vol`` and zero its chunks in ``mirror``."""
    vol.delete(box)
    sc = vol.scale
    for cs in ix.iter_chunk_slices(ix.intersect_box(box, vol.vol_box),
                                   sc.voxel_offset, sc.volume_size,
                                   sc.chunk_size):
        mirror[tuple(slice(lo, hi) for lo, hi in cs.chunk_box)] = 0


def _audit(vol, mirror):
    """``fsck()`` passes every live chunk, and the live chunks are the
    chunks of ``mirror`` that hold data (no chunk of the mixed volumes
    is all zeros unless deleted)."""
    sc = vol.scale
    want = sorted(cs.key for cs in ix.iter_chunk_slices(
        vol.vol_box, sc.voxel_offset, sc.volume_size, sc.chunk_size)
        if mirror[tuple(slice(lo, hi) for lo, hi in cs.chunk_box)].any())
    rows = vol.fsck().collect()
    assert all(r.ok for r in rows), [r.error for r in rows if not r.ok]
    assert sorted(r.key for r in rows) == want


def _check_all(vol, mirror):
    """Both readers and ``fsck()`` against ``mirror``."""
    local = vol.local_io
    for each in (True, False):
        vol.local_io = each
        _check(vol, mirror)
    vol.local_io = local
    _audit(vol, mirror)


def test_local_fold_matches_spark_fold(spark, tmp_path):
    a, mirror = _mixed_volume(spark, str(tmp_path / "a"))
    shutil.copytree(a.root, str(tmp_path / "b"))
    b = Volume.open(spark, str(tmp_path / "b"))
    b.local_io = False
    a.compact()
    b.compact()
    rows = _rows(a._mip_dir())
    assert rows == _rows(b._mip_dir())
    assert len(rows) == 64 and len({r[3] for r in rows}) == 64
    assert {r[4] for r in rows} == {"gzip", "raw"}     # each row's own enc
    _spans(b._mip_dir())
    assert len(_spans(a._mip_dir())) == 1
    for vol in (a, b):
        assert vol._current_epoch() == 0
        assert not os.path.exists(vol._mip_dir() + ".tmp")
        for local in (True, False):
            vol.local_io = local
            _check(vol, mirror)


def test_fold_streams_bounded_batches(spark, tmp_path, monkeypatch):
    vol, mirror = _mixed_volume(spark, str(tmp_path / "v"))
    d = vol._mip_dir()
    total = sum(len(r[5]) for batch in ChunkIndex(d).fold() for r in batch)
    bound = total // 10
    monkeypatch.setattr(chunk_index, "FOLD_BATCH_BYTES", bound)
    batches = list(ChunkIndex(d).fold())
    assert len(batches) >= 10
    for batch in batches:
        assert len(batch) == 1 or sum(len(r[5]) for r in batch) <= bound
    flat = [r for batch in batches for r in batch]
    assert [(r[2], r[1], r[0]) for r in flat] == \
        sorted((r[2], r[1], r[0]) for r in flat)
    assert len({r[3] for r in flat}) == len(flat) == 64

    # the payloads a fold holds at once are bounded by the batch size,
    # not by the mip (Python-side copies; Arrow's buffers are not traced)
    tracemalloc.start()
    try:
        vol.compact()
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < total // 2, (peak, total)
    spans = _spans(d)
    assert len(spans) == len(batches) and _disjoint(spans)
    for local in (True, False):
        vol.local_io = local
        _check(vol, mirror)


def test_local_compaction_starts_no_spark_jobs(spark, tmp_path):
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def run(local, group):
        vol = Volume.create(spark, str(tmp_path / group), _info())
        vol.local_io = local
        vol.auto_compact_epochs = 4
        mirror = _arr((128, 128, 128), 30)
        vol.write(mirror[:64], (0, 0, 0))
        sc.setJobGroup(group, "compaction under test")
        try:
            # epochs 1-3 append disjoint chunks: at epoch 3 the probe
            # finds no duplicate and records the checked depth
            for x in (64, 96):
                vol.write(mirror[x:x + 32, :32], (x, 0, 0))
            vol.write(mirror[64:, 32:], (64, 32, 0))
            assert vol._current_epoch() == 3
            assert os.path.exists(os.path.join(vol.root, "_dup_checked"))
            # four overwrites: at epoch 7 the probe finds duplicates and
            # the auto-compaction folds them
            for i in range(4):
                block = _arr((32, 32, 32), 31 + i)
                vol.write(block, (32 * i, 0, 0))
                mirror[32 * i:32 * i + 32, :32, :32] = block
            assert vol._current_epoch() == 0
            block = _arr((64, 32, 32), 40)
            vol.write(block, (0, 64, 64))
            mirror[:64, 64:96, 64:96] = block
            vol.compact()
            assert vol._current_epoch() == 0
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        vol.local_io = True
        _check(vol, mirror)
        return tracker.getJobIdsForGroup(group)

    assert run(True, "local-fold") == []
    assert run(False, "spark-fold")       # the check sees Spark's jobs


def test_local_delete_matches_spark_delete(spark, tmp_path):
    """A delete folds its mip less the doomed box: the local fold and
    the Spark rewrite leave the same rows, all at epoch 0, and leave
    the dataset's epoch counter alone."""
    a, mirror = _mixed_volume(spark, str(tmp_path / "a"))
    shutil.copytree(a.root, str(tmp_path / "b"))
    b = Volume.open(spark, str(tmp_path / "b"))
    b.local_io = False
    _delete(a, mirror)
    b.delete(DOOMED)
    rows = _rows(a._mip_dir())
    assert rows == _rows(b._mip_dir())
    assert len(rows) == 64 - 18 and len({r[3] for r in rows}) == len(rows)
    assert {r[4] for r in rows} == {"gzip", "raw"}     # each row's own enc
    _spans(b._mip_dir())
    assert len(_spans(a._mip_dir())) == 1
    for vol in (a, b):
        assert vol._current_epoch() == 4
        assert not os.path.exists(vol._mip_dir() + ".tmp")
        _check_all(vol, mirror)


def test_local_delete_starts_no_spark_jobs_and_decodes_nothing(
        spark, tmp_path, monkeypatch, decoded):
    """A local delete is a byte copy on the driver: no Spark job, and
    the surviving chunks keep their decoded blocks, so a cutout of them
    right after it decodes nothing."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    kept = ((0, 128), (64, 128), (0, 128))      # chunks DOOMED misses

    def run(local, group):
        vol = Volume.create(spark, str(tmp_path / group), _info())
        vol.local_io = local
        vol.auto_compact_epochs = None
        mirror = _arr((128, 128, 128), 100)
        vol.write(mirror, (0, 0, 0))
        block = _arr((64, 64, 32), 101)
        vol.write(block, (32, 32, 0))
        mirror[32:96, 32:96, 0:32] = block
        vol.local_io = True
        _check(vol, mirror)                     # every chunk cached
        vol.local_io = local
        sc.setJobGroup(group, "delete under test")
        try:
            _delete(vol, mirror)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        vol.local_io = True
        with monkeypatch.context() as mp:
            calls = _count_decodes(mp)
            out, _ = vol.cutout(kept)
        assert np.array_equal(out, mirror[:, 64:128, :])
        _check_all(vol, mirror)
        return tracker.getJobIdsForGroup(group), calls[0]

    assert run(True, "local-delete") == ([], 0)
    jobs, calls = run(False, "spark-delete")
    assert jobs and calls > 0           # the checks see Spark's jobs and
                                        # the decodes of swapped-in files


def test_delete_everything_leaves_empty_mip(spark, tmp_path):
    for local in (True, False):
        vol, mirror = _mixed_volume(spark, str(tmp_path / str(local)))
        vol.local_io = local
        _delete(vol, mirror, ((-10, 200), (0, 128), (0, 128)))
        assert not mirror.any()
        assert _rows(vol._mip_dir()) == []
        assert vol.keys() == []
        _check_all(vol, mirror)
        vol.write(_arr((32, 32, 32), 102), (0, 0, 0))   # still writable
        assert len(vol.keys()) == 1


# -- crash injection ----------------------------------------------------------

def _inject_part_write(mp):
    """Tear the third part file written into ``<mip>.tmp``."""
    real, calls = pq.write_table, []

    def write_table(tbl, where, **kw):
        calls.append(where)
        if len(calls) < 3:
            return real(tbl, where, **kw)
        with open(where, "wb") as f:
            f.write(b"PAR1" + b"\0" * 64)
        raise OSError(errno.EIO, "injected: torn part file")

    mp.setattr(pq, "write_table", write_table)


def _inject_between_renames(mp):
    real = os.rename

    def rename(src, dst, *a, **kw):
        if str(src).endswith(".tmp"):
            raise OSError(errno.EIO, "injected: crash between renames")
        return real(src, dst, *a, **kw)

    mp.setattr(os, "rename", rename)


def _inject_before_epoch_reset(mp):
    real = volume_mod._fs_write_bytes

    def write_bytes(spark, path, data):
        if path.endswith("/_epoch") and data == b"0":
            raise OSError(errno.EIO, "injected: crash before _epoch = 0")
        return real(spark, path, data)

    mp.setattr(volume_mod, "_fs_write_bytes", write_bytes)


@pytest.mark.parametrize("inject,leaves_tmp,op", [
    pytest.param(_inject_part_write, True, "compact",
                 id="_inject_part_write-True"),
    pytest.param(_inject_between_renames, True, "compact",
                 id="_inject_between_renames-True"),
    pytest.param(_inject_before_epoch_reset, False, "compact",
                 id="_inject_before_epoch_reset-False"),
    pytest.param(_inject_part_write, True, "delete",
                 id="delete-_inject_part_write"),
    pytest.param(_inject_between_renames, True, "delete",
                 id="delete-_inject_between_renames")])
def test_crashed_local_fold_leaves_dataset_readable(
        spark, tmp_path, monkeypatch, inject, leaves_tmp, op):
    root = str(tmp_path / "v")
    vol = Volume.create(spark, root, _info())
    vol.auto_compact_epochs = None
    mirror = _arr((128, 128, 128), 50)
    vol.write(mirror, (0, 0, 0))
    for i, off in enumerate([(0, 0, 0), (32, 64, 32), (0, 0, 0)]):
        block = _arr((64, 32, 32), 51 + i)
        vol.write(block, off)
        mirror[tuple(slice(o, o + s) for o, s in zip(off, block.shape))] \
            = block
    monkeypatch.setattr(chunk_index, "FOLD_BATCH_BYTES", 1)
    d = vol._mip_dir()
    with monkeypatch.context() as mp:
        inject(mp)
        with pytest.raises(OSError, match="injected"):
            vol.compact() if op == "compact" else vol.delete(DOOMED)
    assert os.path.isdir(d + ".tmp") == leaves_tmp
    reopened = Volume.open(spark, root)
    assert not os.path.exists(d + ".old")
    _check_all(reopened, mirror)
    _check(vol, mirror)                     # the crashed handle's index
    reopened.local_io = True
    if op == "compact":
        reopened.compact()
    else:
        _delete(reopened, mirror)
    assert not os.path.exists(d + ".tmp")
    assert not os.path.exists(d + ".old")
    assert reopened._current_epoch() == (0 if op == "compact" else 3)
    assert len(_rows(d)) == (64 if op == "compact" else 64 - 18)
    assert _disjoint(_spans(d))
    _check_all(reopened, mirror)
    _check(Volume.open(spark, root), mirror)


def test_hadoop_fs_swap_and_recovery(spark, tmp_path, monkeypatch):
    """With every path taken for a non-local one, ``compact``,
    ``delete`` and the recovery from a crash between the two renames
    of the swap run through Hadoop's FileSystem API (here its local
    file system), and leave what the Python branches leave."""
    root = "file://" + str(tmp_path / "v")
    d = str(tmp_path / "v" / "chunks" / "mip=1_1_1")
    renames, crash = [], []
    real_rename = volume_mod._fs_rename

    def rename(spark, src, dst):
        renames.append(src)
        if src.endswith(".tmp") and crash:
            crash.pop()
            raise OSError(errno.EIO, "injected: crash between renames")
        return real_rename(spark, src, dst)

    with monkeypatch.context() as mp:
        mp.setattr(volume_mod, "_is_local", lambda path: False)
        mp.setattr(volume_mod, "_fs_rename", rename)
        mp.setattr(os, "rename", None)           # no Python rename runs
        vol = Volume.create(spark, root, _info())
        vol.auto_compact_epochs = None
        mirror = _arr((128, 128, 128), 110)
        vol.write(mirror, (0, 0, 0))
        for i, off in enumerate([(0, 0, 0), (32, 64, 32), (0, 0, 0)]):
            block = _arr((64, 32, 32), 111 + i)
            vol.write(block, off)
            mirror[tuple(slice(o, o + s) for o, s in
                         zip(off, block.shape))] = block
        vol.compact()
        assert vol._current_epoch() == 0
        _check(vol, mirror)
        _delete(vol, mirror)
        assert vol._current_epoch() == 0
        _check(vol, mirror)
        _audit(vol, mirror)
        assert renames == [d.join(("file://", "")),
                           d.join(("file://", ".tmp"))] * 2
        block = _arr((32, 32, 32), 120)
        vol.write(block, (96, 96, 96))
        mirror[96:, 96:, 96:] = block
        crash.append(True)
        with pytest.raises(OSError, match="injected"):
            vol.compact()
        assert os.path.isdir(d + ".old") and not os.path.exists(d)
        reopened = Volume.open(spark, root)      # rolls back the swap
        assert not os.path.exists(d + ".old")
        _check(reopened, mirror)
        _audit(reopened, mirror)
        reopened.compact()
        assert reopened._current_epoch() == 0
        assert not os.path.exists(d + ".tmp")
        _check(reopened, mirror)
    assert len(_rows(d)) == 64 - 18
    _check_all(Volume.open(spark, root), mirror)


def test_metadata_writes_are_atomic(spark, tmp_path, monkeypatch):
    """A write of ``_epoch`` or ``info`` that fails midway (say, a full
    disk) leaves the previous file whole."""
    root = str(tmp_path / "v")
    vol = Volume.create(spark, root, _info())
    vol.auto_compact_epochs = None
    mirror = _arr((128, 128, 128), 60)
    for _ in range(12):
        vol.write(mirror[:32, :32, :32], (0, 0, 0))
    vol.write(mirror, (0, 0, 0))
    assert vol._current_epoch() == 12
    real_open = open

    class Torn:
        def __init__(self, f):
            self.f = f

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self.f.close()

        def write(self, data):
            self.f.write(data[:len(data) // 2])
            self.f.flush()
            raise OSError(errno.ENOSPC, "injected: no space left")

    def torn_open(file, mode="r", *a, **kw):
        f = real_open(file, mode, *a, **kw)
        return Torn(f) if "w" in mode else f

    info = vol.info
    with monkeypatch.context() as mp:
        mp.setattr(volume_mod, "open", torn_open, raising=False)
        with pytest.raises(OSError, match="injected"):
            vol.write(_arr((32, 32, 32), 61), (0, 0, 0))
        vol.info = info.with_mips(2)
        with pytest.raises(OSError, match="injected"):
            vol.commit_info()
    assert vol._current_epoch() == 12
    reopened = Volume.open(spark, root)
    assert reopened.info == info and reopened._current_epoch() == 12
    assert [n for n in os.listdir(root) if n.startswith(".")] == []
    _check(reopened, mirror)
    block = _arr((32, 32, 32), 62)
    reopened.write(block, (96, 96, 96))
    mirror[96:, 96:, 96:] = block
    assert reopened._current_epoch() == 13
    _check(reopened, mirror)


def test_part_file_writes_are_atomic(spark, tmp_path, monkeypatch):
    """A part file whose write fails midway leaves no file under a
    visible name, so both readers and ``fsck()`` still see the
    pre-write state; the hidden leftover of a harder crash (no clean-up
    at all) is skipped by every reader."""
    import pyarrow as pa
    root = str(tmp_path / "v")
    vol = Volume.create(spark, root, _info())
    mirror = _arr((128, 128, 128), 70)
    vol.write(mirror, (0, 0, 0))
    d = vol._mip_dir()
    listing, files = sorted(os.listdir(d)), list_part_files(d)
    audit = sorted(vol.fsck().collect())
    real = pq.write_table

    def torn(tbl, where, **kw):
        buf = pa.BufferOutputStream()
        real(tbl, buf, **kw)
        data = buf.getvalue().to_pybytes()
        with open(where, "wb") as f:
            f.write(data[:len(data) // 2])
        raise OSError(errno.EIO, "injected: torn part file")

    for no_cleanup in (False, True):
        with monkeypatch.context() as mp:
            mp.setattr(pq, "write_table", torn)
            if no_cleanup:
                mp.setattr(os, "remove", lambda path: None)
            with pytest.raises(OSError, match="injected"):
                vol.write(_arr((64, 64, 64), 71), (0, 0, 0))
        assert list_part_files(d) == files
        left = sorted(set(os.listdir(d)) - set(listing))
        assert len(left) == no_cleanup and all(n.startswith(".")
                                               for n in left)
        reopened = Volume.open(spark, root)
        for local in (True, False):
            reopened.local_io = local
            _check(reopened, mirror)
        assert sorted(reopened.fsck().collect()) == audit


def test_ingest_chunks_rejects_wrong_size_payload(spark, tmp_path):
    """A raw payload that is not its key's box × channels × dtype fails
    the ingest job at write time, naming the chunk key, instead of being
    stored to fail every later read; Spark's commit protocol aborts the
    job, so no part file becomes visible and both readers and ``fsck()``
    still see the pre-ingest state."""
    import re
    info = _info()
    vol = Volume.create(spark, str(tmp_path / "v"), info)
    mirror = _arr((128, 128, 128), 80)
    vol.write(mirror, (0, 0, 0))
    d = vol._mip_dir()
    listing, files = sorted(os.listdir(d)), list_part_files(d)
    audit = sorted(vol.fsck().collect())
    rows = [(*r[:4], r[6]) for r in
            _chunk_rows(_arr((128, 128, 128), 81), info, 0, enc="raw")[:8]]
    bad = rows[5]
    rows[5] = (*bad[:4], bad[4][:-3])               # truncated payload
    with pytest.raises(Exception, match=re.escape(f"chunk {bad[3]} (gzip)")):
        vol.ingest_chunks(spark.createDataFrame(
            rows, "cx int, cy int, cz int, key string, payload binary"))
    assert sorted(os.listdir(d)) == listing
    assert list_part_files(d) == files
    for local in (True, False):
        vol.local_io = local
        _check(vol, mirror)
    assert sorted(vol.fsck().collect()) == audit


def test_encode_chunk_refuses_wrong_blocks():
    """``encode_chunk`` encodes exactly the key's box × channels ×
    dtype, array or bytes, and names the key on anything else."""
    key = "0-4_0-4_0-2"
    block = np.arange(32, dtype=np.uint8).reshape(4, 4, 2)
    want = volume_mod.encode_chunk(key, "raw", block, 1, "uint8")
    assert want == np.asfortranarray(block).tobytes(order="F")
    # the channel axis of a single-channel block drops; bytes pass
    assert volume_mod.encode_chunk(key, "raw", block[..., None], 1,
                                   "uint8") == want
    assert volume_mod.encode_chunk(key, "raw", want, 1, "uint8") == want
    for bad, nc, dtype in ((block[:, :, :1], 1, "uint8"),
                           (block.astype(np.int8), 1, "uint8"),
                           (block.transpose(1, 0, 2)[:, :2], 1, "uint8"),
                           (block, 2, "uint8"),
                           (want[:-1], 1, "uint8"),
                           (want, 1, "uint16")):
        with pytest.raises(ValueError, match=f"chunk {key} "):
            volume_mod.encode_chunk(key, "raw", bad, nc, dtype)


def test_failed_ingest_leaves_no_temporary_dir(spark, tmp_path):
    """A refused ``ingest_chunks`` job leaves the mip dir exactly as it
    found it, try after try: tasks of the failed job that outlive
    Spark's abort must not leave a ``_temporary`` directory behind."""
    info = _info()
    vol = Volume.create(spark, str(tmp_path / "v"), info)
    mirror = _arr((128, 128, 128), 90)
    vol.write(mirror, (0, 0, 0))
    d = vol._mip_dir()
    listing = sorted(os.listdir(d))
    rows = [(*r[:4], r[6]) for r in
            _chunk_rows(_arr((128, 128, 128), 91), info, 0, enc="raw")[:8]]
    rows[5] = (*rows[5][:4], rows[5][4][:-3])      # truncated payload
    df = spark.createDataFrame(
        rows, "cx int, cy int, cz int, key string, payload binary")
    for attempt in range(10):
        with pytest.raises(Exception, match="cannot encode"):
            vol.ingest_chunks(df)
        assert sorted(os.listdir(d)) == listing, attempt
    _check(vol, mirror)
