"""Driver-local compaction (``Volume.compact`` under ``local_io``): the
chunk index folds overwrite history on the driver, a byte copy with no
Spark job.  It must keep exactly the rows the Spark fold keeps, write
one chunk per row group sorted by (cz, cy, cx) in bounded batches, and
leave the dataset readable after a crash at any step.  Metadata files
(``info``, ``_epoch``) are replaced atomically.  Every case is checked
against a numpy mirror."""
import errno
import os
import shutil
import tracemalloc

import pyarrow.parquet as pq
import pytest
from test_chunk_index import _arr, _check, _chunk_rows, _info, _write_rows

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
        assert set(t["epoch"].to_pylist()) == {0}
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


@pytest.mark.parametrize("inject,leaves_tmp", [
    (_inject_part_write, True),
    (_inject_between_renames, True),
    (_inject_before_epoch_reset, False)])
def test_crashed_local_fold_leaves_dataset_readable(
        spark, tmp_path, monkeypatch, inject, leaves_tmp):
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
            vol.compact()
    assert os.path.isdir(d + ".tmp") == leaves_tmp
    reopened = Volume.open(spark, root)
    assert not os.path.exists(d + ".old")
    for local in (True, False):
        reopened.local_io = local
        _check(reopened, mirror)
    _check(vol, mirror)                     # the crashed handle's index
    reopened.local_io = True
    reopened.compact()
    assert not os.path.exists(d + ".tmp")
    assert not os.path.exists(d + ".old")
    assert reopened._current_epoch() == 0
    assert len(_rows(d)) == 64 and _disjoint(_spans(d))
    _check(reopened, mirror)
    _check(Volume.open(spark, root), mirror)


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
