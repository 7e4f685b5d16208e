"""Volume — the Spark-native chunked N-d array over object storage.

Re-expresses the reference's BigArray (src/type.jl, src/modes/*.jl) as a
DataFrame-first design:

Storage layout (any Hadoop-FS scheme: file://, s3a://, gs://)::

    <root>/info                     neuroglancer JSON (SURVEY §1.2)
    <root>/chunks/mip=<key>/        Parquet: cx,cy,cz,key,enc,epoch,payload

Design decisions for 100 TB scale (why this differs from a literal port):

- **One Hive partition per mip, NOT per chunk.**  Partitioning by
  (cx,cy,cz) would create millions of tiny directories at 100 TB /
  64³-voxel chunks — an object-store listing disaster.  Instead chunk ids
  are plain int columns and every chunk is its own Parquet row group
  (files sorted by (cz,cy,cx)), so row-group min/max statistics prune a
  cutout filter to exactly its chunks, with O(files) not O(chunks)
  listing.  The driver-local cutout skips the statistics altogether: a
  per-handle chunk index (chunk_index.py) maps chunk ids to row groups
  and reads exactly the k payloads a cutout needs, minus the chunks a
  process-wide cache already holds decoded.
- **Latest-epoch-wins (LSM-style) overwrite.**  Parquet is immutable, so
  an overwrite of a region appends rows with a higher ``epoch``; reads
  keep ``max_by(payload, epoch)`` per key after partition pruning (the
  dedupe shuffles only the *pruned* chunk set, not the table).
  ``compact()`` folds history down and ``delete(box)`` folds it less
  the box, like the reference's KV delete+put
  (src/backends/S3Dicts.jl:55-77, :100-103) but append-only and
  cloud-atomic.  Both go through one mip rewrite, ``_fold_mip``: a
  Spark ``max_by`` rewrite in general, a driver-side byte copy of each
  key's latest payload through the chunk index on local datasets.
- **Codec work runs in executors** (Arrow-batched pandas path), exactly
  where the reference pays decode cost in its worker tasks
  (src/modes/multithreads.jl:107-119); Spark's task scheduler replaces
  the hand-rolled channel + 8-coroutine pool.  The chunk table has one
  read site and one write site, like the reference's one read loop and
  one write loop (src/modes/sequential.jl:23-65 and :4-17): every
  executor-side read is ``Volume.map_cuts`` (live-chunk selection,
  epoch dedupe, ``decode_chunk``, skip of chunks outside the request)
  and every payload is encoded by ``encode_chunk``, which refuses a
  block or byte string of the wrong size.  No other module knows how
  live chunks are selected; ``voxels``, ``fsck`` and the driver-local
  cutout, which need their own loops, still decode through
  ``decode_chunk``.  Every executor closure bootstraps through one
  wrapper, ``_on_workers``.
- **The voxel view is arrays plus Catalyst arithmetic.**  ``voxels()``
  ships one Arrow row per chunk cut holding its values in F order;
  ``posexplode`` and integer expressions derive x, y, z and c in the
  JVM, where Catalyst drops whichever a query does not use.

Coordinate convention: 0-based, half-open global boxes (see indexes.py —
byte-identical on-disk keys to the reference / neuroglancer precomputed).
"""

from __future__ import annotations

import contextlib
import functools
import json
import math
import os
import shutil
import socket
import time
import uuid
from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from bigarrays_jl_spark import indexes as ix
from bigarrays_jl_spark.chunk_index import (ID_COLUMNS, ChunkIndex, Lookup,
                                            cache_written, carry_over)
from bigarrays_jl_spark.infos import Info, InfoScale

# Executor closures re-import this package on python workers; a harness
# that builds its own SparkSession may not have put the repo on the
# workers' PYTHONPATH, so ``_on_workers`` prepends it before the wrapped
# function runs.  On a cluster, --py-files replaces it.
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _on_workers(fn):
    """Wrap an executor-side function (the iterator function of a
    ``mapInPandas``/``mapInArrow`` or the group function of an
    ``applyInPandas``) so that it first puts the repo on the worker's
    ``sys.path``.  The wrapper is a nested closure, so cloudpickle
    ships it by value together with the root path, and it takes one
    positional argument because ``applyInPandas`` picks its calling
    convention from the arity.  ``fn`` imports package modules inside
    its body: unpickling runs before the bootstrap."""
    root = _REPO_ROOT

    def run(arg):
        import sys
        if root not in sys.path:
            sys.path.insert(0, root)
        return fn(arg)

    run.__name__ = fn.__name__       # the name Spark plans show
    return run


def _f_bytes(block: np.ndarray) -> bytes:
    """The F-order (neuroglancer) bytes of an ndarray block."""
    return np.asfortranarray(block).tobytes(order="F")


def encode_chunk(key: str, enc: str, block_or_bytes, nc: int,
                 dtype) -> bytes:
    """The one chunk encode of every write path (the reference's
    src/modes/sequential.jl:4-17), ``decode_chunk``'s inverse: a
    chunk's key and its voxels → the encoded payload to store.

    ``block_or_bytes`` is either the ``(x, y, z[, c])`` array of the
    key's whole box (the channel axis may be dropped when ``nc == 1``)
    in the volume's ``dtype``, or its raw F-order bytes.  An array of
    another shape or dtype, or bytes that are not exactly the key's
    box × channels × dtype, are refused before anything is stored, so
    a wrong-size payload fails at write time instead of on every later
    read; every failure raises ``ValueError`` naming the chunk key.
    Safe to call from executor closures (imports locally)."""
    import numpy as _np

    from bigarrays_jl_spark import codecs as _codecs
    from bigarrays_jl_spark import indexes as _ix
    try:
        shape = _ix.box_shape(_ix.parse_chunk_key(key))
        dt = _np.dtype(dtype)
        data = block_or_bytes
        if isinstance(data, _np.ndarray):
            if nc == 1 and data.ndim == 4:
                data = data[..., 0]
            want_shape = shape if nc == 1 else (*shape, nc)
            if data.dtype != dt or data.shape != want_shape:
                raise ValueError(f"block {data.dtype}{data.shape} != "
                                 f"expected {dt}{want_shape}")
            data = _f_bytes(data)
        want = shape[0] * shape[1] * shape[2] * nc * dt.itemsize
        if len(data) != want:
            raise ValueError(f"payload {len(data)} B != expected {want} B")
        return _codecs.get_codec(enc).encode(data)
    except Exception as e:
        raise ValueError(f"chunk {key} ({enc}): cannot encode: {e}") from e


def decode_chunk(key: str, enc: str, payload, nc: int, dtype,
                 request: ix.Box | None = None,
                 part_file: str | None = None):
    """The one chunk decode of every read path (the reference's
    src/modes/sequential.jl:23-65): a stored chunk's key and encoded
    payload → ``(cbox, cut, block)``, or None when the chunk misses
    ``request``.  ``cbox`` is the chunk's global box, ``cut`` its
    intersection with ``request`` (the whole chunk when None) and
    ``block`` the read-only ``(x, y, z, c)`` F-order view of the
    decoded voxels in ``cut``, channel axis always present.

    The jpeg aspect guard always applies (the image width must be the
    chunk's sx) and the decoded byte count must match the key's box ×
    channels × dtype before anything is reshaped, so a corrupt or
    unexpected payload never turns into wrong voxels: every failure
    raises :class:`ChunkDecodeError` naming the chunk key, and
    ``part_file`` when the caller knows it.  Safe to call from executor
    closures (imports locally)."""
    import numpy as _np

    from bigarrays_jl_spark import codecs as _codecs
    from bigarrays_jl_spark import indexes as _ix
    try:
        cbox = _ix.parse_chunk_key(key)
        cut = cbox if request is None else _ix.intersect_box(cbox, request)
        if _ix.box_is_empty(cut):
            return None
        shape = _ix.box_shape(cbox)
        dt = _np.dtype(dtype)
        data = _codecs.decode_payload(enc, bytes(payload),
                                      expected_width=shape[0])
        want = shape[0] * shape[1] * shape[2] * nc * dt.itemsize
        if len(data) != want:
            raise ValueError(f"payload {len(data)} B != expected {want} B")
        chunk = _np.frombuffer(data, dtype=dt).reshape((*shape, nc),
                                                        order="F")
    except Exception as e:
        where = f" in part file {part_file}" if part_file else ""
        raise ChunkDecodeError(f"chunk {key} ({enc}){where}: {e}") from e
    return cbox, cut, chunk[_ix.box_slices(cut, cbox)]


def _id_count(ranges) -> int:
    """The number of chunk ids in ``_id_ranges``'s ``ranges`` (0 for
    None)."""
    return 0 if ranges is None else math.prod(max(0, hi - lo)
                                               for lo, hi in ranges)


def _place_blocks(buf: np.ndarray, request: ix.Box, boxes: np.ndarray,
                  blocks: list) -> int:
    """Copy the part of each block ``blocks[i]`` (global box
    ``boxes[i]``, an ``(n, 3, 2)`` array) that meets ``request`` into
    ``buf``, which holds ``request``; returns how many met it.  Every
    cut and both slice sets come from one numpy pass.  The one
    placement of cutouts, downsample and rechunk."""
    if not blocks:
        return 0
    box = np.asarray(boxes, dtype=np.int64)
    req = np.array(request, dtype=np.int64)
    lo = np.maximum(box[:, :, 0], req[:, 0])
    hi = np.minimum(box[:, :, 1], req[:, 1])
    meets = (hi > lo).all(axis=1)
    src = np.concatenate([lo - box[:, :, 0], hi - box[:, :, 0]], axis=1)
    dst = np.concatenate([lo - req[:, 0], hi - req[:, 0]], axis=1)
    for block, m, (a, b, c, a1, b1, c1), (x, y, z, x1, y1, z1) in zip(
            blocks, meets.tolist(), src.tolist(), dst.tolist()):
        if m:
            buf[x:x1, y:y1, z:z1] = block[a:a1, b:b1, c:c1]
    return int(meets.sum())


def _returned_blocks(parts: pd.DataFrame, dtype, nc: int):
    """The global boxes and ``(x, y, z, c)`` blocks of a frame of
    returned cuts (``x0, y0, z0, sx, sy, sz`` and F-order ``data``
    bytes), as :func:`_place_blocks` takes them."""
    lo = parts[["x0", "y0", "z0"]].to_numpy(np.int64)
    shape = parts[["sx", "sy", "sz"]].to_numpy(np.int64)
    blocks = [np.frombuffer(d, dtype=dtype).reshape((*s, nc), order="F")
              for d, s in zip(parts["data"], shape.tolist())]
    return np.stack([lo, lo + shape], axis=2), blocks


def _cuts(batch, nc: int, dtype, request: ix.Box | None = None):
    """``(key, cbox, cut, block)`` of every chunk row of ``batch`` (a
    pandas frame or a dict of lists with ``key, enc, payload``) that
    meets ``request`` — the decode loop of ``Volume.map_cuts``, also
    run by ``voxels`` and by ``rechunk``'s merge groups."""
    for key, enc, payload in zip(batch["key"], batch["enc"],
                                 batch["payload"]):
        hit = decode_chunk(key, enc, payload, nc, dtype, request)
        if hit is not None:
            yield (key, *hit)


def _chunk_assembler(sc: InfoScale, nc: int, dtype, epoch: int):
    """Executor-side assembly of whole chunks of scale ``sc`` from
    pieces: ``build(cid, fill)`` clamps chunk ``cid``'s box to the
    volume, hands a zero ``(x, y, z, c)`` buffer and that box to
    ``fill(buf, box)`` and returns a one-row ``CHUNK_SCHEMA`` frame of
    the encoded buffer at ``epoch`` — or an empty frame when the box
    misses the volume or ``fill`` returns False (nothing placed).
    Absent pieces stay zero, the missing-data background."""
    anchor = ix.lattice_anchor(sc.voxel_offset, sc.chunk_size)
    chunk_size = tuple(sc.chunk_size)
    vol = ix.volume_box(sc.voxel_offset, sc.volume_size)
    enc = sc.encoding
    dtype = str(np.dtype(dtype))

    def build(cid, fill) -> pd.DataFrame:
        import numpy as _np
        import pandas as _pd

        from bigarrays_jl_spark import indexes as _ix
        from bigarrays_jl_spark.volume import _CHUNK_COLUMNS, encode_chunk
        box = _ix.intersect_box(tuple(
            _ix.chunk_global_range(c, a, s)
            for c, a, s in zip(cid, anchor, chunk_size)), vol)
        if not _ix.box_is_empty(box):
            buf = _np.zeros((*_ix.box_shape(box), nc), dtype=dtype,
                            order="F")
            if fill(buf, box):
                key = _ix.chunk_key(box)
                return _pd.DataFrame(
                    [(*cid, key, enc, epoch,
                      encode_chunk(key, enc, buf, nc, dtype))],
                    columns=_CHUNK_COLUMNS)
        return _pd.DataFrame([], columns=_CHUNK_COLUMNS)

    return build


def _in_ids(ranges):
    """Predicate: the row's chunk id lies in the per-axis half-open
    ``ranges`` (pushed down to Parquet row-group statistics)."""
    (cx0, cx1), (cy0, cy1), (cz0, cz1) = ranges
    return ((F.col("cx") >= cx0) & (F.col("cx") < cx1)
            & (F.col("cy") >= cy0) & (F.col("cy") < cy1)
            & (F.col("cz") >= cz0) & (F.col("cz") < cz1))


CHUNK_SCHEMA = "cx int, cy int, cz int, key string, enc string, epoch bigint, payload binary"
_CHUNK_COLUMNS = ("cx", "cy", "cz", "key", "enc", "epoch", "payload")


class ChunkDecodeError(ValueError):
    """A stored chunk failed to decode: its payload is corrupt, decodes
    to the wrong byte count, or is a jpeg of the wrong aspect.  Raised
    by :func:`decode_chunk` on every read path (driver-local and Spark
    cutout, ``voxels``, ``map_blocks``, ``rechunk``, ``downsample``, the
    volume operators); ``fsck`` reports it in its ``error`` column.
    The message names the chunk key, and the part file on the
    driver-local cutout path."""


class MissingChunkError(KeyError):
    """Raised on cutout of absent chunks when fill_missing=False
    (reference: rethrown KeyError, src/modes/sequential.jl:55-58)."""


class ConcurrentWriterError(RuntimeError):
    """A second writer tried to acquire a dataset's write-intent lock.

    Overwrite ordering rides a monotonically increasing epoch counter;
    two concurrent writers bumping it read-modify-write could silently
    interleave epochs and resurrect overwritten chunks.  The lock makes
    that contract violation loud instead of silent.  If a writer crashed
    and left a stale lock behind, clear it with ``Volume.break_lock()``.
    """


# ---------------------------------------------------------------------------
# Hadoop-FS helpers: scheme-agnostic metadata IO (file://, s3a://, gs://) —
# the Spark equivalent of the reference's backend dispatch (src/type.jl:39-48).
# ---------------------------------------------------------------------------

@functools.cache
def _driver_pool():
    """The driver's one thread pool for the codec work of the
    driver-local path (zlib and zstd release the GIL), created on first
    use and shared by every handle."""
    from concurrent.futures import ThreadPoolExecutor
    return ThreadPoolExecutor(max_workers=min(32, os.cpu_count() or 8),
                              thread_name_prefix="bigarrays-driver")


# a forked child has none of the parent's pool threads
os.register_at_fork(after_in_child=_driver_pool.cache_clear)


def _await_idle(spark: SparkSession) -> None:
    """Wait until Spark reports no active stage and no running task,
    for at most 10 s (another thread's job may keep it busy).  A failed
    job's stage stops being active at once, but its other tasks end
    only once they have noticed they were killed."""
    tracker = spark.sparkContext.statusTracker()
    executors = spark.sparkContext._jsc.sc().statusTracker()
    deadline = time.monotonic() + 10
    while (tracker.getActiveStageIds()
           or any(e.numRunningTasks() for e in executors.getExecutorInfos())):
        if time.monotonic() > deadline:
            return
        time.sleep(0.02)


def _is_local(path: str) -> bool:
    return "://" not in path or path.startswith("file://")

def _strip_file_scheme(path: str) -> str:
    return path[len("file://"):] if path.startswith("file://") else path

@contextlib.contextmanager
def _replacing(path: str):
    """Yield a hidden (``.``-prefixed) sibling of local ``path`` to
    write, then rename it over ``path``.  A crash mid-write leaves the
    previous file whole and no torn file under a visible name: Spark,
    pyarrow and chunk-index discovery all skip ``.`` names."""
    d, name = os.path.split(path)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".{name}.{uuid.uuid4().hex}.tmp")
    try:
        yield tmp
        os.replace(tmp, path)
    except BaseException:
        with contextlib.suppress(FileNotFoundError):
            os.remove(tmp)
        raise

def _hadoop(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` of ``path`` under Spark's Hadoop conf."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath

def _fs_write_bytes(spark: SparkSession, path: str, data: bytes) -> None:
    if _is_local(path):
        # a torn ``_epoch`` would make every later read and write fail
        with _replacing(_strip_file_scheme(path)) as tmp, \
                open(tmp, "wb") as f:
            f.write(data)
        return
    fs, jpath = _hadoop(spark, path)
    out = fs.create(jpath, True)
    out.write(bytearray(data))
    out.close()

def _fs_read_bytes(spark: SparkSession, path: str) -> bytes:
    if _is_local(path):
        with open(_strip_file_scheme(path), "rb") as f:
            return f.read()
    fs, jpath = _hadoop(spark, path)
    stream = fs.open(jpath)
    try:
        # a JVM-side drain that RETURNS byte[] — py4j converts returned
        # byte[] to Python bytes, whereas passing a Python bytearray to
        # InputStream.read(byte[]) fills only the JVM-side copy
        return bytes(spark._jvm.org.apache.commons.io.IOUtils
                     .toByteArray(stream))
    finally:
        stream.close()

def _fs_exists(spark: SparkSession, path: str) -> bool:
    if _is_local(path):
        return os.path.exists(_strip_file_scheme(path))
    fs, jpath = _hadoop(spark, path)
    return fs.exists(jpath)

def _fs_create_exclusive(spark: SparkSession, path: str, data: bytes) -> bool:
    """Create-if-absent: write ``data`` to ``path`` only if no file exists
    there yet.  Returns False (without writing) when the path is taken —
    the atomic primitive behind the write-intent lock.  Local FS uses
    O_EXCL; Hadoop schemes use ``FileSystem.create(path, overwrite=False)``
    (on S3A this maps to a conditional create / If-None-Match put on
    recent connectors; worst case it is check-then-create, which still
    turns the silent epoch interleave into a loud near-miss)."""
    if _is_local(path):
        p = _strip_file_scheme(path)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        try:
            fd = os.open(p, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        with os.fdopen(fd, "wb") as f:
            f.write(data)
        return True
    fs, jpath = _hadoop(spark, path)
    try:
        out = fs.create(jpath, False)  # overwrite=False → throws if present
    except Exception as e:
        # only "already exists" means the lock is genuinely taken; a
        # transient IO/permission error must not masquerade as a
        # concurrent writer (it would misdirect the operator to
        # break_lock() a lock nobody holds)
        name = type(e).__name__
        msg = str(e)
        if "AlreadyExists" in name or "AlreadyExists" in msg \
                or "already exists" in msg.lower():
            return False
        raise
    try:
        out.write(bytearray(data))
        out.close()
    except Exception:
        # a half-written lock must not stay behind blocking every future
        # writer: best-effort delete before propagating
        with contextlib.suppress(Exception):
            out.close()
        with contextlib.suppress(Exception):
            fs.delete(jpath, False)
        raise
    return True

def _write_part_local(directory: str, rows: list, epoch: int,
                      raw: bool) -> tuple[str, object, object]:
    """Write ``rows``, ``(cx, cy, cz, key, enc, payload, ...)`` with
    encoded payloads sorted by (cz,cy,cx), as one pyarrow part file in
    ``directory`` at ``epoch``, one chunk per row group like the
    Spark-written files beside it, row i holding ``rows[i]``.  Returns
    the file's name, the ``ID_COLUMNS`` table of its rows and the
    footer written (``ChunkIndex.add`` takes both).  ``raw`` (the
    mip's encoding is ``raw``) turns on page compression, the only
    compression layer of raw payloads."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    payloads = [r[5] for r in rows]
    # binary column built zero-copy-ish from one concatenation +
    # a cumulative-offsets array (guide §4.2's offsets-over-one-
    # buffer idiom) — ~2.4× the element-wise pa.array build; the
    # int64/large_binary branch keeps >2 GiB driver writes valid
    total = sum(len(p) for p in payloads)
    lens = np.fromiter((len(p) for p in payloads), dtype=np.int64,
                       count=len(payloads))
    if total < (1 << 31):
        offs = np.zeros(len(payloads) + 1, dtype=np.int32)
        pa_type = pa.binary()
    else:  # pragma: no cover - needs a >2 GiB driver array
        offs = np.zeros(len(payloads) + 1, dtype=np.int64)
        pa_type = pa.large_binary()
    np.cumsum(lens, out=offs[1:])
    payload_arr = pa.Array.from_buffers(
        pa_type, len(payloads),
        [None, pa.py_buffer(offs.tobytes()),
         pa.py_buffer(b"".join(payloads))])
    tbl = pa.table({
        "cx": pa.array([r[0] for r in rows], pa.int32()),
        "cy": pa.array([r[1] for r in rows], pa.int32()),
        "cz": pa.array([r[2] for r in rows], pa.int32()),
        "key": pa.array([r[3] for r in rows], pa.string()),
        "enc": pa.array([r[4] for r in rows], pa.string()),
        "epoch": pa.array([epoch] * len(rows), pa.int64()),
        "payload": payload_arr,
    })
    # one chunk per row group: a cutout reads exactly its chunks'
    # payloads (see chunk_index.py).  No dictionary encoding
    # (hashing 100s of MB of unique chunk payloads cost 5× the raw
    # write) and stats only on the id columns the cutout filter
    # prunes with
    # 8 MB data pages (default 1 MB): fewer page headers/flushes on
    # the fat binary column — measured 494 → 604 MB/s on the
    # write_table call alone (r18); readers are unaffected (pages
    # are a writer-side granularity).  Written under a hidden name and
    # renamed into place: a torn part file would break every later scan
    # of the mip, ``fsck()`` included
    name = f"part-local-{uuid.uuid4().hex}.parquet"
    footer = []
    with _replacing(os.path.join(directory, name)) as tmp:
        pq.write_table(
            tbl, tmp, compression="zstd" if raw else "none",
            row_group_size=1, use_dictionary=False,
            data_page_size=8 << 20,
            write_statistics=["cx", "cy", "cz", "epoch"],
            metadata_collector=footer)
    return name, tbl.select(ID_COLUMNS), footer[0]


def _locked_writer(get_lock_target=None):
    """Method decorator: hold the dataset write-intent lock for the whole
    epoch-allocate → chunk-write window.  ``get_lock_target`` picks which
    Volume to lock (default: ``self``; ``map_blocks`` locks its dest)."""
    def deco(fn):
        @functools.wraps(fn)
        def wrapper(self, *a, **kw):
            target = get_lock_target(self, *a, **kw) if get_lock_target else self
            with target._write_lock():
                return fn(self, *a, **kw)
        return wrapper
    return deco


def _fs_delete(spark: SparkSession, path: str, tree: bool = False) -> None:
    """Remove the file, or with ``tree`` the directory tree, at ``path``
    if there is one."""
    if _is_local(path):
        if tree:
            shutil.rmtree(_strip_file_scheme(path), ignore_errors=True)
        else:
            with contextlib.suppress(FileNotFoundError):
                os.remove(_strip_file_scheme(path))
        return
    fs, jpath = _hadoop(spark, path)
    fs.delete(jpath, tree)

def _fs_rename(spark: SparkSession, src: str, dst: str) -> None:
    """Rename ``src`` to ``dst``, which must not exist.  Hadoop's
    ``rename`` reports failure by returning false; that raises here."""
    if _is_local(src):
        os.rename(_strip_file_scheme(src), _strip_file_scheme(dst))
        return
    fs, jsrc = _hadoop(spark, src)
    if not fs.rename(jsrc, _hadoop(spark, dst)[1]):
        raise OSError(f"rename {src} -> {dst} failed")


class Volume:
    """Handle over one precomputed-style dataset (reference BigArray,
    src/type.jl:7-13: kvStore+info+mip+fillMissing+mode → here
    spark+root+info+mip+fill_missing; Spark owns the execution mode)."""

    def __init__(self, spark: SparkSession, root: str, info: Info,
                 mip: int = 0, fill_missing: bool = True):
        self.spark = spark
        self.root = root.rstrip("/")
        self.info = info
        self.mip = mip
        self.fill_missing = fill_missing
        self._lock_held = False  # reentrancy flag for _write_lock
        # driver-side materialization cap for cutout(): 2**31 voxels
        # (~2 GiB at uint8).  Distributed reads (voxels, map_blocks)
        # are unaffected.
        self.cutout_voxel_budget = 2 ** 31
        # auto-compaction policy: when a write leaves this many epochs of
        # overwrite history, fold it down so reads keep the no-shuffle
        # `_latest` fast path.  Each compaction rewrites the mip (a
        # driver-local byte copy under `local_io`, a Spark shuffle
        # otherwise), so the threshold amortizes that cost over N
        # appends; None disables (manual compact() only).
        self.auto_compact_epochs: int | None = 16
        # Driver-local IO fast path for the DRIVER-ARRAY API (write /
        # cutout) on local-FS datasets: the array is driver-resident on
        # both ends, so routing its bytes through a JVM local relation,
        # a shuffle, and a Python-worker codec round trip is pure
        # overhead (3 extra transits of the array, measured 2-5× the
        # end-to-end time).  The fast path encodes/decodes with a
        # thread pool (zlib/zstd release the GIL) and reads/writes the
        # SAME chunk-table parquet via pyarrow — format-identical, so
        # local and Spark writers interoperate file-for-file
        # (pytest-pinned both directions).  Cutouts look their chunks
        # up in a chunk index cached on this handle (chunk_index.py:
        # ids only, ~60 B per stored chunk, no payloads; kept current
        # by one directory listing per cutout) and read exactly those
        # chunks' row groups, skipping the chunks already held decoded
        # in a process-wide cache (at most
        # chunk_index.DECODED_CACHE_BYTES).  This mirrors the reference's local
        # BinDict backend reading one object per chunk
        # (ref src/backends/BinDicts.jl:24-48) while every distributed
        # op (ingest_chunks, voxels, map_blocks, …) and every non-local
        # scheme stays on the Spark path.  ``compact``, ``delete`` and
        # the auto-compaction duplicate probe run here too: the chunk
        # index already knows every key, epoch and row group, so the
        # fold is a byte copy on the driver (memory bounded by
        # chunk_index.FOLD_BATCH_BYTES) instead of a shuffle of every
        # payload.  Set False to force the Spark path on local datasets.
        self.local_io: bool = True
        # mip dir -> ChunkIndex of the driver-local cutout path
        self._chunk_indexes: dict[str, ChunkIndex] = {}

    # -- constructors (src/type.jl:28-99) -----------------------------------

    @classmethod
    def create(cls, spark: SparkSession, root: str, info: Info, **kw) -> "Volume":
        vol = cls(spark, root, info, **kw)
        vol.commit_info()
        return vol

    @classmethod
    def scratch(cls, spark: SparkSession, info: Info, **kw) -> "Volume":
        """Scratch dataset in a fresh temp dir — the reference's
        ``BigArray(info)`` constructor for tests/benchmarks
        (src/type.jl:85-99)."""
        import tempfile
        return cls.create(spark, tempfile.mkdtemp(prefix="bigarrays_") + "/scratch",
                          info, **kw)

    @classmethod
    def open(cls, spark: SparkSession, root: str, mip: int = 0,
             fill_missing: bool = True) -> "Volume":
        """Open by URL — any scheme Spark's Hadoop FS supports, replacing
        the reference's per-protocol backend dispatch (src/type.jl:37-50)."""
        info = Info.from_json(_fs_read_bytes(spark, root.rstrip("/") + "/info"))
        vol = cls(spark, root, info, mip=mip, fill_missing=fill_missing)
        # roll back any rewrite that crashed between its rename pair
        # (live dir missing, .old generation present) — see _swap_mip_dir
        for m in range(len(info.scales)):
            vol._recover_mip(m)
        return vol

    def commit_info(self) -> None:
        """Write the info JSON back to storage (src/type.jl:335-339)."""
        _fs_write_bytes(self.spark, self.root + "/info", self.info.to_json().encode())

    # -- geometry ------------------------------------------------------------

    @property
    def scale(self) -> InfoScale:
        return self.info.scale(self.mip)

    @property
    def vol_box(self) -> ix.Box:
        return ix.volume_box(self.scale.voxel_offset, self.scale.volume_size)

    @property
    def shape(self) -> tuple[int, ...]:
        s = self.scale.volume_size
        return s if self.info.num_channels == 1 else (*s, self.info.num_channels)

    @property
    def dtype(self) -> np.dtype:
        return self.info.dtype

    @property
    def ndim(self) -> int:
        return self.info.ndim

    def __repr__(self) -> str:  # src/type.jl:118-130
        return (f"Volume({self.root!r}, mip={self.mip}, dtype={self.info.data_type}, "
                f"shape={self.shape}, chunk={self.scale.chunk_size}, "
                f"encoding={self.scale.encoding!r})")

    def _mip_dir(self, mip: int | None = None) -> str:
        key = self.info.scale(self.mip if mip is None else mip).key
        return f"{self.root}/chunks/mip={key}"

    # -- epoch counter (overwrite ordering; single-writer per dataset) -------

    def _current_epoch(self) -> int:
        path = self.root + "/_epoch"
        if _fs_exists(self.spark, path):
            return int(_fs_read_bytes(self.spark, path).decode().strip())
        return -1

    def _next_epoch(self) -> int:
        nxt = self._current_epoch() + 1
        _fs_write_bytes(self.spark, self.root + "/_epoch", str(nxt).encode())
        return nxt

    # -- write-intent lock ----------------------------------------------------

    @property
    def _lock_path(self) -> str:
        return self.root + "/_lock"

    @contextlib.contextmanager
    def _write_lock(self):
        """Create-exclusive write-intent lock spanning epoch allocation
        through chunk-store write.  A second concurrent writer raises
        :class:`ConcurrentWriterError` instead of silently interleaving
        epochs (the reference's writers assume exclusive dataset
        ownership implicitly; here the contract is enforced).  Reentrant
        within one Volume handle so composite writers (e.g. auto-compact
        inside ``write``) take it once."""
        if self._lock_held:
            yield
            return
        token = (f"pid={os.getpid()} host={socket.gethostname()} "
                 f"acquired={time.time():.3f}").encode()
        if not _fs_create_exclusive(self.spark, self._lock_path, token):
            try:
                holder = _fs_read_bytes(self.spark, self._lock_path).decode()
            except Exception:
                holder = "<unreadable>"
            raise ConcurrentWriterError(
                f"dataset {self.root} is locked by another writer "
                f"({holder}); one writer per dataset — if that writer "
                "crashed, clear the stale lock with Volume.break_lock()")
        self._lock_held = True
        try:
            yield
        finally:
            self._lock_held = False
            _fs_delete(self.spark, self._lock_path)

    def break_lock(self) -> None:
        """Force-remove a stale write-intent lock left by a crashed
        writer.  Only call when you know no writer is live."""
        _fs_delete(self.spark, self._lock_path)

    # -- driver-local IO fast path (local-FS datasets only) -------------------

    def _local_chunks_dir(self, mip: int | None = None) -> str | None:
        """The mip dir as a plain OS path when the driver-local fast
        path applies (local-FS dataset + ``local_io``), else None."""
        if not self.local_io or not _is_local(self.root):
            return None
        return _strip_file_scheme(self._mip_dir(mip))

    def _write_chunks_local(self, rows: list, enc: str, epoch: int,
                            mip: int | None = None) -> None:
        """Driver-local twin of ``_write_chunks`` for driver-resident
        arrays: F-order copy on the calling thread + codec encode in the
        driver's thread pool (zlib/zstd release the GIL) + one part file
        through ``_write_part_local``.  Row payloads are ndarray views.

        Once the part file is in place, the handle's chunk index takes
        its ids and footer from the writer (``ChunkIndex.add``), so no
        lookup opens it.  Write-through: each chunk's F-order bytes go
        into the process-wide decoded cache as the decoded block of its
        row (``chunk_index.cache_written``), so a cutout right after a
        write reads and decodes nothing.  Every codec that encodes is
        lossless, so those bytes are what the stored payload decodes
        to."""
        rows = sorted(rows, key=lambda r: (r[2], r[1], r[0]))
        nc, dtype = self.info.num_channels, self.info.dtype

        # pipelined copy/encode (r18): the F-order copies are numpy
        # loops that HOLD the GIL, so running copy+encode together in
        # the pool serialized the copies against each other AND against
        # the encodes (interleaved A/B: 32-way pool did the same bytes
        # ~2× slower than one thread).  Submitting from the main thread
        # keeps the copies on one contention-free thread while the
        # encodes (zlib releases the GIL) overlap in the pool.
        if enc == "raw":
            # identity encode: a pool would only add thread overhead
            payloads = data = [encode_chunk(r[3], enc, r[4], nc, dtype)
                               for r in rows]
        else:
            pool = _driver_pool()
            data, futs = [], []
            for r in rows:
                data.append(_f_bytes(r[4]))
                futs.append(pool.submit(encode_chunk, r[3], enc, data[-1],
                                        nc, dtype))
            payloads = [f.result() for f in futs]
        d = self._local_chunks_dir(mip)
        name, ids, footer = _write_part_local(
            d, [(*r[:4], enc, p) for r, p in zip(rows, payloads)], epoch,
            raw=enc == "raw")
        path = os.path.join(d, name)
        cache_written(path, self._chunk_index(d).add(path, ids, footer), [
            np.frombuffer(b, dtype=dtype).reshape((*r[4].shape[:3], nc),
                                                  order="F")
            for r, b in zip(rows, data)])

    def _read_latest_local(self, ranges,
                           mip: int | None = None) -> Lookup | None:
        """Driver-local twin of ``live_chunks``: the handle's cached
        chunk index selects the latest epoch of every key in the
        chunk-id ``ranges`` (from ``_id_ranges``) and reads only the
        payloads of the chunks the decoded cache does not hold.
        Returns ``ChunkIndex.latest_decoded``'s ``Lookup``, or None
        when the fast path does not apply."""
        d = self._local_chunks_dir(mip)
        if d is None:
            return None
        return self._chunk_index(d).latest_decoded(
            ranges, self.info.num_channels, self.info.dtype)

    def _chunk_index(self, d: str) -> ChunkIndex:
        """The handle's cached chunk index of local mip dir ``d``."""
        index = self._chunk_indexes.get(d)
        if index is None:
            index = self._chunk_indexes[d] = ChunkIndex(d)
        return index

    def _write_chunks(self, df: DataFrame, mip: int | None = None,
                      mode: str = "append", path: str | None = None) -> None:
        """Append/overwrite chunk rows, sorted by (cz,cy,cx), one chunk
        per row group so row-group stats prune to exactly the chunks a
        filter selects.  The row-count limit is what forces that:
        parquet-mr checks ``parquet.block.size`` only every 100 rows.

        Parquet page compression is OFF for codec-compressed encodings:
        the payload bytes are already gzip/zstd and page-level zstd
        would recompress incompressible data (measured 6× slower
        writes).  For ``raw`` the page codec IS the compression layer
        (the documented raw-passthrough divergence, infos.py).

        When the job fails, tasks of it that are still running after
        Spark's abort has removed ``<path>/_temporary`` can create it
        again.  On a local dataset the failed write therefore waits
        for those tasks to end (``_await_idle``) and removes
        ``<path>/_temporary`` before the error propagates, so a
        refused write leaves the directory as it found it.
        """
        enc = self.info.scale(self.mip if mip is None else mip).encoding
        path = path or self._mip_dir(mip)
        try:
            (df.sortWithinPartitions("cz", "cy", "cx")
               .write.mode(mode)
               .option("compression",
                       "zstd" if enc == "raw" else "uncompressed")
               .option("parquet.block.row.count.limit", "1")
               .parquet(path))
        except Exception:
            if _is_local(path):
                _await_idle(self.spark)
                shutil.rmtree(os.path.join(_strip_file_scheme(path),
                                           "_temporary"),
                              ignore_errors=True)
            raise

    # -- chunk DataFrame ------------------------------------------------------

    def chunks_df(self, mip: int | None = None) -> DataFrame:
        """The stored chunk table for one mip (empty DF if nothing written)."""
        path = self._mip_dir(mip)
        if not _fs_exists(self.spark, path):
            return self.spark.createDataFrame([], CHUNK_SCHEMA)
        return self.spark.read.schema(CHUNK_SCHEMA).parquet(path)

    def _id_ranges(self, request: ix.Box | None = None,
                   mip: int | None = None):
        """Per-axis half-open chunk-id ranges of the chunks meeting
        ``request`` (the whole volume when None) after clamping it to
        the volume, the reference's chunk-id bounding box
        (src/ChunkIterators.jl:20-23); None when nothing is left.
        Every id in the ranges intersects: the lattice is closed-form."""
        sc = self.info.scale(self.mip if mip is None else mip)
        vol = ix.volume_box(sc.voxel_offset, sc.volume_size)
        clamped = ix.intersect_box(request or vol, vol)
        if ix.box_is_empty(clamped):
            return None
        return ix.chunk_id_ranges(
            clamped, ix.lattice_anchor(sc.voxel_offset, sc.chunk_size),
            sc.chunk_size)

    def _pruned(self, request: ix.Box | None,
                mip: int | None = None) -> DataFrame:
        """Partition/row-group pruning: the chunk-id range filter of
        ``_id_ranges``."""
        ranges = self._id_ranges(request, mip)
        df = self.chunks_df(mip)
        return df.limit(0) if ranges is None else df.filter(_in_ids(ranges))

    def _latest(self, df: DataFrame) -> DataFrame:
        """Latest-epoch-wins per chunk key (LSM semantics, see module doc).

        Fast path: when the dataset has at most one write epoch there is
        nothing to dedupe — skip the shuffle entirely (the common case
        for write-once ingest; overwritten datasets pay the groupBy only
        until ``compact()`` folds them back to epoch 0).
        """
        if self._current_epoch() <= 0:
            return df
        return df.groupBy("cx", "cy", "cz", "key").agg(
            F.max_by("enc", "epoch").alias("enc"),
            F.max_by("payload", "epoch").alias("payload"),
        )

    def live_chunks(self, request: ix.Box | None = None, *,
                    mip: int | None = None,
                    ids: list[tuple[int, int, int]] | None = None
                    ) -> DataFrame:
        """The live chunk rows of mip ``mip`` (this handle's by default),
        latest epoch per key: ``cx, cy, cz, key, enc, payload``, payloads
        still encoded — the one live-chunk selection of every Spark
        read.  ``request`` keeps the chunks whose ids meet it, ``ids``
        an explicit chunk-id set (a BETWEEN plus multi-column IN at the
        scan); with neither every stored row counts, ids outside the
        volume included (``fsck`` audits those).  Scans of one volume
        go through :meth:`map_cuts`; decode with :func:`decode_chunk`."""
        m = self.mip if mip is None else mip
        if ids is not None:
            return self._latest(self._sources_subset(m, ids))
        return self._latest(self.chunks_df(m) if request is None
                            else self._pruned(request, m))

    def map_cuts(self, fn, schema: str, request: ix.Box | None = None, *,
                 ids: list[tuple[int, int, int]] | None = None) -> DataFrame:
        """The one executor-side chunk scan (the reference's read loop,
        src/modes/sequential.jl:23-65): every live chunk meeting
        ``request`` (the whole volume when None) is decoded through
        :func:`decode_chunk` and ``fn(key, cbox, cut, block)`` runs on
        it, yielding pandas frames of ``schema``; chunks that miss
        ``request`` are skipped.  ``cbox`` is the chunk's box, ``cut``
        its intersection with ``request`` and ``block`` the read-only
        ``(x, y, z, c)`` view of ``cut``.  ``ids`` restricts the scan to
        an explicit chunk-id set instead of the request's id box (see
        :meth:`live_chunks`).

        One ``mapInPandas``: no shuffle beyond the epoch dedupe, which
        only runs once the dataset has overwrite history.  ``fn`` runs
        on executors, so it imports what it needs in its body."""
        req = tuple((int(lo), int(hi)) for lo, hi in
                    (request or self.vol_box))
        chunks = self.live_chunks(req, ids=ids)
        nc, dtype = self.info.num_channels, self.info.data_type

        def scan(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from bigarrays_jl_spark.volume import _cuts
            for b in it:
                for hit in _cuts(b, nc, dtype, req):
                    yield from fn(*hit)

        scan.__name__ = fn.__name__      # the name Spark plans show
        return chunks.mapInPandas(_on_workers(scan), schema)

    # -- write / ingest (src/type.jl:137-150, src/modes/sequential.jl:4-17) --

    @_locked_writer()
    def write(self, arr: np.ndarray, offset: Sequence[int]) -> None:
        """Write ``arr`` with its [0,0,0] voxel at global ``offset``.

        Semantics preserved from the reference:
        - data beyond the volume bounds is silently dropped; the
          in-bounds remainder is kept (W5, test/BinDicts.jl:76-96);
        - the (clamped) write box must be chunk-lattice aligned
          (README.md:46, src/modes/multithreads.jl:45-47) so every
          payload is a full volume-clamped chunk;
        - payload byte order is Fortran (column-major), matching the
          neuroglancer raw layout (src/modes/sequential.jl:13-15).

        .. note:: single-writer contract, ENFORCED — overwrite ordering
           rides a monotonically increasing epoch counter stored beside
           the dataset (the reference's writers assume exclusive dataset
           ownership implicitly).  Every writer entry point holds a
           create-exclusive ``_lock`` file for the epoch-allocate →
           chunk-write window, so a second concurrent writer raises
           :class:`ConcurrentWriterError` instead of silently
           interleaving epochs; ``break_lock()`` clears a stale lock
           after a writer crash.
        """
        info, sc = self.info, self.scale
        if arr.dtype != info.dtype:
            raise TypeError(f"dtype mismatch: array {arr.dtype} vs volume {info.dtype}")
        if arr.ndim != info.ndim:
            raise ValueError(f"ndim mismatch: array {arr.ndim} vs volume {info.ndim}")
        if info.num_channels > 1 and arr.shape[3] != info.num_channels:
            raise ValueError("channel-axis size mismatch")
        request: ix.Box = tuple(
            (int(o), int(o) + s) for o, s in zip(offset, arr.shape[:3]))
        clamped = ix.intersect_box(request, self.vol_box)
        if ix.box_is_empty(clamped):
            return
        anchor = ix.lattice_anchor(sc.voxel_offset, sc.chunk_size)
        for (lo, hi), (vlo, vhi), a, c in zip(clamped, self.vol_box, anchor, sc.chunk_size):
            if (lo - a) % c != 0 and lo != vlo:
                raise ValueError(
                    f"write start {lo} not chunk-aligned (anchor {a}, chunk {c}); "
                    "saving must be chunk-size aligned (reference README.md:46)")
            if (hi - a) % c != 0 and hi != vhi:
                raise ValueError(
                    f"write stop {hi} not chunk-aligned (anchor {a}, chunk {c})")

        nc = info.num_channels
        rows = []
        for cs in ix.iter_chunk_slices(clamped, sc.voxel_offset, sc.volume_size,
                                       sc.chunk_size):
            # slice of the input array contributing to this chunk (must be
            # the full clamped chunk, guaranteed by the alignment check)
            sl = ix.box_slices(cs.cutout_box, request)
            block = arr[sl] if nc == 1 else arr[(*sl, slice(None))]
            # payload stays an ndarray VIEW here; each sink materializes
            # F-order bytes itself (the local fast path fuses the copy
            # into its encode thread pool — measured ~40% less wall
            # than copy-then-encode)
            rows.append((cs.cid[0], cs.cid[1], cs.cid[2], cs.key, block))

        if self._local_chunks_dir() is not None:
            # driver-local fast path (see local_io in __init__): the
            # array is already on the driver — encode thread-pooled,
            # write one format-identical parquet part file, skip the
            # JVM transit + shuffle + Python-worker round trip
            self._write_chunks_local(rows, sc.encoding, self._next_epoch())
            self._maybe_auto_compact()
            return
        # A driver-array write carries few, FAT rows.  Each slice is
        # built as a pyarrow Table (no pandas round-trip; ~8× less
        # driver CPU than pd.DataFrame construction on an 84 MB write).
        # Slices stay under ~48 MB so no local relation crosses
        # spark.sql.session.localRelationCacheThreshold (64 MB), above
        # which Spark caches the relation whole.  Arrow-built relations
        # arrive as ONE partition each, so the union is repartitioned
        # across the executors before the codec stage — one shuffle of
        # the array's own bytes keeps the encode parallel; the raw-chunk
        # frame then goes through ``ingest_chunks`` (epoch, executor
        # encode, write, auto-compaction).  Measured honestly (r13,
        # interleaved best-of-4 A/B vs the previous
        # pandas path): END-TO-END this is a wash (~27 vs ~29 MB/s,
        # ±40% window variance) — the driver-array path is bound by the
        # one inescapable driver transit of the array, not by either
        # plan, which is the measured justification for NOT adding a
        # temp-spill re-import route (SCALE.md "Ingest posture").  No
        # parallelize() (embeds payloads in task binaries), no
        # session-global conf mutation.  BULK ingest at scale is
        # ingest_chunks / ingest_voxels, where partitioning comes from
        # the source and nothing transits the driver.
        import pyarrow as pa
        max_bytes = 48 * 1024 * 1024
        slices, cur, size = [], [], 0
        for r in rows:
            cur.append(r)
            size += r[4].nbytes
            if size >= max_bytes:
                slices.append(cur)
                cur, size = [], 0
        if cur:
            slices.append(cur)

        def _tbl(rs):
            return pa.table({
                "cx": pa.array([r[0] for r in rs], pa.int32()),
                "cy": pa.array([r[1] for r in rs], pa.int32()),
                "cz": pa.array([r[2] for r in rs], pa.int32()),
                "key": pa.array([r[3] for r in rs], pa.string()),
                "payload": pa.array([_f_bytes(r[4]) for r in rs],
                                    pa.binary()),
            })

        def _spark_df(tbl):
            # createDataFrame(pa.Table) is a PySpark ≥4.0 API (the
            # zero-copy driver-transit path this ingest is sized for);
            # on 3.x fall back through pandas — one extra copy, same
            # schema — so the driver-array path degrades instead of
            # breaking (r13 advice: no declared version floor)
            import pyspark
            if int(pyspark.__version__.split(".")[0]) >= 4:
                return self.spark.createDataFrame(tbl)
            return self.spark.createDataFrame(
                tbl.to_pandas(),
                "cx int, cy int, cz int, key string, payload binary")

        df = functools.reduce(
            DataFrame.unionAll, [_spark_df(_tbl(s)) for s in slices])
        n_tgt = min(len(rows), self.spark.sparkContext.defaultParallelism)
        if n_tgt > len(slices):
            df = df.repartition(n_tgt)
        self.ingest_chunks(df)     # the write lock is reentrant

    @_locked_writer()
    def ingest_chunks(self, df: DataFrame) -> None:
        """Distributed bulk ingest from a chunk DataFrame — the 100 TB
        write path (the driver-array ``write`` is the API-parity path).

        ``df`` columns: ``cx,cy,cz int, key string, payload binary`` with
        payloads as *raw* (unencoded) Fortran-order bytes of full
        volume-clamped chunks.  Encoding runs in executors; partitioning
        comes from the source, so nothing touches the driver.  A payload
        whose size is not its key's box × channels × dtype fails the job
        naming the key (``encode_chunk``); Spark's commit protocol then
        leaves no part file behind.
        """
        epoch = self._next_epoch()
        enc = self.scale.encoding
        nc, dtype = self.info.num_channels, self.info.data_type

        def encode_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            # codec-CPU-bound: a mapInArrow variant measured within noise
            # (r17, 537 MB: 282-353 pandas vs 335-338 arrow MB/s)
            from bigarrays_jl_spark.volume import encode_chunk
            for b in it:
                b["payload"] = [encode_chunk(key, enc, payload, nc, dtype)
                                for key, payload in zip(b["key"], b["payload"])]
                yield b

        self._write_chunks(
            df.select("cx", "cy", "cz", "key", F.lit(enc).alias("enc"),
                      F.lit(epoch).cast("bigint").alias("epoch"), "payload")
              .mapInPandas(_on_workers(encode_batches), schema=CHUNK_SCHEMA))
        self._maybe_auto_compact()

    @classmethod
    def import_precomputed(cls, spark: SparkSession, src_root: str,
                           dest_root: str) -> "Volume":
        """Migrate an EXISTING neuroglancer-precomputed layer — the
        reference's actual on-disk format: loose chunk files named
        ``x0-x1_y0-y1_z0-z1`` (optionally ``.gz``-suffixed) under
        ``<src_root>/<scale.key>/`` beside an ``info`` JSON
        (`ref src/backends/BinDicts.jl:24-48`, `src/Indexes.jl:90-106`)
        — into a chunk-table dataset at ``dest_root``, so a BigArrays.jl
        user's existing layers open here without re-ingestion tooling.

        No recompression: payload bytes are stored as found, each
        file's codec detected by the same magic sniff the reference
        uses (`ref src/Codings.jl:15-16`), falling back to the scale's
        declared encoding.  Distributed: Spark's binaryFile source
        lists and reads the chunk files in executors; the driver
        touches only the info JSON.  Every mip directory present under
        ``src_root`` is imported.  Run ``fsck`` after importing
        untrusted layers — key↔lattice agreement is not re-validated
        here."""
        src = src_root.rstrip("/")
        info = Info.from_json(_fs_read_bytes(spark, src + "/info"))
        vol = cls.create(spark, dest_root, info)
        for m, sc_ in enumerate(info.scales):
            src_dir = f"{src}/{sc_.key}"
            if not _fs_exists(spark, src_dir):
                continue
            vol._import_precomputed_mip(src_dir, m)
        return vol

    @_locked_writer()
    def _import_precomputed_mip(self, src_dir: str, mip: int) -> None:
        sc_ = self.info.scale(mip)
        anchor = ix.lattice_anchor(sc_.voxel_offset, sc_.chunk_size)
        declared = sc_.encoding
        epoch = self._next_epoch()

        files = (self.spark.read.format("binaryFile").load(src_dir)
                 .select("path", "content"))

        def to_rows(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from bigarrays_jl_spark import codecs as _codecs
            from bigarrays_jl_spark import indexes as _ix
            for b in it:
                rows = {"cx": [], "cy": [], "cz": [], "key": [],
                        "enc": [], "epoch": [], "payload": []}
                for path, content in zip(b["path"], b["content"]):
                    base = path.rsplit("/", 1)[-1]
                    key = base[:-3] if base.endswith(".gz") else base
                    try:
                        cbox = _ix.parse_chunk_key(key)
                    except ValueError:
                        continue    # stray non-chunk file in the layer dir
                    data = bytes(content)
                    if data[:3] == _codecs.GZIP_MAGIC:
                        enc = "gzip"
                    elif data[:4] == _codecs.ZSTD_MAGIC:
                        enc = "zstd"
                    else:
                        enc = declared if declared not in ("gzip", "zstd") \
                            else "raw"
                    for axis, (lo, _hi) in enumerate(cbox):
                        rows[("cx", "cy", "cz")[axis]].append(
                            _ix.chunk_id(lo, anchor[axis],
                                         sc_.chunk_size[axis]))
                    rows["key"].append(key)
                    rows["enc"].append(enc)
                    rows["epoch"].append(epoch)
                    rows["payload"].append(data)
                yield pd.DataFrame(rows)

        self._write_chunks(
            files.mapInPandas(_on_workers(to_rows), schema=CHUNK_SCHEMA),
            mip=mip)

    def export_precomputed(self, dest_root: str,
                           gz_suffix: bool = False) -> int:
        """Write this volume back out as a loose-file neuroglancer
        precomputed layer (``<dest_root>/info`` + per-mip key
        directories) readable by the reference and by neuroglancer —
        the migration path OUT of the chunk table.  Payloads are
        written as stored (already encoded); ``gz_suffix`` appends
        ``.gz`` to gzip chunk names (the suffix convention the
        reference's key parser accepts).  Returns the number of chunks
        written.

        Executors write files directly with local I/O, so
        ``dest_root`` must be a locally-mounted path (local disk/NFS);
        an object-store export would swap the writer for the
        per-executor Hadoop FS API."""
        dest = dest_root.rstrip("/")
        _fs_write_bytes(self.spark, dest + "/info",
                        self.info.to_json().encode())
        total = 0
        for m, sc_ in enumerate(self.info.scales):
            mdir = os.path.join(dest, sc_.key)
            os.makedirs(mdir, exist_ok=True)
            if not _fs_exists(self.spark, self._mip_dir(m)):
                continue

            def write_files(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                import os as _os
                n = 0
                for b in it:
                    for key, enc, payload in zip(b["key"], b["enc"],
                                                 b["payload"]):
                        name = key + (".gz" if gz_suffix and enc == "gzip"
                                      else "")
                        tmp = _os.path.join(mdir, "." + name + ".tmp")
                        with open(tmp, "wb") as f:
                            f.write(bytes(payload))
                        _os.replace(tmp, _os.path.join(mdir, name))
                        n += 1
                yield pd.DataFrame({"n": [n]})

            total += int(self.live_chunks(mip=m)
                         .mapInPandas(write_files, schema="n long")
                         .agg(F.sum("n")).collect()[0][0] or 0)
        return total

    @_locked_writer()
    def ingest_voxels(self, df: DataFrame) -> None:
        """Distributed ingest from a voxel DataFrame ``(x,y,z[,c],value)``
        with global coordinates — the inverse of ``voxels()``.

        Plan shape: chunk ids derive as JVM column expressions (floor
        division, matching indexes.chunk_id), one shuffle groups voxels by
        target chunk, and applyInPandas assembles + encodes each chunk.
        Unspecified voxels within a touched chunk become zeros (the
        volume's missing-data background); out-of-volume voxels are
        dropped (W5 semantics).  Shuffle width = voxel rows of touched
        chunks only.
        """
        info, sc = self.info, self.scale
        nc = info.num_channels
        if "c" not in df.columns:
            df = df.withColumn("c", F.lit(0))
        anchor = ix.lattice_anchor(sc.voxel_offset, sc.chunk_size)
        vol = self.vol_box
        inb = df.filter(
            (F.col("x") >= vol[0][0]) & (F.col("x") < vol[0][1])
            & (F.col("y") >= vol[1][0]) & (F.col("y") < vol[1][1])
            & (F.col("z") >= vol[2][0]) & (F.col("z") < vol[2][1]))
        keyed = inb.select(
            F.floor((F.col("x") - anchor[0]) / sc.chunk_size[0]).cast("int").alias("cx"),
            F.floor((F.col("y") - anchor[1]) / sc.chunk_size[1]).cast("int").alias("cy"),
            F.floor((F.col("z") - anchor[2]) / sc.chunk_size[2]).cast("int").alias("cz"),
            "x", "y", "z", "c", "value")

        build = _chunk_assembler(sc, nc, info.dtype, self._next_epoch())

        def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
            def fill(buf, box):
                buf[pdf.x.values - box[0][0], pdf.y.values - box[1][0],
                    pdf.z.values - box[2][0], pdf.c.values] = \
                    pdf.value.values.astype(buf.dtype)
                return True

            return build((int(pdf.cx.iloc[0]), int(pdf.cy.iloc[0]),
                          int(pdf.cz.iloc[0])), fill)

        result = keyed.groupBy("cx", "cy", "cz").applyInPandas(
            _on_workers(assemble), schema=CHUNK_SCHEMA)
        self._write_chunks(result)
        self._maybe_auto_compact()

    # python-slice sugar: vol[x0:x1, y0:y1, z0:z1] = arr / arr = vol[...]
    def __setitem__(self, idx, arr: np.ndarray) -> None:
        box = ix.normalize_index(idx, self.vol_box)
        shape = tuple(hi - lo for lo, hi in box)
        if tuple(arr.shape[:3]) != shape:
            raise ValueError(
                f"assignment shape mismatch: slice spans {shape} but the "
                f"array is {tuple(arr.shape[:3])} — a silent partial "
                "write would corrupt the unstated region")
        self.write(arr, tuple(lo for lo, _ in box))

    def __getitem__(self, idx) -> np.ndarray:
        box = ix.normalize_index(idx, self.vol_box)
        arr, _ = self.cutout(box)
        return arr

    # -- cutout / read (src/modes/sequential.jl:23-65) ------------------------

    def cutout(self, request: ix.Box) -> tuple[np.ndarray, tuple[int, int, int]]:
        """Read an axis-aligned sub-box; returns ``(array, origin)`` — the
        OffsetArray equivalent (src/modes/sequential.jl:64).

        Out-of-volume voxels and missing chunks come back zero-filled when
        ``fill_missing`` (src/modes/sequential.jl:33-36,52-54), else
        MissingChunkError.  Execution: Catalyst prunes the chunk table to
        the id bounding box, executors decode+slice via Arrow batches,
        only the *contributing sub-blocks* travel to the driver.

        On a local-FS dataset with ``local_io`` the driver does it all
        instead: the handle's chunk index picks the latest epoch of
        each chunk in the box, and each chunk's cut is copied straight
        into the output.  A chunk held by the process-wide decoded
        cache (chunk_index.py, at most ``DECODED_CACHE_BYTES``) is
        placed with no payload read and no decode; the rest are read,
        decoded whole through ``decode_chunk`` in the driver's thread
        pool and cached.  An earlier cutout, a driver-local write of
        the chunk (write-through) and a driver-local compaction (which
        moves the blocks it folds into its new files) all leave the
        chunk cached, so on a volume written and compacted through
        this path steady-state cutouts decode nothing; a chunk written
        by Spark or by another process is decoded once.

        ``cutout`` materializes the WHOLE request box as one driver-side
        numpy array, so its size is capped at ``cutout_voxel_budget``
        (default 2**31 voxels ≈ 2 GiB at uint8) — a 100 GB request would
        OOM the driver before Spark even ran.  Raise the budget on a
        big-memory driver via the attribute, or use ``voxels()`` /
        ``map_blocks`` for analysis that should stay distributed.
        """
        info = self.info
        request = tuple((int(lo), int(hi)) for lo, hi in request)
        nc = info.num_channels
        n_voxels = 1
        for lo, hi in request:
            n_voxels *= max(0, hi - lo)
        n_voxels *= nc
        budget = self.cutout_voxel_budget
        if n_voxels > budget:
            raise ValueError(
                f"cutout request is {n_voxels:,} voxels "
                f"({n_voxels * info.dtype.itemsize / 1e9:.1f} GB at "
                f"{info.data_type}), above the driver-side budget of "
                f"{budget:,}; materializing it would allocate the whole "
                "box on the driver.  Use voxels() or map_blocks() for "
                "distributed reads, or raise vol.cutout_voxel_budget "
                "explicitly on a driver with enough memory")
        # (x, y, z, c) throughout; the channel axis drops on return
        buf = np.zeros((*ix.box_shape(request), nc), dtype=info.dtype,
                       order="F")
        origin = tuple(lo for lo, _ in request)

        def _out():
            return (buf[..., 0] if nc == 1 else buf), origin

        ranges = self._id_ranges(request)
        expected = _id_count(ranges)
        if expected == 0:
            return _out()

        found = self._read_latest_local(ranges)
        if found is not None:
            # driver-local fast path (see local_io in __init__): the
            # cutout materializes on the driver anyway, so each chunk's
            # cut goes straight into the output buffer — no
            # Python-worker round trip, no intermediate block copies.
            # Chunks the decoded cache holds are placed right here; the
            # misses are decoded whole in the driver pool (zlib/zstd
            # release the GIL), cached, then placed.  Destination
            # regions are disjoint per chunk → thread-safe.
            index = self._chunk_index(self._local_chunks_dir())

            def _decode_place(row) -> int:
                _, _, _, key, enc, payload, ident = row
                cbox, _, chunk = decode_chunk(key, enc, payload, nc,
                                              info.dtype, None, ident[0])
                index.keep(ident, chunk)
                return _place_blocks(buf, request, np.array([cbox]),
                                     [chunk])

            futs = [_driver_pool().submit(_decode_place, r)
                    for r in found.misses]
            placed = _place_blocks(buf, request, found.boxes, found.blocks)
            placed += sum(f.result() for f in futs)
        else:
            def cut_row(key, cbox, cut, block):
                (x0, x1), (y0, y1), (z0, z1) = cut
                yield pd.DataFrame({
                    "x0": [x0], "y0": [y0], "z0": [z0], "sx": [x1 - x0],
                    "sy": [y1 - y0], "sz": [z1 - z0],
                    "data": [block.tobytes(order="F")]})

            parts = self.map_cuts(
                cut_row, "x0 int, y0 int, z0 int, sx int, sy int, sz int, "
                         "data binary", request,
            ).toPandas()  # Arrow transfer — binary columns skip py4j row serde
            placed = _place_blocks(buf, request, *_returned_blocks(
                parts, info.dtype, nc))
        if not self.fill_missing and placed < expected:
            raise MissingChunkError(
                f"cutout {request}: {expected - placed} of {expected} "
                "chunks missing and fill_missing=False")
        return _out()

    # -- voxel view (the relational bridge, SURVEY §1.6) ----------------------

    def voxels(self, request: ix.Box | None = None) -> DataFrame:
        """Distributed voxel DataFrame ``(x,y,z,c,value)`` with *global*
        coordinates — the exploded relational view of the chunk table.
        Stays fully distributed (no collect); value column type per
        VOXEL_SQL_TYPE (unsigned-widening, uint64→decimal(20,0)).

        Each chunk's cut crosses Arrow once, as one row
        ``(x0, y0, z0, sx, sy, sz, v)`` whose array ``v`` holds its
        values in F order.  ``posexplode`` then yields each value with
        its index, and ``x``, ``y``, ``z`` and ``c`` are integer
        arithmetic on that index — Catalyst expressions, so a query
        that does not use a coordinate never computes it (select the
        columns you need)."""
        info = self.info
        req = tuple((int(lo), int(hi)) for lo, hi in
                    (request or self.vol_box))
        nc = info.num_channels
        dtype_str = info.data_type
        latest = self.live_chunks(req)

        def cuts(it):
            import numpy as _np
            import pyarrow as _pa
            from bigarrays_jl_spark.volume import _cuts
            # the numpy side of VOXEL_SQL_TYPE's unsigned widening;
            # uint64 goes to decimal(20,0) through an Arrow cast
            wide = _np.dtype({"uint8": "int16", "uint16": "int32",
                              "uint32": "int64"}.get(dtype_str, dtype_str))
            for b in it:
                cols = {c: b.column(c).to_pylist()
                        for c in ("key", "enc", "payload")}
                for _, _, cut, block in _cuts(cols, nc, dtype_str, req):
                    vals = _pa.array(_np.asarray(block, dtype=wide, order="F")
                                     .ravel(order="F"))
                    if dtype_str == "uint64":
                        vals = vals.cast(_pa.decimal128(20, 0))
                    yield _pa.RecordBatch.from_arrays(
                        [_pa.array([v], _pa.int32()) for v in
                         (*(lo for lo, _ in cut), *block.shape[:3])]
                        + [_pa.ListArray.from_arrays(
                            _pa.array([0, len(vals)], _pa.int32()), vals)],
                        names=["x0", "y0", "z0", "sx", "sy", "sz", "v"])

        rows = latest.mapInArrow(
            _on_workers(cuts),
            schema="x0 int, y0 int, z0 int, sx int, sy int, sz int, "
                   f"v array<{info.voxel_sql_type}>")
        # v is (sx, sy, sz, c) in F order: i = x + sx*(y + sy*(z + sz*c))
        return rows.select(
            "x0", "y0", "z0", "sx", "sy", "sz",
            F.posexplode("v").alias("i", "value"),
        ).select(
            F.expr("x0 + i % sx").alias("x"),
            F.expr("y0 + CAST(i div sx AS INT) % sy").alias("y"),
            F.expr("z0 + CAST(i div (sx * sy) AS INT) % sz").alias("z"),
            F.expr("CAST(i div (sx * sy * sz) AS INT)").alias("c"),
            "value")

    # -- maintenance (src/type.jl:285-339) ------------------------------------

    def num_chunks(self, request: ix.Box | None = None) -> int:
        """Chunks intersecting ``request`` — genuinely closed-form
        (src/type.jl:285-292): after clamping to the volume, every chunk
        id in the per-axis id range intersects, so the count is the
        product of the range lengths — O(1), not an O(total chunks)
        driver-side enumeration (4e8 chunk objects at 100 TB scale)."""
        return _id_count(self._id_ranges(request))

    def lattice_df(self, request: ix.Box | None = None) -> DataFrame:
        """Generated DataFrame of every chunk id intersecting ``request``
        (the in-volume chunk lattice) — the join-side for missing-chunk
        queries.  Built from ``spark.range`` cross products so it never
        materializes on the driver."""
        rngs = self._id_ranges(request) or ((0, 0),) * 3
        xs, ys, zs = (self.spark.range(lo, hi).select(
            F.col("id").cast("int").alias(name))
            for (lo, hi), name in zip(rngs, ("cx", "cy", "cz")))
        return xs.crossJoin(ys).crossJoin(zs)

    def missing_chunks_df(self, request: ix.Box | None = None) -> DataFrame:
        """Distributed variant of :meth:`list_missing_chunks`: the
        ``(cx, cy, cz)`` DataFrame of in-``request`` chunk ids with no
        stored object, never materialized on the driver.

        At 100 TB a volume holds ~4e8 chunks; a fsck-style pipeline
        (find holes → re-ingest) must stay a DataFrame end-to-end.  The
        list-returning wrapper keeps the reference's API contract
        (src/type.jl:299-314 returns a key vector) for interactive use."""
        stored = self._pruned(request).select("cx", "cy", "cz").distinct()
        return self.lattice_df(request).join(stored, ["cx", "cy", "cz"],
                                             "left_anti")

    def list_missing_chunks(self, request: ix.Box | None = None) -> list[tuple[int, int, int]]:
        """Chunk ids in ``request`` with no stored object — the reference's
        async haskey probe (src/type.jl:299-314) as a **left-anti join**
        of the generated lattice against stored keys.  Driver-side list
        for API parity; use :meth:`missing_chunks_df` in pipelines."""
        missing = self.missing_chunks_df(request).collect()
        return sorted((r.cx, r.cy, r.cz) for r in missing)

    def keys_df(self, mip: int | None = None) -> DataFrame:
        """Distributed variant of :meth:`keys`: one-column ``key``
        DataFrame of distinct stored chunk keys (stays on executors; the
        distinct shuffles 40-byte keys, never payloads)."""
        return self.chunks_df(mip).select("key").distinct()

    def keys(self, mip: int | None = None) -> list[str]:
        """Stored chunk keys (src/backends/S3Dicts.jl:105-108).  Driver-side
        list for reference parity; use :meth:`keys_df` in pipelines."""
        return sorted(r.key for r in self.keys_df(mip).collect())

    @_locked_writer()
    def delete(self, request: ix.Box) -> None:
        """Delete stored chunks intersecting ``request`` (reference:
        per-object delete, src/backends/S3Dicts.jl:100-103).  Parquet is
        immutable, so this is ``compact``'s fold of this handle's mip
        (``_fold_mip``) less the doomed chunk-id box: survivors keep
        only their latest row, at epoch 0, and the dataset's epoch
        counter stays as it is.  Under ``local_io`` on a local dataset
        that is a driver byte copy with no Spark job.

        Scale shape: the doomed set of a rectangular request is EXACTLY a
        chunk-id range box (every id in the per-axis range intersects, the
        same closed form as ``num_chunks``), so the keep-predicate is three
        NOT-BETWEENs on the ``cx/cy/cz`` columns — O(1) plan size and zero
        driver enumeration, however many million chunks the box spans.
        """
        ranges = self._id_ranges(request)
        if ranges is None:
            return  # nothing stored can intersect; skip the rewrite entirely
        self._fold_mip(self.mip, drop=ranges)

    @_locked_writer(lambda self, fn, dest: dest)
    def map_blocks(self, fn, dest: "Volume") -> None:
        """Apply a shape-preserving numpy transform to every stored
        chunk, writing the results into ``dest``.

        The distributed "process every block" primitive (beyond the
        reference's surface: BigArrays.jl iterates chunks driver-side in
        its mode loops, src/modes/sequential.jl:4-17).  ``fn`` receives
        each chunk as an ``(x, y, z, c)`` array (channel axis always
        present) and must return the same shape; the result is cast to
        ``dest``'s dtype, so dtype-changing pipelines (e.g. uint8 →
        float32 feature maps) are one call.

        Scale shape: decode → fn → encode runs inside ONE Arrow-batched
        ``mapInPandas`` over the chunk table.  Chunk ids are unchanged,
        so there is NO shuffle and nothing touches the driver;
        partitioning (and row-group pruning) is inherited from the scan.

        ``dest`` must share this volume's chunk lattice (offset, size,
        chunk_size); its encoding/dtype may differ.
        """
        src_sc, dst_sc = self.scale, dest.scale
        if (tuple(src_sc.chunk_size) != tuple(dst_sc.chunk_size)
                or tuple(src_sc.voxel_offset) != tuple(dst_sc.voxel_offset)
                or tuple(src_sc.volume_size) != tuple(dst_sc.volume_size)):
            raise ValueError(
                "map_blocks requires dest to share the source chunk "
                f"lattice; got src={src_sc.chunk_size}@{src_sc.voxel_offset}"
                f"/{src_sc.volume_size} vs dst={dst_sc.chunk_size}@"
                f"{dst_sc.voxel_offset}/{dst_sc.volume_size}")
        if self.info.num_channels != dest.info.num_channels:
            raise ValueError(
                "map_blocks requires matching channel counts: payloads "
                f"sized for {self.info.num_channels} channel(s) would "
                f"corrupt a {dest.info.num_channels}-channel dest "
                "(reads there reshape against ITS channel count)")
        nc = self.info.num_channels
        dst_dtype = dest.info.data_type
        dst_enc = dst_sc.encoding
        epoch = dest._next_epoch()
        anchor = ix.lattice_anchor(src_sc.voxel_offset, src_sc.chunk_size)
        chunk_size = tuple(src_sc.chunk_size)

        def xform(key, cbox, cut, arr):
            import numpy as _np
            from bigarrays_jl_spark import indexes as _ix
            from bigarrays_jl_spark.volume import _CHUNK_COLUMNS, encode_chunk
            out = _np.asarray(fn(arr))
            if out.shape != arr.shape:
                raise ValueError(
                    f"map_blocks fn changed chunk shape "
                    f"{arr.shape} -> {out.shape} at {key}")
            cid = (_ix.chunk_id(lo, a, c)
                   for (lo, _), a, c in zip(cbox, anchor, chunk_size))
            yield pd.DataFrame(
                [(*cid, key, dst_enc, epoch,
                  encode_chunk(key, dst_enc, out.astype(dst_dtype, copy=False),
                               nc, dst_dtype))], columns=_CHUNK_COLUMNS)

        dest._write_chunks(self.map_cuts(xform, CHUNK_SCHEMA))

    def stats(self, mip: int | None = None) -> dict:
        """Operational summary of one mip's chunk store — the numbers a
        capacity dashboard polls.  Two narrow distributed aggregates
        (raw table + latest-epoch view); only summary rows reach the
        driver.

        - ``stored_chunks`` / ``stored_bytes``: LIVE data (latest epoch
          per chunk) — what a reader touches.
        - ``raw_rows`` / ``raw_bytes``: everything on disk INCLUDING
          superseded overwrite generations — what the filesystem bills;
          ``raw_bytes - stored_bytes`` is the space ``compact()``
          reclaims.
        - ``write_epochs``: THIS mip's generation depth (DISTINCT epochs
          among its rows), not the dataset-global counter — a mip
          written once reports 1 even after other mips advanced the
          global epoch (epochs are allocated globally, so max+1 would
          over-report too).
        """
        m = self.mip if mip is None else mip
        sc = self.info.scale(m)
        raw = self.chunks_df(m)
        rr = raw.agg(F.count("*").alias("rows"),
                     F.sum(F.length("payload")).alias("bytes"),
                     F.countDistinct("epoch").alias("n_epochs")).collect()[0]
        lr = (self.live_chunks(mip=m)
              .agg(F.count("*").alias("stored"),
                   F.sum(F.length("payload")).alias("bytes"))
              .collect()[0])
        lattice = self.mip_volume(m).num_chunks()
        stored = int(lr.stored or 0)
        return {
            "mip": m,
            "stored_chunks": stored,
            "lattice_chunks": lattice,
            "fill_ratio": round(stored / lattice, 6) if lattice else 0.0,
            "stored_bytes": int(lr.bytes or 0),
            "raw_rows": int(rr.rows or 0),
            "raw_bytes": int(rr.bytes or 0),
            "encoding": sc.encoding,
            "write_epochs": int(rr.n_epochs or 0),
        }

    def fsck(self, mip: int | None = None) -> DataFrame:
        """Distributed integrity audit of the stored chunk table —
        the maintenance op you run before trusting a long-lived dataset
        (the missing-chunk listing's payload-level counterpart).

        One map-side pass over the chunk table; per LATEST chunk row it
        returns ``(key, enc, ok, error)`` where ``ok`` requires:

        - the key parses and its box is the clamped box of a chunk on
          this mip's lattice (catches foreign/misplaced keys);
        - the chunk-id columns agree with the key (catches index/key
          drift that would break pruning);
        - the payload decodes through ``decode_chunk`` like every read
          path: its byte length matches the key's box shape × dtype ×
          channels and a jpeg has the chunk's width (catches
          truncation, codec corruption, wrong-dtype writes,
          wrong-aspect images); ``error`` holds the
          ``ChunkDecodeError`` message.

        Every stored row is audited, ids outside the volume included
        (``live_chunks`` with no request).  Scale shape: inherits the
        scan's partitioning, no shuffle beyond the epoch dedupe's
        (skipped entirely for uncompacted write-once data); nothing
        touches the driver — filter ``ok = false`` and count/collect
        as needed.
        """
        m = self.mip if mip is None else mip
        sc = self.info.scale(m)
        nc = self.info.num_channels
        dtype_str = self.info.data_type
        anchor = ix.lattice_anchor(sc.voxel_offset, sc.chunk_size)
        chunk_size = tuple(sc.chunk_size)
        vol = ix.volume_box(sc.voxel_offset, sc.volume_size)

        def audit(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from bigarrays_jl_spark import indexes as _ix
            from bigarrays_jl_spark.volume import (ChunkDecodeError,
                                                   decode_chunk)
            for b in it:
                errs = []
                for cx, cy, cz, key, enc, payload in zip(
                        b["cx"], b["cy"], b["cz"], b["key"], b["enc"],
                        b["payload"]):
                    err = None
                    try:
                        box, _, _ = decode_chunk(key, enc, payload, nc,
                                                 dtype_str)
                    except ChunkDecodeError as e:
                        err = str(e)
                    else:
                        cid = (int(cx), int(cy), int(cz))
                        want_box = _ix.intersect_box(tuple(
                            _ix.chunk_global_range(c, a, s)
                            for c, a, s in zip(cid, anchor, chunk_size)),
                            vol)
                        if box != want_box:
                            err = (f"key {key} != lattice box "
                                   f"{want_box} for cid {cid}")
                    errs.append(err)
                yield pd.DataFrame({"key": b["key"], "enc": b["enc"],
                                    "ok": [e is None for e in errs],
                                    "error": errs})

        return self.live_chunks(mip=m).mapInPandas(
            _on_workers(audit),
            "key string, enc string, ok boolean, error string")

    @_locked_writer(lambda self, dest: dest)
    def rechunk(self, dest: "Volume") -> None:
        """Migrate this volume's data into ``dest``'s chunk lattice — the
        chunk-size-migration maintenance op (e.g. 64³ → 128³ before a
        read-heavy phase, or the reverse for finer cutout granularity).

        ``dest`` must share voxel_offset/volume_size/dtype/channels but
        may use ANY chunk size whose lattice NESTS with the source's
        (each axis divides one way or the other, same lattice anchor):

        - **split** (every dest axis divides the source's): one
          ``mapInPandas`` over the chunk table — each source chunk
          decodes once and emits its sub-chunks.  NO shuffle; at 100 TB
          this is a single scan + write.
        - **merge** (every source axis divides the dest's): chunk ids
          regroup to dest ids via JVM floor-division columns, ONE
          shuffle keyed by dest chunk id, and applyInPandas assembles
          each dest chunk (absent source chunks leave zeros — the P6
          missing-data background).

        Mixed per-axis split/merge does not nest and raises — route
        through ``dest.ingest_voxels(self.voxels())`` for arbitrary
        relayouts (voxel-explode cost, fully general).
        """
        src_sc, dst_sc = self.scale, dest.scale
        if (tuple(src_sc.voxel_offset) != tuple(dst_sc.voxel_offset)
                or tuple(src_sc.volume_size) != tuple(dst_sc.volume_size)):
            raise ValueError(
                "rechunk requires matching voxel_offset/volume_size; got "
                f"src={src_sc.voxel_offset}/{src_sc.volume_size} vs "
                f"dst={dst_sc.voxel_offset}/{dst_sc.volume_size}")
        if (self.info.data_type != dest.info.data_type
                or self.info.num_channels != dest.info.num_channels):
            raise ValueError(
                "rechunk requires matching dtype/channels (use map_blocks "
                "for dtype changes on a shared lattice)")
        scs, dcs = tuple(src_sc.chunk_size), tuple(dst_sc.chunk_size)
        src_anchor = ix.lattice_anchor(src_sc.voxel_offset, scs)
        dst_anchor = ix.lattice_anchor(dst_sc.voxel_offset, dcs)
        splits = all(s % d == 0 for s, d in zip(scs, dcs))
        merges = all(d % s == 0 for d, s in zip(dcs, scs))
        # divisibility alone guarantees nesting: both lattices anchor at
        # voxel_offset mod their own chunk size, so every boundary of
        # the coarser lattice ≡ offset (mod finer size) — i.e. it IS a
        # finer-lattice boundary (anchors need not be equal; the merge
        # path maps ids through the anchor offsets explicitly).  Only
        # mixed per-axis split/merge genuinely fails to nest.
        if not (splits or merges):
            raise ValueError(
                f"rechunk lattices don't nest: src chunks {scs} vs dst "
                f"{dcs}; every axis must divide one way or the other — "
                "use dest.ingest_voxels(self.voxels()) for arbitrary "
                "relayouts")

        nc = self.info.num_channels
        dtype_str = self.info.data_type
        dst_enc = dst_sc.encoding
        epoch = dest._next_epoch()
        dst_off, dst_size = dst_sc.voxel_offset, dst_sc.volume_size

        if splits and scs != dcs:
            def split_fn(key, sbox, cut, arr):
                from bigarrays_jl_spark import indexes as _ix
                from bigarrays_jl_spark.volume import (_CHUNK_COLUMNS,
                                                       encode_chunk)
                rows = []
                # every dst chunk ∩ volume nests inside this src chunk
                # (dividing sizes + shared voxel_offset — see the nesting
                # proof at the validation above)
                for cs in _ix.iter_chunk_slices(sbox, dst_off, dst_size, dcs):
                    sub = arr[_ix.box_slices(cs.cutout_box, sbox)]
                    rows.append((*cs.cid, cs.key, dst_enc, epoch, encode_chunk(
                        cs.key, dst_enc, sub, nc, dtype_str)))
                yield pd.DataFrame(rows, columns=_CHUNK_COLUMNS)

            out = self.map_cuts(split_fn, CHUNK_SCHEMA)
        else:
            # dst id from src id through BOTH anchors (they differ when
            # voxel_offset is not chunk-aligned):
            #   dcx = floor((src_anchor + cx*scs - dst_anchor) / dcs)
            def _dst_id(col, axis):
                g = (F.col(col) * scs[axis] + (src_anchor[axis]
                                               - dst_anchor[axis]))
                return F.floor(g / dcs[axis]).cast("int")

            keyed = self.live_chunks().select(
                _dst_id("cx", 0).alias("dcx"),
                _dst_id("cy", 1).alias("dcy"),
                _dst_id("cz", 2).alias("dcz"),
                "key", "enc", "payload")
            build = _chunk_assembler(dst_sc, nc, dtype_str, epoch)

            def merge_fn(pdf: pd.DataFrame) -> pd.DataFrame:
                from bigarrays_jl_spark.volume import _cuts, _place_blocks

                def fill(buf, dbox):
                    hits = list(_cuts(pdf, nc, dtype_str))
                    return _place_blocks(buf, dbox,
                                         [h[1] for h in hits],
                                         [h[3] for h in hits]) > 0

                return build((int(pdf.dcx.iloc[0]), int(pdf.dcy.iloc[0]),
                              int(pdf.dcz.iloc[0])), fill)

            out = keyed.groupBy("dcx", "dcy", "dcz").applyInPandas(
                _on_workers(merge_fn), CHUNK_SCHEMA)
        dest._write_chunks(out)

    def _maybe_auto_compact(self) -> None:
        """Fold overwrite history once it crosses ``auto_compact_epochs``
        (epochs are 0-based, so epoch e means e+1 write generations).
        Called by the epoch-bumping writers while they still hold the
        write lock — compact() re-enters it as a no-op.

        Rewrites only when overwrite history actually EXISTS: epochs
        count write *generations*, so a bulk append workload (disjoint
        ingest batches, no key written twice) would otherwise trigger a
        full multi-mip rewrite every ``t`` batches — quadratic total IO
        at volume scale for zero benefit.  At the threshold a key-only
        duplicate probe decides (no payload bytes: on the driver-local
        path the handle's chunk index answers from its cached keys with
        no Spark job, else a column-pruned Spark scan):
        duplicates → compact; none → remember the checked depth and
        re-probe ``t`` epochs later.  The checked depth persists beside
        the epoch counter (``_dup_checked``): pipelines that open a
        FRESH Volume handle per batch (the normal one-job-per-batch
        shape) must not re-pay the probe on every append past the
        threshold.  The epoch counter itself cannot be reset without a
        rewrite (stored rows keep their epoch numbers; restarting the
        counter would invert last-writer-wins)."""
        t = self.auto_compact_epochs
        if t is None:
            return
        e = self._current_epoch()
        if e + 1 < t:
            return
        ck_path = self.root + "/_dup_checked"
        checked = getattr(self, "_dup_checked_epoch", None)
        if checked is None and _fs_exists(self.spark, ck_path):
            try:
                checked = int(_fs_read_bytes(self.spark, ck_path)
                              .decode().strip())
            except (ValueError, OSError):
                checked = None
        if checked is not None and e - checked < t:
            self._dup_checked_epoch = checked
            return
        for m in range(len(self.info.scales)):
            if not _fs_exists(self.spark, self._mip_dir(m)):
                continue
            d = self._local_chunks_dir(m)
            if d is not None:
                has_dup = self._chunk_index(d).has_duplicates()
            else:
                has_dup = (self.chunks_df(m).groupBy("key")
                           .count().filter(F.col("count") > 1)
                           .limit(1).count() > 0)
            if has_dup:
                self.compact()
                self._dup_checked_epoch = None
                _fs_delete(self.spark, ck_path)
                return
        self._dup_checked_epoch = e
        _fs_write_bytes(self.spark, ck_path, str(e).encode())

    @_locked_writer()
    def compact(self) -> None:
        """Fold overwrite history: keep only the latest epoch per key and
        rewrite each mip directory sorted for row-group pruning.  Resets
        the epoch counter so subsequent reads take the no-shuffle fast
        path in ``_latest``.

        Every EXISTING mip is folded, not just the current one: the
        epoch counter is dataset-global (``downsample`` appends epochs
        to mip+1 too), so resetting it is only sound once no mip retains
        multi-epoch history.

        Each mip is rewritten by ``_fold_mip``: on the driver with no
        Spark job where the driver-local path applies (see
        ``local_io``), through a Spark ``max_by`` shuffle elsewhere.
        """
        if self._current_epoch() <= 0:
            return  # already single-epoch everywhere
        for m in range(len(self.info.scales)):
            self._fold_mip(m)
        _fs_write_bytes(self.spark, self.root + "/_epoch", b"0")

    def _fold_mip(self, mip: int, drop=None) -> None:
        """The one mip rewrite, behind ``compact`` and ``delete``: the
        latest row of every key whose chunk id lies outside the optional
        ``drop`` id ranges goes into ``<mip>.tmp`` at epoch 0, which
        ``_swap_mip_dir`` puts live.  A mip with no directory is skipped.

        Where the driver-local path applies (see ``local_io``) the chunk
        index streams the kept payloads, still encoded (each row keeps
        its own ``enc``), in batches of at most
        ``chunk_index.FOLD_BATCH_BYTES`` (one part file per batch): a
        byte copy with no decode and no Spark job.  Once the swap has
        succeeded, the chunk index takes each new file's ids and footer
        from the writer (``ChunkIndex.add``) and the decoded blocks of
        the kept chunks move to their rows in the new files
        (``chunk_index.carry_over``); a fold or swap that raises
        registers and moves nothing.  Every other dataset folds
        ``live_chunks(mip=mip)`` less the ``drop`` box through Spark."""
        self._recover_mip(mip)  # roll back any earlier crashed swap first
        final = self._mip_dir(mip)
        if not _fs_exists(self.spark, final):
            return
        d = self._local_chunks_dir(mip)
        written = []
        if d is not None:
            tmp = d + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)  # a crashed fold's leftover
            os.makedirs(tmp)
            raw = self.info.scale(mip).encoding == "raw"
            index = self._chunk_index(d)
            written = [(_write_part_local(tmp, batch, 0, raw),
                        [r[6] for r in batch]) for batch in index.fold(drop)]
        else:
            live = self.live_chunks(mip=mip)
            if drop is not None:
                live = live.filter(~_in_ids(drop))
            self._write_chunks(
                live.select("cx", "cy", "cz", "key", "enc",
                            F.lit(0).cast("bigint").alias("epoch"),
                            "payload"),
                mip=mip, mode="overwrite", path=final + ".tmp")
        self._swap_mip_dir(mip)
        for (name, ids, footer), sources in written:
            path = os.path.join(d, name)
            carry_over(path, index.add(path, ids, footer), sources)

    def _swap_mip_dir(self, mip: int | None = None) -> None:
        """Put ``<mip>.tmp`` live via rename-swap, never delete-then-
        rename: the live data is moved aside to ``.old`` (one atomic
        rename), the rewrite renamed into place (second rename), THEN
        the old generation deleted — a crash between the renames leaves
        a complete ``.old`` that :meth:`_recover_mip` (run at open and
        before every rewrite) rolls back, instead of a window where the
        dataset's only copy lives in a ``.tmp`` no reader looks at."""
        final = self._mip_dir(mip)
        old = final + ".old"
        _fs_delete(self.spark, old, tree=True)
        if _fs_exists(self.spark, final):
            _fs_rename(self.spark, final, old)
        _fs_rename(self.spark, final + ".tmp", final)
        _fs_delete(self.spark, old, tree=True)

    def _recover_mip(self, mip: int | None = None) -> None:
        """If a prior rewrite crashed between its two renames (live dir
        missing, ``.old`` present), restore the old generation."""
        final = self._mip_dir(mip)
        old = final + ".old"
        if _fs_exists(self.spark, old) and not _fs_exists(self.spark, final):
            _fs_rename(self.spark, old, final)

    # -- mip pyramid build (extension of A5: the reference generates only
    #    *metadata* for mips; we also produce the pixels) --------------------

    def child_to_parent_id(self, mip: int,
                           cid: tuple[int, int, int]) -> tuple[int, int, int]:
        """Map a mip-``mip`` chunk id to the mip+1 chunk id its 2×2×1
        downsampled block lands in — the driver-side twin of
        ``downsample``'s ``to_target`` arithmetic (same clamped-start
        formula, so a streamed maintenance pass targets EXACTLY the
        chunks the batch pass would write).  Pure integer math, no jobs.
        """
        info = self.info
        src_sc, dst_sc = info.scale(mip), info.scale(mip + 1)
        src_anchor = ix.lattice_anchor(src_sc.voxel_offset, src_sc.chunk_size)
        dst_anchor = ix.lattice_anchor(dst_sc.voxel_offset, dst_sc.chunk_size)
        out = []
        for d in range(3):
            # stored chunk boxes are volume-clamped, so the key start is
            # max(lattice cell start, voxel_offset) — mirror that here
            x0 = max(src_anchor[d] + cid[d] * src_sc.chunk_size[d],
                     src_sc.voxel_offset[d])
            if d < 2:
                g = (x0 - src_sc.voxel_offset[d]) // 2 + dst_sc.voxel_offset[d]
            else:
                g = x0 - src_sc.voxel_offset[d] + dst_sc.voxel_offset[d]
            out.append(ix.chunk_id(g, dst_anchor[d], dst_sc.chunk_size[d]))
        return tuple(out)

    def _sources_subset(self, mip: int,
                        ids: list[tuple[int, int, int]]) -> DataFrame:
        """Chunk rows for an explicit id set, pruned at the scan: a
        per-axis BETWEEN (pushed to Parquet row-group stats, the same
        idiom as ``_pruned``) bounds the read to the ids' bounding box,
        and an exact multi-column IN keeps only the listed ids.  Plan
        size is O(|ids|) — callers pass micro-batch-bounded sets, never
        whole-volume enumerations (those use ``chunks_df`` directly)."""
        df = self.chunks_df(mip)
        if not ids:
            return df.limit(0)
        xs, ys, zs = (sorted({i[d] for i in ids}) for d in range(3))
        coarse = (F.col("cx").between(xs[0], xs[-1])
                  & F.col("cy").between(ys[0], ys[-1])
                  & F.col("cz").between(zs[0], zs[-1]))
        exact = F.expr("(cx, cy, cz) IN ({})".format(
            ", ".join(f"({a}, {b}, {c})" for a, b, c in sorted(set(ids)))))
        return df.filter(coarse & exact)

    @_locked_writer()
    def downsample(self, from_mip: int | None = None, *,
                   only_sources: list[tuple[int, int, int]] | None = None,
                   ) -> None:
        """Build mip ``m+1`` chunks from mip ``m`` by 2×2×1 reduction
        (mean for image layers, mode-free max-count for segmentation is
        approximated by stride sampling — matching neuroglancer's default
        "striding" downsample for segmentation).

        Distributed shape: each source chunk downsamples independently to
        a sub-block of exactly one target chunk (chunk sizes are uniform
        across mips — src/Infos.jl:169-178), so the job is one narrow
        mapInPandas followed by a groupBy-assemble shuffle whose width is
        the *target* chunk count — no driver materialization.

        ``only_sources`` restricts the pass to an explicit source
        chunk-id set (incremental maintenance: re-derive just the
        parents a micro-batch touched).  Callers must pass EVERY source
        chunk contributing to each affected parent — a partial set
        would assemble a parent missing its untouched sub-blocks
        (``streaming.pyramid.incremental_pyramid`` computes the closure
        via ``child_to_parent_id``).  The re-derived parents land under
        a fresh epoch; latest-epoch reads supersede the stale versions.
        """
        m = self.mip if from_mip is None else from_mip
        if only_sources is not None and not only_sources:
            return
        info = self.info
        if m + 1 >= len(info.scales):
            self.info = info.with_mips(m + 2)
            self.commit_info()
            info = self.info
        src_sc, dst_sc = info.scale(m), info.scale(m + 1)
        nc = info.num_channels
        dtype_str = info.data_type
        seg = info.layer_type == "segmentation"
        dst_anchor = ix.lattice_anchor(dst_sc.voxel_offset, dst_sc.chunk_size)
        dst_chunk = dst_sc.chunk_size
        src_off = src_sc.voxel_offset
        dst_off = dst_sc.voxel_offset

        def to_target(key, cbox, cut, arr):
            import numpy as _np
            from bigarrays_jl_spark import indexes as _ix
            dt = arr.dtype
            shape = arr.shape
            # 2x2x1 reduce; odd edges truncated to even first
            ex = shape[0] - shape[0] % 2 or shape[0]
            ey = shape[1] - shape[1] % 2 or shape[1]
            if seg:
                red = arr[:ex:2, :ey:2, :, :]
            else:
                a = arr[:ex, :ey].astype(_np.float64)
                red = ((a[0::2, 0::2] + a[1::2, 0::2]
                        + a[0::2, 1::2] + a[1::2, 1::2]) / 4.0)
                # integer layers: round the 2x2 mean (half-even)
                # instead of truncating toward zero, which would
                # bias downsampled intensities low
                red = red.astype(dt) if dtype_str.startswith("float") \
                    else _np.rint(red).astype(dt)
            # global coords at target mip: src global / 2 (x,y), z same;
            # mip m+1 offset halving follows src/Infos.jl:169-178
            g0 = ((cbox[0][0] - src_off[0]) // 2 + dst_off[0],
                  (cbox[1][0] - src_off[1]) // 2 + dst_off[1],
                  cbox[2][0] - src_off[2] + dst_off[2])
            tc = [_ix.chunk_id(g, a, c)
                  for g, a, c in zip(g0, dst_anchor, dst_chunk)]
            yield pd.DataFrame({
                "tcx": [tc[0]], "tcy": [tc[1]], "tcz": [tc[2]],
                "x0": [g0[0]], "y0": [g0[1]], "z0": [g0[2]],
                "sx": [red.shape[0]], "sy": [red.shape[1]],
                "sz": [red.shape[2]],
                "data": [_np.asfortranarray(red).tobytes(order="F")]})

        src = self.mip_volume(m)
        blocks = src.map_cuts(
            to_target, "tcx int, tcy int, tcz int, x0 int, y0 int, z0 int, "
                       "sx int, sy int, sz int, data binary",
            ids=only_sources)
        build = _chunk_assembler(dst_sc, nc, dtype_str, self._next_epoch())

        def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
            from bigarrays_jl_spark.volume import (_place_blocks,
                                                   _returned_blocks)

            def fill(buf, box):
                # False when every contributing block fell outside the
                # target box (size-1 edge chunks reduce to empty, or
                # placement past the halved dst volume): emitting a
                # chunk then would materialize spurious zeros where NO
                # source data exists, breaking fill_missing=False
                # semantics at mip+1
                return _place_blocks(buf, box, *_returned_blocks(
                    pdf, buf.dtype, nc)) > 0

            return build((int(pdf.tcx.iloc[0]), int(pdf.tcy.iloc[0]),
                          int(pdf.tcz.iloc[0])), fill)

        result = blocks.groupBy("tcx", "tcy", "tcz").applyInPandas(
            _on_workers(assemble), schema=CHUNK_SCHEMA)
        self._write_chunks(result, mip=m + 1)

    def build_pyramid(self, num_mip: int | None = None, *,
                      levels: int | None = None) -> int:
        """Materialize the mip pyramid: extend metadata (the reference's
        Info(numMip=k), src/Infos.jl:220-229 — metadata only there) and
        run the distributed downsample for each level's pixels.

        ``num_mip`` asks for a total of that many mip levels (the
        reference's parameterization); ``levels`` asks for that many
        ADDITIONAL levels; with neither, downsample until the x/y
        extent collapses to a single voxel.  Returns the number of mips
        built.  Each level is its own distributed job over the previous
        level's chunk table — the total work is a geometric series
        ≈ 4/3 of one full pass (2×2×1 reduction), at any volume size.
        """
        if num_mip is not None and levels is not None:
            raise ValueError("pass num_mip OR levels, not both")
        if num_mip is not None:
            # reference parameterization: TOTAL level count, anchored at
            # mip 0 regardless of which mip this handle was opened at
            # (opening at mip 1 must not shift the whole pyramid up)
            for m in range(num_mip - 1):
                self.downsample(from_mip=m)
            return max(0, num_mip - 1)
        built = 0
        m = self.mip
        while levels is None or built < levels:
            sc = self.info.scale(m + built)
            if levels is None and sc.volume_size[0] <= 1 \
                    and sc.volume_size[1] <= 1:
                break
            self.downsample(from_mip=m + built)
            built += 1
        return built

    def mip_volume(self, mip: int) -> "Volume":
        return Volume(self.spark, self.root, self.info, mip=mip,
                      fill_missing=self.fill_missing)
