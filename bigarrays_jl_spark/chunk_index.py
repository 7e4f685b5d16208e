"""Driver-side chunk index behind the driver-local cutout path.

A cutout needs only the chunks its box touches (the reference fetches
exactly those objects, src/type.jl:212-223).  Instead of scanning the
mip's part files on every call, a ``ChunkIndex`` keeps, per part file,
the id columns of every row (``cx, cy, cz, key, enc, epoch``), each
row's row group, and each row's chunk box, parsed from its key once
when the file is indexed (``parse_chunk_keys``, vectorised).  Whenever
the set of part files changes it resolves the latest epoch of every
key once, into one winner table sorted by (cz, cy, cx); a key stored
twice at the same epoch resolves to the first file in listing order,
and to the first row within it.  A lookup is then one numpy mask of
that table over the chunk-id box and one probe of the decoded cache
(below); it returns the boxes and blocks of the hits as they are, and
reads keys, and only the ``payload`` column of the row groups that
hold them, for the misses alone.  Both writers put one chunk in each row group,
so that read is exactly the k payloads; files in the older layout
(many chunks per row group) still read correctly, at whole-row-group
granularity.

Staying current: part files are immutable and uuid-named, so every
lookup lists the directory and keys its entries by
``(path, size, mtime_ns)``.  Files that disappeared (a compaction swap)
are dropped and new files are indexed once, which also picks up writes
from other handles and processes.  A driver-local write, compaction or
delete hands the index the id columns and footer of each file it has
just put in place (``ChunkIndex.add``), so only files written by
another handle or process are read back; a registered file rewritten
in place differs in size or mtime and is read again.  Discovery follows
``pyarrow.dataset``'s rules: recurse into subdirectories and skip names
starting with ``.`` or ``_`` (Spark's ``_SUCCESS`` and ``.crc`` files).

Compaction and delete: ``fold`` streams the winner table, less the
winners in an optional chunk-id box, payloads still encoded, in
(cz, cy, cx) order and in batches of at most ``FOLD_BATCH_BYTES`` of
payload, so the driver-local compaction and delete are byte copies
whose memory is bounded by that constant, not by the mip.  Each row it
yields carries its source's identity, so the decoded blocks of the
folded chunks can follow them into the new files (see below).
``has_duplicates`` is the auto-compaction probe: it compares the
winner count with the stored row count and reads no payload.

Memory: the ids cost about 95 B per chunk of the files present (90 B
with 25-character keys: 24 B of it the parsed box), no payloads, and
the winner table about 45 B more per live chunk (24 B of it the
boxes); a rebuild briefly holds a few arrays of one entry per stored
row.  A parsed Parquet footer costs ~5 KB per row
group in memory, so footers live in an LRU bounded at
``FOOTER_CACHE_ROW_GROUPS`` row groups in total; a file whose footer
was evicted (or never fit) re-reads it when a lookup next needs one of
its payloads.

Decoded chunks: the driver-local path keeps decoded chunks in one
process-wide LRU, shared by every handle and mip.  An entry is keyed
by ``(part path, size, mtime_ns, row)``, the identity the index itself
trusts, and holds the read-only ``(x, y, z, c)`` block of the whole
chunk.  The blocks held total at most ``DECODED_CACHE_BYTES``; a larger
chunk is never kept.  Three events fill or re-key it:

- a cutout miss: the block ``volume.decode_chunk`` made of the stored
  payload, so it has passed every decode check;
- a driver-local write (``cache_written``): the F-order bytes the
  writer encoded, keyed by the rows of the part file it has just put in
  place.  Every codec that can encode (raw, gzip, zstd, blosclz) is
  lossless, and jpeg, the one lossy codec, refuses to encode, so these
  bytes are exactly what the stored payload decodes to;
- a driver-local compaction or delete (``carry_over``): the fold
  copies payloads byte for byte, so once its swap has succeeded each
  winner's block moves from its old file's row to its row in the new
  file.  A fold or swap that fails moves nothing, and the old files
  stay live.

Whenever a lookup finds the directory's file set changed, it drops the
entries of every file under the directory that the listing no longer
holds in the version cached, so nothing of a swapped-out, deleted or
rewritten file is left, whoever removed it (a writer's blocks outlive
its files when the dataset is removed and re-created); a file
rewritten in place misses on its new size and mtime in any case.  On
an unchanged or locally rewritten volume, steady-state cutouts
therefore open no part file: they read and decode no payload and
index no file from disk.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from bigarrays_jl_spark import indexes as ix

ID_COLUMNS = ["cx", "cy", "cz", "key", "enc", "epoch"]

# ~40 MB of parsed footers at ~5 KB per row group
FOOTER_CACHE_ROW_GROUPS = 8192

# payload bytes per batch of a fold; the copy holds a few times this
FOLD_BATCH_BYTES = 64 << 20

# bytes of decoded voxels the process keeps for the driver-local cutout
DECODED_CACHE_BYTES = 128 << 20


def list_part_files(directory: str) -> dict[str, tuple[int, int]]:
    """``{path: (size, mtime_ns)}`` of the part files under
    ``directory`` (empty when it does not exist)."""
    out: dict[str, tuple[int, int]] = {}
    if not os.path.isdir(directory):
        return out
    stack = [directory]
    while stack:
        with os.scandir(stack.pop()) as entries:
            for e in entries:
                if e.name.startswith((".", "_")):
                    continue
                if e.is_dir():
                    stack.append(e.path)
                else:
                    st = e.stat()
                    out[e.path] = (st.st_size, st.st_mtime_ns)
    return out


_BOUNDS = ("x0", "x1", "y0", "y1", "z0", "z1")
_INT32 = np.iinfo(np.int32)


def parse_chunk_keys(keys: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """``(box, ok)`` of a string array of chunk keys, vectorised:
    ``box[i]`` is the ``(3, 2)`` int32 box ``indexes.parse_chunk_key``
    makes of key i, and ``ok[i]`` is False where it cannot be had here:
    a key the grammar refuses, a bound outside int32, or a key only
    Python's ``re`` accepts (non-ASCII digits, a trailing newline).
    Such rows get a zero box; lookups send them down the miss path,
    whose decode parses the key itself and raises naming it."""
    m = pc.extract_regex(keys, pattern=ix.KEY_PATTERN)
    ok = m.is_valid().to_numpy(zero_copy_only=False)
    # bounds by field, "" where the key did not match
    flat = pa.concat_arrays([m.field(b) for b in _BOUNDS])
    # a sign and at most 10 digits: int64 holds it, int32 may
    ok &= (pc.utf8_length(flat).to_numpy(zero_copy_only=False)
           <= 11).reshape(6, -1).all(axis=0)
    bounds = pc.cast(flat.filter(pa.array(np.tile(ok, 6))), pa.int64())
    bounds = bounds.to_numpy().reshape(6, -1).T
    fits = ((bounds >= _INT32.min) & (bounds <= _INT32.max)).all(axis=1)
    box = np.zeros((len(ok), 6), dtype=np.int32)
    box[np.flatnonzero(ok)[fits]] = bounds[fits]
    ok[ok] = fits
    return box.reshape(-1, 3, 2), ok


class _PartFile:
    """The id columns of one part file, from its ``ID_COLUMNS`` table
    ``ids`` and parsed ``footer``, whether ``ChunkIndex._refresh`` read
    them from disk or the writer handed them over (``ChunkIndex.add``).
    ``enc`` holds codes into ``enc_names``; ``box`` and ``ok`` hold each
    row's chunk box parsed from its key (``parse_chunk_keys``);
    ``rg_start`` holds each row group's first row and ``rg_bytes`` the
    size of its ``payload`` column chunk."""

    __slots__ = ("sig", "cid", "epoch", "key", "enc", "enc_names", "box",
                 "ok", "rg_start", "rg_bytes")

    def __init__(self, sig: tuple[int, int], ids: pa.Table, footer) -> None:
        self.sig = sig
        self.cid = np.stack([ids.column(c).to_numpy().astype(np.int32)
                             for c in ("cx", "cy", "cz")])
        self.epoch = ids.column("epoch").to_numpy().astype(np.int64)
        self.key = ids.column("key").combine_chunks()
        self.box, self.ok = parse_chunk_keys(self.key)
        enc = pc.dictionary_encode(ids.column("enc").combine_chunks())
        self.enc = enc.indices.to_numpy()
        self.enc_names = enc.dictionary.to_pylist()
        rgs = [footer.row_group(i) for i in range(footer.num_row_groups)]
        payload = footer.schema.names.index("payload")
        sizes = np.array([g.num_rows for g in rgs], dtype=np.int32)
        self.rg_start = np.cumsum(sizes, dtype=np.int32) - sizes
        self.rg_bytes = np.array(
            [g.column(payload).total_uncompressed_size for g in rgs],
            dtype=np.int64)

    def row_bytes(self) -> np.ndarray:
        """Each row's share of its row group's payload bytes (its own
        payload size when the file has one chunk per row group)."""
        rows = np.diff(np.append(self.rg_start, len(self.epoch)))
        return np.repeat(self.rg_bytes // np.maximum(rows, 1), rows)


class _DecodedCache:
    """The process-wide LRU of decoded chunks (see the module
    docstring); ``hits`` and ``misses`` count lookups since start."""

    def __init__(self) -> None:
        self._blocks: OrderedDict = OrderedDict()   # ident -> block
        self.nbytes = 0
        self.hits = self.misses = 0
        self._lock = threading.Lock()

    def get_many(self, idents: list, nc: int, dtype: np.dtype):
        """``(at, blocks)``: the positions in ``idents`` whose block is
        cached as ``nc`` channels of ``dtype``, and those blocks, which
        become the most recently used.  One lock acquisition."""
        at, blocks = [], []
        with self._lock:
            for i, ident in enumerate(idents):
                block = self._blocks.get(ident)
                if (block is not None and block.dtype == dtype
                        and block.shape[3] == nc):
                    self._blocks.move_to_end(ident)
                    at.append(i)
                    blocks.append(block)
            self.hits += len(at)
            self.misses += len(idents) - len(at)
        return np.array(at, dtype=np.intp), blocks

    def put(self, ident: tuple, block: np.ndarray) -> None:
        with self._lock:
            if block.nbytes > DECODED_CACHE_BYTES or ident in self._blocks:
                return
            block.flags.writeable = False
            self._blocks[ident] = block
            self.nbytes += block.nbytes
            while self.nbytes > DECODED_CACHE_BYTES:
                self.nbytes -= self._blocks.popitem(last=False)[1].nbytes

    def drop_stale(self, directory: str, listing: dict) -> None:
        """Forget every block of a part file under ``directory`` that
        ``listing`` (``{path: (size, mtime_ns)}`` of the files there)
        does not hold, or holds in another version."""
        prefix = os.path.join(directory, "")
        with self._lock:
            for ident in [i for i in self._blocks if i[0].startswith(prefix)
                          and listing.get(i[0]) != i[1:3]]:
                self.nbytes -= self._blocks.pop(ident).nbytes

    def move(self, moves) -> None:
        """Re-key the block of each ``(old ident, new ident)`` pair that
        is cached; it becomes the most recently used."""
        with self._lock:
            for old, new in moves:
                block = self._blocks.pop(old, None)
                if block is None:
                    continue
                if new in self._blocks:   # a cutout decoded it since
                    self.nbytes -= block.nbytes
                else:
                    self._blocks[new] = block


_decoded = _DecodedCache()


def cache_written(path: str, sig: tuple[int, int], blocks: list) -> None:
    """Write-through: cache ``blocks[i]``, the voxels written to row i
    of the part file just put in place at ``path`` (whose ``(size,
    mtime_ns)`` is ``sig``), as that row's decoded chunk (see the module
    docstring for why this is sound)."""
    for row, block in enumerate(blocks):
        _decoded.put((path, *sig, row), block)


def carry_over(path: str, sig: tuple[int, int], sources: list) -> None:
    """After a compaction swap: move each cached block of ``sources``
    (the idents ``ChunkIndex.fold`` reported for the rows of the part
    file now at ``path``, whose ``(size, mtime_ns)`` is ``sig``, in its
    row order) to that row."""
    _decoded.move((src, (path, *sig, row))
                  for row, src in enumerate(sources))


class _Winners:
    """The latest-epoch row of every key stored in ``files`` (a list
    of ``(path, _PartFile)`` in listing order), sorted by (cz, cy, cx):
    winner i is row ``row[i]`` of ``files[fid[i]]``, with chunk id
    ``cid[:, i]`` and the box ``box[i]`` parsed from its key (``ok[i]``
    whether it parsed); ``stored`` counts every row."""

    __slots__ = ("files", "fid", "row", "cid", "box", "ok", "stored")

    def __init__(self, files: list[tuple[str, _PartFile]]) -> None:
        parts = [f for _, f in files]
        n = [len(f.epoch) for f in parts]
        self.files, self.stored = files, sum(n)
        if not self.stored:
            self.fid = self.row = np.empty(0, dtype=np.int32)
            self.cid = np.empty((3, 0), dtype=np.int32)
            self.box = np.empty((0, 3, 2), dtype=np.int32)
            self.ok = np.empty(0, dtype=bool)
            return
        fid = np.repeat(np.arange(len(parts), dtype=np.int32), n)
        row = np.concatenate([np.arange(k, dtype=np.int32) for k in n])
        keys = pa.concat_arrays([f.key for f in parts])
        code = pc.dictionary_encode(keys).indices.to_numpy()
        # stable: on a (key, epoch) tie the first file and row win
        order = np.lexsort((-np.concatenate([f.epoch for f in parts]), code))
        first = np.ones(len(order), dtype=bool)
        first[1:] = code[order[1:]] != code[order[:-1]]
        win = order[first]
        cid = np.concatenate([f.cid for f in parts], axis=1)
        win = win[np.lexsort(cid[:, win])]
        self.fid, self.row, self.cid = fid[win], row[win], cid[:, win]
        self.box = np.concatenate([f.box for f in parts])[win]
        self.ok = np.concatenate([f.ok for f in parts])[win]

    def in_box(self, ranges) -> np.ndarray:
        """Mask of the winners whose chunk id lies in ``ranges``
        (half-open ``(lo, hi)`` per axis)."""
        lo = np.array([r[0] for r in ranges], dtype=np.int64)[:, None]
        hi = np.array([r[1] for r in ranges], dtype=np.int64)[:, None]
        return ((self.cid >= lo) & (self.cid < hi)).all(axis=0)

    def idents(self, sel: np.ndarray) -> list[tuple]:
        """The decoded-cache idents of the winners ``sel``."""
        pre = [(path, *f.sig) for path, f in self.files]
        return [(*pre[f], r) for f, r
                in zip(self.fid[sel].tolist(), self.row[sel].tolist())]

    def by_file(self, sel: np.ndarray):
        """``(path, part file, rows, at)`` per file holding one of the
        winners ``sel``: its ``rows`` sorted, ``at`` the positions in
        ``sel`` of those winners."""
        fid = self.fid[sel]
        order = np.lexsort((self.row[sel], fid))
        cuts = np.flatnonzero(np.diff(fid[order])) + 1
        for at in np.split(order, cuts) if len(order) else ():
            path, f = self.files[fid[at[0]]]
            yield path, f, self.row[sel[at]], at


class Lookup(NamedTuple):
    """What ``ChunkIndex.latest_decoded`` found: ``boxes[i]`` (an
    ``(h, 3, 2)`` int32 array) is the global box of the i-th winner the
    decoded cache holds and ``blocks[i]`` its cached block; ``misses``
    are the other winners as ``fold`` rows ``(cx, cy, cz, key, enc,
    payload, ident)``, payloads read."""

    boxes: np.ndarray
    blocks: list
    misses: list


class ChunkIndex:
    """Chunk index over one mip directory (see the module docstring).
    ``files_read`` counts the part files it has indexed from disk,
    ``files_added`` those writers handed over."""

    def __init__(self, directory: str):
        self.directory = directory
        self._files: dict[str, _PartFile] = {}
        self._table: _Winners | None = None     # None: rebuild when due
        self._footers: OrderedDict = OrderedDict()   # path -> footer
        self._footer_rgs = 0
        self._lock = threading.Lock()
        self.files_read = self.files_added = 0

    def add(self, path: str, ids: pa.Table, footer) -> tuple[int, int]:
        """Index the part file a driver-local writer has just put in
        place at ``path`` from what the writer holds: ``ids``, the
        ``ID_COLUMNS`` of the table it wrote, and ``footer``, the footer
        it wrote.  The next lookup rebuilds the winner table without
        opening the file.  Returns the file's ``(size, mtime_ns)``, from
        one ``os.stat``; a file rewritten after this differs in it and
        is read from disk again."""
        st = os.stat(path)
        f = _PartFile((st.st_size, st.st_mtime_ns), ids, footer)
        with self._lock:
            self._files[path] = f
            self._drop_footer(path)
            self._keep_footer(path, footer)
            self._table = None
            self.files_added += 1
        return f.sig

    def latest_decoded(self, ranges, nc: int, dtype) -> Lookup:
        """The latest epoch of every stored key whose chunk id lies in
        ``ranges`` (half-open ``(lo, hi)`` per axis), as a ``Lookup``.
        A winner the decoded cache holds as ``nc`` channels of
        ``dtype`` is a hit: its box and block come back, and neither
        its key nor its payload is read.  The caller decodes each miss
        and hands the whole decoded chunk to ``keep(ident, chunk)``.  A
        key ``parse_chunk_keys`` does not parse is always a miss."""
        t = self._current()
        sel = np.flatnonzero(t.in_box(ranges))
        good = sel[t.ok[sel]]
        at, blocks = _decoded.get_many(t.idents(good), nc, np.dtype(dtype))
        miss = np.setdiff1d(sel, good[at], assume_unique=True)
        return Lookup(t.box[good[at]], blocks, self._read_rows(t, miss))

    def keep(self, ident: tuple, chunk: np.ndarray) -> None:
        """Cache the decoded ``chunk`` of a ``latest_decoded`` miss,
        unless its file has left the index since."""
        with self._lock:
            f = self._files.get(ident[0])
            if f is not None and f.sig == ident[1:3]:
                _decoded.put(ident, chunk)

    def _current(self) -> _Winners:
        """The winner table of the part files present now."""
        with self._lock:
            self._refresh()
            return self._table

    def _payloads(self, path: str, f: _PartFile,
                  rows: np.ndarray) -> list[bytes]:
        return _read_payloads(path, f, self._footer_for(path, f), rows)

    def has_duplicates(self) -> bool:
        """Whether any key is stored more than once, i.e. whether there
        is overwrite history to fold.  Reads no payloads."""
        t = self._current()
        return len(t.fid) < t.stored

    def fold(self, drop=None):
        """Yield the latest-epoch winner of every stored key whose chunk
        id lies outside the optional ``drop`` ranges (half-open
        ``(lo, hi)`` per axis) as lists of ``(cx, cy, cz, key, enc,
        payload, ident)``, payloads still encoded, sorted by (cz, cy,
        cx) within and across lists; ``ident`` is the decoded-cache
        identity of the row the winner came from (see ``carry_over``).
        A list carries at most ``FOLD_BATCH_BYTES`` of payload (a larger
        chunk comes alone), read when the list is due."""
        t = self._current()
        keep = (np.ones(len(t.fid), dtype=bool) if drop is None
                else ~t.in_box(drop))
        sel = np.flatnonzero(keep)
        if not len(sel):
            return
        rb = [f.row_bytes() for _, f in t.files]
        base = np.cumsum([len(b) for b in rb]) - [len(b) for b in rb]
        nbytes = np.concatenate(rb)[base[t.fid[sel]] + t.row[sel]]
        start = size = 0
        for j, b in enumerate(nbytes.tolist()):
            if size and size + b > FOLD_BATCH_BYTES:
                yield self._read_rows(t, sel[start:j])
                start, size = j, 0
            size += b
        yield self._read_rows(t, sel[start:])

    def _read_rows(self, t: _Winners, sel: np.ndarray) -> list[tuple]:
        """``(cx, cy, cz, key, enc, payload, ident)`` of the winners
        ``sel`` of ``t``, in the order of ``sel``."""
        out = [None] * len(sel)
        for path, f, rows, at in t.by_file(sel):
            ids = zip(*f.cid[:, rows].tolist(),
                      f.key.take(rows).to_pylist(), f.enc[rows].tolist(),
                      self._payloads(path, f, rows), rows.tolist())
            for a, (cx, cy, cz, key, c, p, r) in zip(at.tolist(), ids):
                out[a] = (cx, cy, cz, key, f.enc_names[c], p,
                          (path, *f.sig, r))
        return out

    def _refresh(self) -> None:
        listing = list_part_files(self.directory)
        files = {}
        for path, sig in listing.items():
            f = self._files.get(path)
            if f is None or f.sig != sig:
                pf = pq.ParquetFile(path)
                f = _PartFile(sig, pf.read(columns=ID_COLUMNS), pf.metadata)
                self.files_read += 1
                self._drop_footer(path)
                self._keep_footer(path, pf.metadata)
            files[path] = f
        for path in [p for p in self._footers if p not in files]:
            self._drop_footer(path)
        if self._table is None or len(files) != len(self._files) or any(
                self._files.get(p) is not f for p, f in files.items()):
            _decoded.drop_stale(self.directory, listing)
            self._table = _Winners(list(files.items()))
        self._files = files

    def _footer_for(self, path: str, f: _PartFile):
        """The parsed footer of ``path`` as indexed in ``f``: from the
        LRU, else read and kept while ``f`` is still the indexed version
        of the file.  Cached footers always belong to the indexed
        version of a file: ``_refresh`` drops them with the file."""
        with self._lock:
            footer = (self._footers.get(path)
                      if self._files.get(path) is f else None)
            if footer is not None:
                self._footers.move_to_end(path)
        if footer is None:
            footer = pq.read_metadata(path)
            with self._lock:
                if self._files.get(path) is f:
                    self._keep_footer(path, footer)
        return footer

    def _keep_footer(self, path: str, footer) -> None:
        n = footer.num_row_groups
        if n > FOOTER_CACHE_ROW_GROUPS or path in self._footers:
            return
        self._footers[path] = footer
        self._footer_rgs += n
        while self._footer_rgs > FOOTER_CACHE_ROW_GROUPS:
            self._drop_footer(next(iter(self._footers)))

    def _drop_footer(self, path: str) -> None:
        footer = self._footers.pop(path, None)
        if footer is not None:
            self._footer_rgs -= footer.num_row_groups


def _read_payloads(path: str, f: _PartFile, footer,
                   rows: np.ndarray) -> list[bytes]:
    """Payload bytes of the sorted ``rows`` of one part file (whose
    parsed ``footer`` is given), reading only the ``payload`` column of
    the row groups that hold them."""
    rg = np.searchsorted(f.rg_start, rows, side="right") - 1
    rgs = np.unique(rg).tolist()
    sizes = np.array([footer.row_group(i).num_rows for i in rgs])
    base = np.cumsum(sizes) - sizes          # each row group's first row read
    pos = base[np.searchsorted(rgs, rg)] + rows - f.rg_start[rg]
    col = (pq.ParquetFile(path, metadata=footer)
           .read_row_groups(rgs, columns=["payload"], use_threads=False)
           .column("payload"))
    if len(pos) != len(col):                 # older multi-chunk row groups
        col = col.take(pos)
    return col.to_pylist()
