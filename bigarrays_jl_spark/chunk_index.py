"""Driver-side chunk index behind the driver-local cutout path.

A cutout needs only the chunks its box touches (the reference fetches
exactly those objects, src/type.jl:212-223).  Instead of scanning the
mip's part files on every call, a ``ChunkIndex`` keeps, per part file,
the id columns of every row (``cx, cy, cz, key, enc, epoch``) and each
row's row group.  A lookup selects the rows inside the chunk-id box in
memory, keeps the latest epoch per key, and reads only the ``payload``
column of the row groups that hold the winners.  Both writers put one
chunk in each row group, so that read is exactly the k payloads; files
in the older layout (many chunks per row group) still read correctly,
at whole-row-group granularity.

Staying current: part files are immutable and uuid-named, so every
lookup lists the directory and keys its entries by
``(path, size, mtime_ns)``.  Files that disappeared (a compaction swap)
are dropped and new files are indexed once, which also picks up writes
from other handles and processes.  Discovery follows
``pyarrow.dataset``'s rules: recurse into subdirectories and skip names
starting with ``.`` or ``_`` (Spark's ``_SUCCESS`` and ``.crc`` files).

Compaction: ``fold`` streams the latest-epoch winner of every key,
payloads still encoded, in (cz, cy, cx) order and in batches of at
most ``FOLD_BATCH_BYTES`` of payload, so the driver-local compaction
is a byte copy whose memory is bounded by that constant, not by the
mip.  ``has_duplicates`` is the auto-compaction probe: it answers from
the cached keys without reading any payload.

Memory: the ids cost about 70 B per chunk of the files present (65 B
with 25-character keys), no payloads.  A parsed Parquet footer costs
~5 KB per row group in memory, so footers live in an LRU bounded at
``FOOTER_CACHE_ROW_GROUPS`` row groups in total; a file whose footer
was evicted (or never fit) re-reads it when a lookup next needs one of
its payloads.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

ID_COLUMNS = ["cx", "cy", "cz", "key", "enc", "epoch"]

# ~40 MB of parsed footers at ~5 KB per row group
FOOTER_CACHE_ROW_GROUPS = 8192

# payload bytes per batch of a fold; the copy holds a few times this
FOLD_BATCH_BYTES = 64 << 20


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


class _PartFile:
    """The id columns of one part file.  ``enc`` holds codes into
    ``enc_names``; ``rg_start`` holds each row group's first row and
    ``rg_bytes`` the size of its ``payload`` column chunk."""

    __slots__ = ("sig", "cid", "lo", "hi", "epoch", "key", "enc",
                 "enc_names", "rg_start", "rg_bytes")

    def __init__(self, sig: tuple[int, int], pf: pq.ParquetFile) -> None:
        ids = pf.read(columns=ID_COLUMNS)
        md = pf.metadata
        self.sig = sig
        self.cid = np.stack([ids.column(c).to_numpy().astype(np.int32)
                             for c in ("cx", "cy", "cz")])
        if ids.num_rows:
            self.lo, self.hi = self.cid.min(axis=1), self.cid.max(axis=1)
        else:
            self.lo = self.hi = None
        self.epoch = ids.column("epoch").to_numpy().astype(np.int64)
        self.key = ids.column("key").combine_chunks()
        enc = pc.dictionary_encode(ids.column("enc").combine_chunks())
        self.enc = enc.indices.to_numpy()
        self.enc_names = enc.dictionary.to_pylist()
        rgs = [md.row_group(i) for i in range(md.num_row_groups)]
        payload = md.schema.names.index("payload")
        sizes = np.array([g.num_rows for g in rgs], dtype=np.int32)
        self.rg_start = np.cumsum(sizes, dtype=np.int32) - sizes
        self.rg_bytes = np.array(
            [g.column(payload).total_uncompressed_size for g in rgs],
            dtype=np.int64)

    def rows_in(self, lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
        """Indices of the rows whose chunk id lies in ``[lo, hi)``."""
        if self.lo is None or (self.hi < lo).any() or (self.lo >= hi).any():
            return np.empty(0, dtype=np.int64)
        inside = ((self.cid >= lo[:, None]) & (self.cid < hi[:, None]))
        return np.flatnonzero(inside.all(axis=0))

    def row_bytes(self) -> np.ndarray:
        """Each row's share of its row group's payload bytes (its own
        payload size when the file has one chunk per row group)."""
        rows = np.diff(np.append(self.rg_start, len(self.epoch)))
        return np.repeat(self.rg_bytes // np.maximum(rows, 1), rows)


class ChunkIndex:
    """Chunk index over one mip directory (see the module docstring)."""

    def __init__(self, directory: str):
        self.directory = directory
        self._files: dict[str, _PartFile] = {}
        self._footers: OrderedDict = OrderedDict()   # path -> footer
        self._footer_rgs = 0
        self._lock = threading.Lock()

    def latest(self, ranges) -> list[tuple[str, str, bytes, str]]:
        """``(key, enc, payload, part_file)`` of the latest epoch of
        every stored key whose chunk id lies in ``ranges`` (half-open
        ``(lo, hi)`` per axis)."""
        lo = np.array([r[0] for r in ranges], dtype=np.int64)
        hi = np.array([r[1] for r in ranges], dtype=np.int64)
        with self._lock:
            self._refresh()
            best: dict[str, tuple[int, str, int]] = {}
            for path, f in self._files.items():
                rows = f.rows_in(lo, hi)
                if not len(rows):
                    continue
                keys = f.key.take(rows).to_pylist()
                for k, e, r in zip(keys, f.epoch[rows].tolist(),
                                   rows.tolist()):
                    if k not in best or e > best[k][0]:
                        best[k] = (e, path, r)
            wanted: dict[str, list[tuple[int, str]]] = {}
            for k, (_, path, r) in best.items():
                wanted.setdefault(path, []).append((r, k))
            reads = [(path, self._files[path], sorted(hits))
                     for path, hits in wanted.items()]
        out = []
        for path, f, hits in reads:
            rows = np.array([r for r, _ in hits], dtype=np.int64)
            payloads = _read_payloads(path, f, self._footer_for(path, f),
                                      rows)
            out += ((k, f.enc_names[c], p, path) for (_, k), c, p
                    in zip(hits, f.enc[rows].tolist(), payloads))
        return out

    def has_duplicates(self) -> bool:
        """Whether any key is stored more than once, i.e. whether there
        is overwrite history to fold.  Reads no payloads."""
        with self._lock:
            self._refresh()
            keys = [f.key for f in self._files.values()]
        n = sum(len(k) for k in keys)
        return n > 0 and len(pc.unique(pa.chunked_array(keys))) < n

    def fold(self):
        """Yield the latest-epoch winner of every stored key as lists of
        ``(cx, cy, cz, key, enc, payload)``, payloads still encoded,
        sorted by (cz, cy, cx) within and across lists.  A list carries
        at most ``FOLD_BATCH_BYTES`` of payload (a larger chunk comes
        alone), read when the list is due."""
        with self._lock:
            self._refresh()
            files = list(self._files.items())
        parts = [f for _, f in files]
        n = [len(f.epoch) for f in parts]
        if not sum(n):
            return
        fid = np.repeat(np.arange(len(parts)), n)
        row = np.concatenate([np.arange(k) for k in n])
        code = pc.dictionary_encode(
            pa.concat_arrays([f.key for f in parts])).indices.to_numpy()
        order = np.lexsort((-np.concatenate([f.epoch for f in parts]), code))
        first = np.ones(len(order), dtype=bool)
        first[1:] = code[order[1:]] != code[order[:-1]]
        win = order[first]
        win = win[np.lexsort(np.concatenate([f.cid for f in parts],
                                            axis=1)[:, win])]
        nbytes = np.concatenate([f.row_bytes() for f in parts])[win]
        start = size = 0
        for j, b in enumerate(nbytes.tolist()):
            if size and size + b > FOLD_BATCH_BYTES:
                yield self._read_rows(files, fid, row, win[start:j])
                start, size = j, 0
            size += b
        yield self._read_rows(files, fid, row, win[start:])

    def _read_rows(self, files, fid, row, sel) -> list[tuple]:
        """``(cx, cy, cz, key, enc, payload)`` of the global rows ``sel``
        (``files[fid[i]]``, row ``row[i]``), in the order of ``sel``."""
        out = [None] * len(sel)
        for k in np.unique(fid[sel]).tolist():
            path, f = files[k]
            at = np.flatnonzero(fid[sel] == k)
            at = at[np.argsort(row[sel[at]], kind="stable")]
            rows = row[sel[at]]
            ids = zip(*f.cid[:, rows].tolist(),
                      f.key.take(rows).to_pylist(), f.enc[rows].tolist(),
                      _read_payloads(path, f, self._footer_for(path, f),
                                     rows))
            for a, (cx, cy, cz, key, c, p) in zip(at.tolist(), ids):
                out[a] = (cx, cy, cz, key, f.enc_names[c], p)
        return out

    def _refresh(self) -> None:
        listing = list_part_files(self.directory)
        files = {}
        for path, sig in listing.items():
            f = self._files.get(path)
            if f is None or f.sig != sig:
                pf = pq.ParquetFile(path)
                f = _PartFile(sig, pf)
                self._drop_footer(path)
                self._keep_footer(path, pf.metadata)
            files[path] = f
        for path in [p for p in self._footers if p not in files]:
            self._drop_footer(path)
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
