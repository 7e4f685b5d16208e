"""Chunk-lattice arithmetic and neuroglancer key strings.

Re-expresses the reference's index machinery (src/Indexes.jl,
src/ChunkIterators.jl) as pure Python functions over **0-based, half-open**
global coordinate boxes.  The reference uses Julia 1-based inclusive
ranges; its on-disk key ``"<x1-1>-<x2>_..."`` (src/Indexes.jl:88-94) is
exactly the 0-based half-open form, so our keys are byte-identical to
neuroglancer precomputed keys.

Semantics preserved from the reference:
- chunk ids come from *floor* division so negative coordinates work
  (``fld`` in src/Indexes.jl:41-45);
- the chunk lattice is anchored at ``voxel_offset mod chunk_size`` so
  non-origin-anchored mip levels align (src/ChunkIterators.jl:27-38,
  exercised by the reference test/BinDicts.jl:134-150);
- key parsing accepts negative coordinates and an optional ``.gz``
  suffix (src/Indexes.jl:102-106).

A ``Box`` is ``((x0, x1), (y0, y1), (z0, z1))`` with half-open
``[lo, hi)`` per axis.

The chunk-boundary geometry of the per-chunk volume operators lives
here too: :func:`axis_pairs` pairs every voxel of a block with its +1
neighbour inside the block, and :func:`chunk_faces` keys a block's face
cells so that both sides of a chunk boundary meet on one key.
"""

from __future__ import annotations

import operator
import re
from collections.abc import Iterator, Sequence
from typing import NamedTuple

import numpy as np

Range = tuple[int, int]
Box = tuple[Range, ...]

# the chunk-key grammar, one group per bound; also run vectorised by
# the driver's chunk index (RE2 accepts it too)
KEY_PATTERN = (r"^(?P<x0>-?\d+)-(?P<x1>-?\d+)_(?P<y0>-?\d+)-(?P<y1>-?\d+)"
               r"_(?P<z0>-?\d+)-(?P<z1>-?\d+)(?:\.gz)?$")
_KEY_RE = re.compile(KEY_PATTERN)


def lattice_anchor(offset: Sequence[int], chunk_size: Sequence[int]) -> tuple[int, ...]:
    """Per-axis lattice anchor = ``offset mod chunk_size`` (non-negative).

    Mirrors src/ChunkIterators.jl:34 — chunks are aligned to the volume's
    voxel_offset, not to the global origin.
    """
    return tuple(o % c for o, c in zip(offset, chunk_size))


def chunk_id(g: int, anchor: int, chunk_size: int) -> int:
    """Global coordinate → chunk id on an anchored lattice (floor division,
    valid for negative ``g`` — src/Indexes.jl:41-45)."""
    return (g - anchor) // chunk_size


def chunk_id_range(lo: int, hi: int, anchor: int, chunk_size: int) -> Range:
    """Half-open chunk-id range covering global ``[lo, hi)``."""
    return chunk_id(lo, anchor, chunk_size), chunk_id(hi - 1, anchor, chunk_size) + 1


def chunk_id_ranges(box: Box, anchor: Sequence[int],
                    chunk_size: Sequence[int]) -> tuple[Range, ...]:
    """Per-axis half-open chunk-id ranges covering ``box`` — the shared
    lattice-extent enumeration behind scan pruning, lattice_df and
    stats (one definition, so clamping/anchoring changes apply
    everywhere).  Empty axes (hi <= lo) yield an empty id range."""
    return tuple(
        chunk_id_range(lo, hi, a, c) if hi > lo else (0, 0)
        for (lo, hi), a, c in zip(box, anchor, chunk_size))


def chunk_global_range(cid: int, anchor: int, chunk_size: int) -> Range:
    """Chunk id → half-open global range (src/Indexes.jl:47-53)."""
    lo = anchor + cid * chunk_size
    return lo, lo + chunk_size


def intersect_range(a: Range, b: Range) -> Range:
    """Intersection of half-open ranges; empty results have hi <= lo."""
    return max(a[0], b[0]), min(a[1], b[1])


def intersect_box(a: Box, b: Box) -> Box:
    return tuple(intersect_range(ra, rb) for ra, rb in zip(a, b))


def union_range(a: Range, b: Range) -> Range:
    """Bounding union (src/Indexes.jl:111-118)."""
    return min(a[0], b[0]), max(a[1], b[1])


def box_slices(inner: Box, outer: Box) -> tuple[slice, ...]:
    """Slices selecting box ``inner`` in an array that holds box
    ``outer`` (``inner`` lies inside ``outer``)."""
    return tuple(slice(lo - olo, hi - olo)
                 for (lo, hi), (olo, _) in zip(inner, outer))


def box_is_empty(box: Box) -> bool:
    return any(hi <= lo for lo, hi in box)


def box_shape(box: Box) -> tuple[int, ...]:
    return tuple(max(0, hi - lo) for lo, hi in box)


def volume_box(offset: Sequence[int], size: Sequence[int]) -> Box:
    """Valid-data box of a volume: [offset, offset+size) per axis
    (src/type.jl:152-159)."""
    return tuple((o, o + s) for o, s in zip(offset, size))


def chunk_key(box: Box) -> str:
    """Half-open global box → neuroglancer key ``"x0-x1_y0-y1_z0-z1"``.

    Only the first 3 (spatial) axes participate (src/Indexes.jl:90) —
    the channel axis rides along whole.
    """
    return "_".join(f"{lo}-{hi}" for lo, hi in box[:3])


def parse_chunk_key(key: str) -> Box:
    """Key string → half-open global box; accepts negatives and ``.gz``
    suffix (src/Indexes.jl:102-106)."""
    m = _KEY_RE.match(key)
    if m is None:
        raise ValueError(f"malformed chunk key: {key!r}")
    v = [int(x) for x in m.groups()]
    return ((v[0], v[1]), (v[2], v[3]), (v[4], v[5]))


class ChunkSlice:
    """One chunk's contribution to a cutout/ingest box — the engine IR.

    Mirrors the reference ChunkIterator 5-tuple (src/ChunkIterators.jl:82):
    chunk id, the chunk's (volume-clamped) global box, the sub-box shared
    with the request, and that sub-box's offsets inside the chunk payload
    and inside the request buffer.
    """

    __slots__ = ("cid", "chunk_box", "cutout_box", "in_chunk", "in_buffer")

    def __init__(self, cid, chunk_box, cutout_box, in_chunk, in_buffer):
        self.cid: tuple[int, ...] = cid
        self.chunk_box: Box = chunk_box          # clamped at volume bounds
        self.cutout_box: Box = cutout_box        # chunk ∩ request ∩ volume
        self.in_chunk: Box = in_chunk            # cutout_box relative to chunk_box
        self.in_buffer: Box = in_buffer          # cutout_box relative to request

    @property
    def key(self) -> str:
        return chunk_key(self.chunk_box)


def iter_chunk_slices(request: Box, offset: Sequence[int], size: Sequence[int],
                      chunk_size: Sequence[int]) -> Iterator[ChunkSlice]:
    """Enumerate chunks intersecting ``request``, clamped at volume bounds.

    Combines the reference's ChunkIterator (src/ChunkIterators.jl:56-83)
    with adjust_volume_boundary (src/type.jl:165-205) and the
    out-of-volume skip (src/modes/sequential.jl:33-36): chunks wholly
    outside the volume yield nothing (the caller leaves zeros).
    """
    vol = volume_box(offset, size)
    anchor = lattice_anchor(offset, chunk_size)
    cid_ranges = [
        chunk_id_range(lo, hi, a, c)
        for (lo, hi), a, c in zip(request, anchor, chunk_size)
    ]
    for cx in range(*cid_ranges[0]):
        for cy in range(*cid_ranges[1]):
            for cz in range(*cid_ranges[2]):
                cid = (cx, cy, cz)
                raw = tuple(
                    chunk_global_range(c, a, s)
                    for c, a, s in zip(cid, anchor, chunk_size)
                )
                chunk_box = intersect_box(raw, vol)     # volume clamp (P5)
                if box_is_empty(chunk_box):
                    continue                            # out-of-volume skip (P4)
                cutout = intersect_box(chunk_box, request)
                if box_is_empty(cutout):
                    continue
                in_chunk = tuple(
                    (lo - clo, hi - clo)
                    for (lo, hi), (clo, _) in zip(cutout, chunk_box)
                )
                in_buffer = tuple(
                    (lo - rlo, hi - rlo)
                    for (lo, hi), (rlo, _) in zip(cutout, request)
                )
                yield ChunkSlice(cid, chunk_box, cutout, in_chunk, in_buffer)


def normalize_index(idx, vol: Box) -> Box:
    """Python ``__getitem__`` argument → half-open Box.

    Accepts slices (absolute global coordinates — negative values mean
    negative coordinates, NOT from-the-end) and ints; ``:`` maps to the
    full valid extent, mirroring colon2unit_range (src/Indexes.jl:58-64).
    """
    if not isinstance(idx, tuple):
        idx = (idx,)
    if len(idx) != 3:
        raise IndexError(f"expected 3 spatial indices, got {len(idx)}")
    out = []
    for axis, i in enumerate(idx):
        if isinstance(i, slice):
            if i.step not in (None, 1):
                raise IndexError("strided cutouts are not supported")
            lo = vol[axis][0] if i.start is None else operator.index(i.start)
            hi = vol[axis][1] if i.stop is None else operator.index(i.stop)
            out.append((lo, hi))
        elif isinstance(i, bool):
            raise IndexError(f"unsupported index type: {type(i)}")
        else:
            try:
                # operator.index admits any integer-like (numpy scalars —
                # the natural product of np.argmax etc. — included)
                v = operator.index(i)
            except TypeError:
                raise IndexError(
                    f"unsupported index type: {type(i)}") from None
            out.append((v, v + 1))
    return tuple(out)


def axis_pairs(shape: Sequence[int], axes: Sequence[int] = (0, 1, 2)
               ) -> Iterator[tuple[int, tuple[slice, ...], tuple[slice, ...]]]:
    """``(axis, lo, hi)`` for each of ``axes`` along which a block of
    ``shape`` has at least two voxels: ``block[lo]`` and ``block[hi]``
    hold every voxel and its +1 neighbour along ``axis``, element by
    element (a channel axis past the third rides along whole)."""
    for ax in axes:
        n = shape[ax]
        if n < 2:
            continue
        lo, hi = [slice(None)] * 3, [slice(None)] * 3
        lo[ax], hi[ax] = slice(0, n - 1), slice(1, n)
        yield ax, tuple(lo), tuple(hi)


class Face(NamedTuple):
    """One face sheet of a block holding ``cut``.

    ``plane`` is the global coordinate, along ``axis``, of the first
    voxel on the high side of the chunk boundary the sheet lies on: the
    sheet's own coordinate on the low face (``side`` 0) and one past it
    on the high face (``side`` 1).  So the two blocks that meet at a
    boundary key its cells alike, as ``(axis, plane, u, v)``.  ``u`` and
    ``v`` are sheet-shaped arrays of the global coordinates of the
    sheet's other two axes, in axis order; ``block[sheet]`` is the
    sheet."""
    axis: int
    side: int
    sheet: tuple
    plane: int
    u: np.ndarray
    v: np.ndarray


def chunk_faces(cut: Box, axes: Sequence[int] = (0, 1, 2)) -> Iterator[Face]:
    """The low and the high :class:`Face` of a block holding the global
    box ``cut``, along each of ``axes`` — the one face-keying convention
    of the per-chunk volume operators."""
    for ax in axes:
        ua, va = (d for d in range(3) if d != ax)
        u, v = np.meshgrid(np.arange(*cut[ua], dtype=np.int64),
                           np.arange(*cut[va], dtype=np.int64),
                           indexing="ij")
        lo, hi = cut[ax]
        for side, (k, plane) in enumerate(((0, lo), (hi - lo - 1, hi))):
            sheet = tuple(k if d == ax else slice(None) for d in range(3))
            yield Face(ax, side, sheet, plane, u, v)
