"""Index/lattice unit tests — mirrors reference test/Indexes.jl plus the
negative-coordinate and offset-anchoring behaviors from test/BinDicts.jl."""

import pytest

from bigarrays_jl_spark import indexes as ix


def test_key_roundtrip_reference_fixture():
    # F4: "2968-3480_1776-2288_16912-17424" ↔ Julia [2969:3480,...] which is
    # 0-based half-open ((2968,3480),(1776,2288),(16912,17424))
    box = ((2968, 3480), (1776, 2288), (16912, 17424))
    key = ix.chunk_key(box)
    assert key == "2968-3480_1776-2288_16912-17424"
    assert ix.parse_chunk_key(key) == box


def test_key_negative_and_gz_suffix():
    box = ((-1024, -896), (-1024, -896), (1428, 1429))
    key = ix.chunk_key(box)
    assert key == "-1024--896_-1024--896_1428-1429"
    assert ix.parse_chunk_key(key) == box
    assert ix.parse_chunk_key(key + ".gz") == box


def test_parse_malformed_key():
    with pytest.raises(ValueError):
        ix.parse_chunk_key("not-a-key")


def test_chunk_id_negative_coords():
    # floor division semantics (src/Indexes.jl:41-45): g=-1 in chunk -1
    assert ix.chunk_id(-1, 0, 100) == -1
    assert ix.chunk_id(0, 0, 100) == 0
    assert ix.chunk_id(-100, 0, 100) == -1
    assert ix.chunk_id(-101, 0, 100) == -2


def test_lattice_anchor_mod():
    # offset (-300,-300,-10), chunk (100,100,5) → anchor (0,0,0)
    assert ix.lattice_anchor((-300, -300, -10), (100, 100, 5)) == (0, 0, 0)
    # non-multiple offset: -597 % 100 == 3 in python (non-negative)
    assert ix.lattice_anchor((-597, -597, -103), (100, 100, 5)) == (3, 3, 2)


def test_chunk_global_range_roundtrip():
    for cid in (-3, -1, 0, 2):
        lo, hi = ix.chunk_global_range(cid, 3, 100)
        assert hi - lo == 100
        assert ix.chunk_id(lo, 3, 100) == cid
        assert ix.chunk_id(hi - 1, 3, 100) == cid


def test_iter_chunk_slices_basic():
    # volume offset (0,0,0) size (510,510,2022), chunk (100,100,5)
    slices = list(ix.iter_chunk_slices(
        ((0, 200), (0, 200), (0, 10)), (0, 0, 0), (510, 510, 2022), (100, 100, 5)))
    assert len(slices) == 2 * 2 * 2
    # buffer coverage is exactly the request
    covered = set()
    for s in slices:
        for bx in range(*s.in_buffer[0]):
            covered.add(bx)
    assert covered == set(range(200))


def test_iter_chunk_slices_volume_clamp():
    # request crossing volume stop: edge chunk clamped (P5/W5 semantics)
    slices = list(ix.iter_chunk_slices(
        ((400, 600), (0, 100), (0, 5)), (0, 0, 0), (510, 510, 2022), (100, 100, 5)))
    # chunks 4 ([400,500)) and 5 ([500,510) clamped); chunk 6 is out-of-volume
    assert len(slices) == 2
    edge = [s for s in slices if s.cid[0] == 5][0]
    assert edge.chunk_box[0] == (500, 510)
    assert edge.key == "500-510_0-100_0-5"


def test_iter_chunk_slices_out_of_volume_empty():
    slices = list(ix.iter_chunk_slices(
        ((1000, 1100), (0, 100), (0, 5)), (0, 0, 0), (510, 510, 2022), (100, 100, 5)))
    assert slices == []


def test_iter_chunk_slices_negative_offset():
    # F1 mip-1 geometry: offset (-300,-300,-10)
    slices = list(ix.iter_chunk_slices(
        ((-200, 0), (-100, 100), (-5, 1995)),
        (-300, -300, -10), (510, 510, 2022), (100, 100, 5)))
    assert len(slices) == 2 * 2 * 400
    assert all(s.chunk_box[0][0] >= -300 for s in slices)


def test_normalize_index():
    vol = ((0, 510), (0, 510), (0, 2022))
    assert ix.normalize_index((slice(0, 200), slice(0, 200), slice(0, 10)), vol) \
        == ((0, 200), (0, 200), (0, 10))
    assert ix.normalize_index((slice(None), slice(None), 5), vol) \
        == ((0, 510), (0, 510), (5, 6))
    with pytest.raises(IndexError):
        ix.normalize_index((slice(0, 1, 2), slice(None), slice(None)), vol)


@pytest.mark.parametrize("a, b, want", [
    ((0, 10), (5, 20), (0, 20)),                # overlapping
    ((0, 5), (10, 15), (0, 15)),                # disjoint: the gap is inside
    ((0, 100), (10, 20), (0, 100)),             # nested
    ((-300, -200), (-250, -100), (-300, -100)),  # negative, overlapping
    ((-5, -1), (2, 4), (-5, 4)),                # disjoint across zero
    ((-10, 10), (-3, 3), (-10, 10)),            # nested around zero
])
def test_union_range_is_the_bounding_range(a, b, want):
    # src/Indexes.jl:111-118: min of the starts to max of the stops,
    # whether the ranges meet or not
    assert ix.union_range(a, b) == want
    assert ix.union_range(b, a) == want


def _random_cuts(rng):
    """A random volume (negative voxel_offset, chunk sizes that leave
    clamped edge chunks), a random request box inside it and the cuts
    of the chunks that meet the request."""
    chunk = [int(rng.integers(1, 5)) for _ in range(3)]
    size = [int(rng.integers(2, 12)) for _ in range(3)]
    offset = [int(rng.integers(-9, 3)) for _ in range(3)]
    vol = ix.volume_box(offset, size)
    req = []
    for lo, hi in vol:
        a, b = sorted(rng.choice(range(lo, hi + 1), 2, replace=False))
        req.append((int(a), int(b)))
    req = tuple(req)
    cuts = [cs.cutout_box
            for cs in ix.iter_chunk_slices(req, offset, size, chunk)]
    labels = rng.integers(0, 4, size)
    return vol, req, cuts, labels, ix.lattice_anchor(offset, chunk), chunk


def _chunk_of(p, anchor, chunk):
    return tuple(ix.chunk_id(g, a, c) for g, a, c in zip(p, anchor, chunk))


def _neighbour_pairs(req):
    """Every 6-neighbour voxel pair ``(p, p + e_axis)`` inside ``req``,
    by brute force."""
    import itertools
    for p in itertools.product(*(range(lo, hi) for lo, hi in req)):
        for ax in range(3):
            q = list(p)
            q[ax] += 1
            if q[ax] < req[ax][1]:
                yield ax, p, tuple(q)


@pytest.mark.parametrize("seed", range(40))
def test_chunk_faces_pair_exactly_the_straddling_neighbours(seed):
    """Grouping every chunk's face cells by ``(axis, plane, u, v)``
    pairs exactly the 6-neighbour voxel pairs inside the request that
    straddle two chunks, each pair once, one cell from each side; and
    ``axis_pairs`` yields exactly the pairs inside one chunk."""
    import numpy as np
    rng = np.random.default_rng(seed)
    vol, req, cuts, labels, anchor, chunk = _random_cuts(rng)
    origin = [lo for lo, _ in vol]
    cells, inside = {}, []
    for cut in cuts:
        block = labels[ix.box_slices(cut, vol)]
        grid = np.meshgrid(*(np.arange(lo, hi) for lo, hi in cut),
                           indexing="ij")
        for f in ix.chunk_faces(cut):
            own = [g[f.sheet] for g in grid]
            assert (own[f.axis] == f.plane - f.side).all()
            uv = [o for d, o in enumerate(own) if d != f.axis]
            assert (uv[0] == f.u).all() and (uv[1] == f.v).all()
            for p, val in zip(zip(*(o.ravel().tolist() for o in own)),
                              block[f.sheet].ravel().tolist()):
                uv = tuple(c for d, c in enumerate(p) if d != f.axis)
                cells.setdefault((f.axis, f.plane, *uv), []).append(
                    (f.side, p, val))
        for ax, lo, hi in ix.axis_pairs(block.shape):
            assert block.shape[ax] >= 2
            for a, b in zip(zip(*(g[lo].ravel().tolist() for g in grid)),
                            zip(*(g[hi].ravel().tolist() for g in grid))):
                inside.append((ax, a, b))
    paired = []
    for (ax, plane, *_), sides in cells.items():
        assert len(sides) <= 2
        if len(sides) == 2:
            (s0, p0, v0), (s1, p1, v1) = sorted(sides)
            assert (s0, s1) == (0, 1)
            assert p1[ax] == plane - 1 and p0[ax] == plane
            # the two cells carry the labels of the pair they stand for
            assert (v1, v0) == (labels[tuple(np.subtract(p1, origin))],
                                labels[tuple(np.subtract(p0, origin))])
            paired.append((ax, p1, p0))
    want_cross, want_inside = [], []
    for ax, p, q in _neighbour_pairs(req):
        same = _chunk_of(p, anchor, chunk) == _chunk_of(q, anchor, chunk)
        (want_inside if same else want_cross).append((ax, p, q))
    assert sorted(paired) == sorted(want_cross)
    assert len(set(paired)) == len(paired)
    assert sorted(inside) == sorted(want_inside)
    assert len(set(inside)) == len(inside)


def test_axis_pairs_skip_single_voxel_axes():
    assert [ax for ax, _, _ in ix.axis_pairs((1, 3, 2))] == [1, 2]
    assert [ax for ax, _, _ in ix.axis_pairs((4, 3, 2), axes=(2,))] == [2]


def test_chunk_faces_plane_convention():
    """``plane`` is the first voxel on the high side of the boundary:
    the face's own coordinate on the low face, one past it on the high
    face; ``u``, ``v`` are global coordinates in axis order."""
    faces = list(ix.chunk_faces(((-4, 0), (2, 5), (7, 8))))
    assert [(f.axis, f.side, f.plane) for f in faces] == [
        (0, 0, -4), (0, 1, 0), (1, 0, 2), (1, 1, 5), (2, 0, 7), (2, 1, 8)]
    f = faces[3]
    assert f.sheet == (slice(None), 2, slice(None))
    assert f.u[:, 0].tolist() == [-4, -3, -2, -1]
    assert f.v[0].tolist() == [7]
