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
