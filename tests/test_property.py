"""Property-based tests (hypothesis) — the reference's own strategy is
randomized round-trip testing against an in-memory oracle
(test/BinDicts.jl, SURVEY §5); these generalize its hand-picked cases to
the whole input space: negative coordinates, odd offsets, ragged edges.

Pure lattice/key properties run hundreds of examples; the Spark
round-trip runs a handful (each example is a full write+cutout job).
"""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

import bigarrays_jl_spark.indexes as ix

coord = st.integers(min_value=-10_000, max_value=10_000)
extent = st.integers(min_value=1, max_value=500)
cs = st.integers(min_value=1, max_value=64)


@st.composite
def boxes(draw):
    los = [draw(coord) for _ in range(3)]
    return tuple((lo, lo + draw(extent)) for lo in los)


# -- key string round-trip (C7/C8: 0-based/1-based discipline, negatives) --

@given(boxes())
def test_chunk_key_roundtrip(box):
    assert ix.parse_chunk_key(ix.chunk_key(box)) == box


@given(boxes())
def test_chunk_key_gz_suffix(box):
    assert ix.parse_chunk_key(ix.chunk_key(box) + ".gz") == box


# -- chunk-id lattice properties (C2/C3/C6, fld for negatives) -------------

@given(coord, coord, cs)
def test_chunk_id_contains_coordinate(g, off, c):
    a = ix.lattice_anchor((off,), (c,))[0]
    cid = ix.chunk_id(g, a, c)
    lo, hi = ix.chunk_global_range(cid, a, c)
    assert lo <= g < hi
    assert (lo - a) % c == 0 and hi - lo == c


# -- chunk slicing tiles the request exactly (C1/C4/C5/P4/P5) --------------

small_coord = st.integers(min_value=-100, max_value=100)
small_extent = st.integers(min_value=1, max_value=48)


@st.composite
def small_boxes(draw):
    los = [draw(small_coord) for _ in range(3)]
    return tuple((lo, lo + draw(small_extent)) for lo in los)


@given(small_boxes(), st.lists(small_coord, min_size=3, max_size=3),
       st.lists(small_extent, min_size=3, max_size=3),
       st.lists(st.integers(1, 16), min_size=3, max_size=3))
@settings(max_examples=150, deadline=None)
def test_iter_chunk_slices_tiles_clamped_request(req, off, size, chunk):
    clamped = ix.intersect_box(req, ix.volume_box(off, size))
    covered = np.zeros(ix.box_shape(req), dtype=np.int32)
    for s in ix.iter_chunk_slices(req, off, size, chunk):
        # every yielded piece lies inside both the request and the volume
        for (lo, hi), (rlo, rhi) in zip(s.cutout_box, req):
            assert rlo <= lo < hi <= rhi
        sl = tuple(slice(lo - rlo, hi - rlo)
                   for (lo, hi), (rlo, _) in zip(s.cutout_box, req))
        covered[sl] += 1
        # in_chunk/in_buffer shapes agree with the global piece
        for (c0, c1), (b0, b1), (lo, hi) in zip(s.in_chunk, s.in_buffer,
                                                s.cutout_box):
            assert c1 - c0 == b1 - b0 == hi - lo
    if ix.box_is_empty(clamped):
        assert covered.sum() == 0
    else:
        inside = tuple(slice(lo - rlo, hi - rlo)
                       for (lo, hi), (rlo, _) in zip(clamped, req))
        mask = np.zeros_like(covered)
        mask[inside] = 1
        # exactly-once cover of the in-volume part, nothing outside
        assert (covered == mask).all()


# -- randomized Spark round-trip (the reference's e2e oracle pattern) ------

@settings(max_examples=3, deadline=None)
@given(st.data())
def test_volume_roundtrip_random_geometry(spark, tmp_path_factory, data):
    from bigarrays_jl_spark.infos import Info
    from bigarrays_jl_spark.volume import Volume

    rng = np.random.default_rng(data.draw(st.integers(0, 2**32 - 1)))
    c = data.draw(st.sampled_from([4, 8, 16]))
    vol_shape = [data.draw(st.integers(1, 3)) * c for _ in range(3)]
    offset = [data.draw(st.integers(-3, 3)) * c +
              data.draw(st.integers(-2, 2)) for _ in range(3)]
    dtype = data.draw(st.sampled_from(["uint8", "uint16", "float32"]))
    info = Info.from_dict({
        "num_channels": 1, "type": "image", "data_type": dtype,
        "scales": [{"encoding": "gzip", "chunk_sizes": [[c, c, c]],
                    "key": "1_1_1", "resolution": [1, 1, 1],
                    "voxel_offset": offset, "size": vol_shape}]})
    root = str(tmp_path_factory.mktemp("prop")) + "/vol"
    vol = Volume.create(spark, root, info)
    if dtype == "float32":
        arr = rng.random(size=tuple(vol_shape), dtype=np.float32)
    else:
        arr = rng.integers(0, np.iinfo(dtype).max, size=tuple(vol_shape),
                           dtype=dtype)
    vol.write(arr, tuple(offset))
    # full-volume cutout equals the written array
    box = tuple((o, o + s) for o, s in zip(offset, vol_shape))
    out, origin = vol.cutout(box)
    assert origin == tuple(offset)
    assert (out == arr).all()
    # a random interior sub-box matches the numpy slice oracle
    x0 = [data.draw(st.integers(0, s - 1)) for s in vol_shape]
    x1 = [data.draw(st.integers(lo + 1, s)) for lo, s in zip(x0, vol_shape)]
    sub_box = tuple((o + a, o + b) for o, a, b in zip(offset, x0, x1))
    got, _ = vol.cutout(sub_box)
    want = arr[tuple(slice(a, b) for a, b in zip(x0, x1))]
    assert (got == want).all()


@settings(max_examples=8, deadline=None)
@given(st.lists(st.integers(0, 20), min_size=1, max_size=50),
       st.integers(2, 6))
def test_distributed_ntile_matches_builtin(spark, values, n_tiles):
    # the scale-safe distributed rank + split formula must agree with
    # Spark's own ntile window on any input, including heavy ties and
    # n < n_tiles (integer values cast to double force tie handling
    # through the range-bucket path)
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from bigarrays_jl_spark.operators.advanced import distributed_ntile
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(values)], "id int, v double")
    got = {(r.id, r.tile) for r in
           distributed_ntile(spark, df, n_tiles, "v", "id").collect()}
    w = W.orderBy("v", "id")
    want = {(r.id, r.tile) for r in
            df.withColumn("tile", F.ntile(n_tiles).over(w)).collect()}
    assert got == want


@settings(max_examples=8, deadline=None)
@given(st.lists(st.tuples(st.sampled_from(["en", "fr", "de"]),
                          st.integers(0, 10)), min_size=1, max_size=60),
       st.integers(2, 4))
def test_grouped_ntile_matches_builtin(spark, rows, n_tiles):
    # the grouped two-phase rank must agree with the per-group ntile
    # window on any input — heavy ties, singleton groups, n < n_tiles
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from bigarrays_jl_spark.operators.ordering import grouped_ntile
    df = spark.createDataFrame(
        [(i, g, float(v)) for i, (g, v) in enumerate(rows)],
        "id int, g string, v double")
    got = {(r.id, r.tile) for r in
           grouped_ntile(spark, df, n_tiles, "g", "v", "id").collect()}
    w = W.partitionBy("g").orderBy("v", "id")
    want = {(r.id, r.tile) for r in
            df.withColumn("tile", F.ntile(n_tiles).over(w)).collect()}
    assert got == want


@settings(max_examples=50, deadline=None)
@given(st.integers(0, 2**16 - 1),
       st.sets(st.integers(0, 15), min_size=0, max_size=2))
def test_phash_band_superset_guarantee(base, flips):
    # the discovery guarantee mm_phash_neardup relies on: any pair
    # within Hamming distance 2 of a 16-bit hash shares at least one of
    # the four 4-bit bands (2 errors can break at most 2 of 4 bands),
    # so the band join's candidate set is a strict superset of every
    # true match — no verification step can be starved by discovery
    other = base
    for f in flips:
        other ^= 1 << f
    bands = lambda h: [(h >> (4 * b)) & 15 for b in range(4)]
    assert any(x == y for x, y in zip(bands(base), bands(other)))


def test_grouped_ntile_rejects_null_tiebreak_and_sep_group(spark):
    # NULL tiebreaks order differently across engines (Spark NULLS FIRST
    # asc, DuckDB NULLS LAST) and \x1f in a string group collides with
    # the internal offset-map key — both must raise, not silently skew
    import pytest
    from bigarrays_jl_spark.operators.ordering import grouped_ntile
    df = spark.createDataFrame(
        [(1, "en", 1.0), (None, "en", 2.0)], "id int, g string, v double")
    with pytest.raises(ValueError, match="non-null 'id'"):
        grouped_ntile(spark, df, 2, "g", "v", "id").collect()
    df2 = spark.createDataFrame(
        [(1, "en\x1fx", 1.0), (2, "fr", 2.0)], "id int, g string, v double")
    with pytest.raises(ValueError, match="separator"):
        grouped_ntile(spark, df2, 2, "g", "v", "id").collect()


@settings(max_examples=100, deadline=None)
@given(st.integers(1, 6), st.integers(1, 4), st.integers(-20, 20),
       st.integers(1, 80))
def test_rechunk_split_nesting_invariant(dst_c, ratio, offset, size):
    # the invariant Volume.rechunk's shuffle-free split path relies on:
    # with dividing chunk sizes and a SHARED voxel_offset (anchors need
    # not be equal — both derive as offset mod their own size, so every
    # coarse boundary ≡ offset mod the finer size and is itself a fine
    # boundary), every dest chunk box ∩ volume lies wholly inside
    # exactly ONE (clamped) source chunk box — a source chunk can emit
    # each sub-chunk from its own payload alone, no neighbors, no
    # shuffle
    from bigarrays_jl_spark import indexes as ix
    src_c = dst_c * ratio
    anchor_s = ix.lattice_anchor([offset], [src_c])[0]
    anchor_d = ix.lattice_anchor([offset], [dst_c])[0]
    vol_lo, vol_hi = offset, offset + size
    for dc in range(ix.chunk_id(vol_lo, anchor_d, dst_c),
                    ix.chunk_id(vol_hi - 1, anchor_d, dst_c) + 1):
        d_lo, d_hi = ix.chunk_global_range(dc, anchor_d, dst_c)
        d_lo, d_hi = max(d_lo, vol_lo), min(d_hi, vol_hi)
        if d_hi <= d_lo:
            continue
        owners = {ix.chunk_id(g, anchor_s, src_c)
                  for g in (d_lo, d_hi - 1)}
        assert len(owners) == 1, (
            f"dest chunk [{d_lo},{d_hi}) straddles source chunks "
            f"{owners} (src_c={src_c}, dst_c={dst_c}, offset={offset})")


# -- debounce chain semantics vs pure-Python greedy walk (r8) --------------

@settings(max_examples=8, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 3),            # user
                          st.integers(0, 1),            # type
                          st.integers(0, 2000)),        # epoch seconds
                min_size=1, max_size=60))
def test_debounce_matches_chain_walk(spark, raw):
    import datetime as dt

    from bigarrays_jl_spark.operators.debounce import debounce
    tol = 100
    rows = [(i, u, f"t{t}",
             dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s))
            for i, (u, t, s) in enumerate(raw)]
    e = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp")
    kept = {r["event_id"]
            for r in debounce(e, tolerance_s=tol).collect()}
    expected = set()
    streams = {}
    for i, (u, t, s) in enumerate(raw):
        streams.setdefault((u, t), []).append((s, i))
    for rs in streams.values():
        rs.sort()
        prev = None
        for s, i in rs:
            if prev is None or s - prev > tol:
                expected.add(i)
            prev = s
    assert kept == expected


@given(st.integers(min_value=1, max_value=10**13))
def test_band_bits_keeps_occupancy_constant(n):
    # the LSH sizing rule (similarity.band_bits_for): expected bucket
    # occupancy n / 2**bits stays O(1) as the corpus grows — inside the
    # clamp range it is <= target, and never more than 2x target tighter
    # (so buckets aren't absurdly over-split either)
    from bigarrays_jl_spark.operators.similarity import (
        TARGET_BUCKET_OCCUPANCY, band_bits_for)
    bits = band_bits_for(n)
    assert 8 <= bits <= 40
    occ = n / 2.0 ** bits
    if bits < 40:                       # not clamped at the planet-scale cap
        assert occ <= TARGET_BUCKET_OCCUPANCY
    if bits > 8:                        # not clamped at the tiny-corpus floor
        # one fewer bit would have violated the target → not over-split
        assert n / 2.0 ** (bits - 1) > TARGET_BUCKET_OCCUPANCY


def test_band_bits_monotone_and_pinned():
    from bigarrays_jl_spark.operators.similarity import BAND_BITS, band_bits_for
    assert BAND_BITS == band_bits_for(2000) == 12  # testdata anchor: hashes frozen
    prev = 0
    for e in range(14):
        b = band_bits_for(10 ** e)
        assert b >= prev
        prev = b


# -- blosclz encoder round-trip over adversarial byte streams ------------

@settings(max_examples=60, deadline=None)
@given(st.binary(min_size=0, max_size=4000),
       st.integers(min_value=1, max_value=17),
       st.integers(min_value=0, max_value=3))
def test_blosclz_compress_roundtrip_property(data, typesize, motif):
    """compress→decompress is the identity for ANY byte string and
    typesize, including repeated-motif inputs that stress the match
    emitter's length-extension and RLE paths."""
    from bigarrays_jl_spark import blosclz
    if motif and data:
        data = (data * (motif * 40))[:120_000]
    frame = blosclz.compress(data, typesize=typesize)
    assert blosclz.decompress(frame) == data


@settings(max_examples=30, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 3),            # group
                          st.integers(-5000, 5000),     # value
                          st.integers(1, 50)),          # weight
                min_size=1, max_size=300),
       st.sampled_from([(1, 2), (1, 20), (19, 20), (1, 10), (9, 10),
                        (1, 4), (3, 4)]))
def test_bucketed_quantile_pick_equals_python_oracle(cells, numden):
    """den·cum ≥ num·tot picks from the bucketed two-level plan equal
    a pure-Python cumulative scan for arbitrary grouped histograms."""
    from collections import defaultdict

    from bigarrays_jl_spark.operators.ordering import bucketed_quantile_pick
    from bigarrays_jl_spark.session import get_spark
    num, den = numden
    # collapse duplicate (group, value) rows like a real histogram
    agg = defaultdict(int)
    for g, v, w in cells:
        agg[(g, v)] += w
    rows = [(g, v, w) for (g, v), w in agg.items()]
    spark = get_spark("prop-quantile")
    hist = spark.createDataFrame(rows, "g int, v long, w long")
    got = {r["g"]: r["q"] for r in
           bucketed_quantile_pick(hist, "g", "v", "w", num, den, "q",
                                  n_buckets=7).collect()}
    want = {}
    for g in {g for g, _, _ in rows}:
        pts = sorted((v, w) for gg, v, w in rows if gg == g)
        tot = sum(w for _, w in pts)
        cum = 0
        for v, w in pts:
            cum += w
            if den * cum >= num * tot:
                want[g] = v
                break
    assert got == want


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 2 ** 24 - 1),
                          st.sampled_from([1, 2, 4])),
                min_size=2, max_size=40))
def test_ares_integer_keys_order_embed_float_priorities(pairs):
    """The sampler's exact integer keys U^(4/w)·2^(96−24·(4/w)) must
    rank identically to the textbook A-RES float priority u^(1/w)
    (u = U/2²⁴) — the order-embedding claim
    estimation.sample_weighted_exact rests on."""
    import math
    def int_key(u, w):
        e = 4 // w
        return (u ** e) * (1 << (96 - 24 * e))
    def float_key(u, w):
        return math.pow(u / 2.0 ** 24, 1.0 / w)
    ints = sorted(range(len(pairs)),
                  key=lambda i: (int_key(*pairs[i]), i))
    floats = sorted(range(len(pairs)),
                    key=lambda i: (float_key(*pairs[i]), i))
    # strict order must agree wherever float priorities are distinct;
    # compare via the exact keys of the float-sorted sequence being
    # non-decreasing (ties in float can permute equal-exact keys only)
    int_seq = [int_key(*pairs[i]) for i in floats]
    assert all(a <= b for a, b in zip(int_seq, int_seq[1:])), \
        (pairs, ints, floats)


# -- bucketed_running ≡ naive whole-table window (r13) -----------------------

@settings(max_examples=12, deadline=None)
@given(st.lists(st.tuples(st.integers(-1000, 1000),   # value
                          st.integers(0, 50),         # w1 (sum weight)
                          st.integers(-99, 99)),      # m  (max candidate)
                min_size=1, max_size=60,
                unique_by=lambda t: t[0]),
       st.integers(2, 9))                              # bucket count
def test_bucketed_running_equals_naive_window(spark, rows, n_buckets):
    """The two-level rewrite is bit-identical to the single-partition
    window it replaced, for every (kind, inclusive) spec combination,
    on arbitrary unique-valued integer histograms and tiny bucket
    counts (maximizing bucket-boundary crossings)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from bigarrays_jl_spark.operators.ordering import bucketed_running

    df = spark.createDataFrame(rows, "v long, w1 long, m long")
    got = {r.v: (r.s_in, r.s_ex, r.m_in, r.m_ex)
           for r in bucketed_running(
               df, "v",
               [("s_in", "w1", "sum", True),
                ("s_ex", "w1", "sum", False),
                ("m_in", "m", "max", True),
                ("m_ex", "m", "max", False)],
               n_buckets=n_buckets).collect()}
    cum_in = W.orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    cum_ex = W.orderBy("v").rowsBetween(W.unboundedPreceding, -1)
    want = {r.v: (r.s_in, r.s_ex, r.m_in, r.m_ex)
            for r in df.select(
                "v",
                F.sum("w1").over(cum_in).alias("s_in"),
                F.coalesce(F.sum("w1").over(cum_ex), F.lit(0))
                 .alias("s_ex"),
                F.max("m").over(cum_in).alias("m_in"),
                F.max("m").over(cum_ex).alias("m_ex")).collect()}
    assert got == want


# -- local-IO fast path parity (r17): writer x reader x geometry -----------

@settings(max_examples=3, deadline=None)
@given(st.data())
def test_local_and_spark_paths_agree_random_geometry(spark,
                                                     tmp_path_factory,
                                                     data):
    # the driver-local pyarrow path and the Spark path must return the
    # SAME voxels for any geometry, whichever side wrote the chunks —
    # the property form of tests/test_local_io.py's fixed cases
    from bigarrays_jl_spark.infos import Info
    from bigarrays_jl_spark.volume import Volume

    rng = np.random.default_rng(data.draw(st.integers(0, 2**32 - 1)))
    c = data.draw(st.sampled_from([4, 8, 16]))
    vol_shape = [data.draw(st.integers(1, 3)) * c for _ in range(3)]
    offset = [data.draw(st.integers(-3, 3)) * c +
              data.draw(st.integers(-2, 2)) for _ in range(3)]
    enc = data.draw(st.sampled_from(["raw", "gzip"]))
    info = Info.from_dict({
        "num_channels": 1, "type": "image", "data_type": "uint16",
        "scales": [{"encoding": enc, "chunk_sizes": [[c, c, c]],
                    "key": "1_1_1", "resolution": [1, 1, 1],
                    "voxel_offset": offset, "size": vol_shape}]})
    root = str(tmp_path_factory.mktemp("prop_lio")) + "/vol"
    vol = Volume.create(spark, root, info)
    vol.local_io = data.draw(st.booleans())          # random writer
    arr = rng.integers(0, 2**16, size=tuple(vol_shape), dtype="uint16")
    vol.write(arr, tuple(offset))
    # random sub-box (may poke outside the volume: zero-fill territory)
    x0 = [data.draw(st.integers(-2, s - 1)) for s in vol_shape]
    x1 = [data.draw(st.integers(lo + 1, s + 2)) for lo, s in zip(x0, vol_shape)]
    box = tuple((o + a, o + b) for o, a, b in zip(offset, x0, x1))
    vol.local_io = True
    got_local, o1 = vol.cutout(box)
    vol.local_io = False
    got_spark, o2 = vol.cutout(box)
    assert o1 == o2 and (got_local == got_spark).all()
    # and both equal the zero-padded numpy oracle
    want = np.zeros(ix.box_shape(box), dtype="uint16")
    il = [max(0, a) for a in x0]
    ih = [min(s, b) for s, b in zip(vol_shape, x1)]
    if all(lo < hi for lo, hi in zip(il, ih)):
        dst = tuple(slice(lo - a, hi - a)
                    for lo, hi, a in zip(il, ih, x0))
        want[dst] = arr[tuple(slice(lo, hi) for lo, hi in zip(il, ih))]
    assert (got_local == want).all()
