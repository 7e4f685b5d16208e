"""Round-10 eleventh batch: histogram equalization over map_blocks,
RFM segmentation, QQ quantile drift."""
import numpy as np

from bigarrays_jl_spark.operators.statistics import (q84_rfm_segments,
                                                     q85_qq_drift)
from bigarrays_jl_spark.operators.volume_analytics import (
    equalize_volume, volume_equalized_histogram)
from bigarrays_jl_spark.sources.tables import load


def _demo_array():
    x, y, z = np.meshgrid(np.arange(64), np.arange(64), np.arange(64),
                          indexing="ij")
    return ((x * 31 + y * 7 + z) % 256).astype(np.uint8)


def _equalize(arr):
    counts = np.bincount(arr.ravel(), minlength=256).astype(np.int64)
    cdf = np.cumsum(counts)
    n = int(cdf[-1])
    cdf_min = int(cdf[counts.nonzero()[0][0]])
    lut = ((cdf - cdf_min) * 255 // (n - cdf_min)).astype(np.uint8)
    lut[counts == 0] = 0
    return lut[arr]


def test_equalized_histogram_matches_numpy(spark, sf_dir):
    got = {r["eq_value"]: r["n_voxels"]
           for r in volume_equalized_histogram(spark, sf_dir).collect()}
    eq = _equalize(_demo_array())
    vals, counts = np.unique(eq, return_counts=True)
    assert got == {int(v): int(c) for v, c in zip(vals, counts)}
    # equalization stretches to the full dtype range
    assert min(got) == 0 and max(got) == 255


def test_equalized_volume_bytes_match_numpy(spark, sf_dir):
    vol = equalize_volume(spark)
    cut = vol[5:40, 10:30, 0:64]
    want = _equalize(_demo_array())[5:40, 10:30, 0:64]
    assert cut.shape[:3] == want.shape
    assert np.array_equal(np.asarray(cut)[..., 0]
                          if np.asarray(cut).ndim == 4 else np.asarray(cut),
                          want)


def _ntile3(items):
    """DuckDB/Spark ntile floor distribution over a pre-sorted list."""
    n = len(items)
    base, extra = divmod(n, 3)
    out = {}
    i = 0
    for b in range(3):
        size = base + (1 if b < extra else 0)
        for it in items[i:i + size]:
            out[it] = b + 1
        i += size
    return out


def test_rfm_matches_python(spark, sf_dir):
    got = {(r["r"], r["f"], r["m"]): r["n_users"]
           for r in q84_rfm_segments(spark, sf_dir).collect()}
    per = {}
    for r in load(spark, sf_dir, "events").collect():
        if r["event_type"] != "purchase":
            continue
        day = int(r["ts"].timestamp()) // 86400
        cents = int(round(r["value"] * 100))
        d, f, m = per.get(r["user_id"], (None, 0, 0))
        per[r["user_id"]] = (day if d is None else max(d, day),
                             f + 1, m + cents)
    ref = max(v[0] for v in per.values())
    users = list(per)
    rb = _ntile3(sorted(users, key=lambda u: (ref - per[u][0], u)))
    fb = _ntile3(sorted(users, key=lambda u: (-per[u][1], u)))
    mb = _ntile3(sorted(users, key=lambda u: (-per[u][2], u)))
    want = {}
    for u in users:
        k = (rb[u], fb[u], mb[u])
        want[k] = want.get(k, 0) + 1
    assert got == want
    assert sum(got.values()) == len(users)


def test_qq_drift_matches_python(spark, sf_dir):
    got = {r["qn"]: (r["price_a"], r["price_r"], r["gap_cents"])
           for r in q85_qq_drift(spark, sf_dir).collect()}
    per = {"A": [], "R": []}
    for r in load(spark, sf_dir, "lineitem").collect():
        if r["l_returnflag"] in per:
            per[r["l_returnflag"]].append(
                int(round(r["l_extendedprice"] * 100)))
    for xs in per.values():
        xs.sort()

    def q(xs, qn):
        """Smallest v whose cumulative count (at v's LAST occurrence)
        satisfies 20·cum ≥ qn·tot — the histogram rule verbatim."""
        tot = len(xs)
        i = 0
        while i < len(xs):
            j = i
            while j < len(xs) and xs[j] == xs[i]:
                j += 1
            cum = j
            if 20 * cum >= qn * tot:
                return xs[i]
            i = j
        raise AssertionError

    for qn in range(1, 20):
        a, r = q(per["A"], qn), q(per["R"], qn)
        assert got[qn] == (a, r, r - a), qn
    assert len(got) == 19
    # quantiles are monotone in qn for both populations
    for qn in range(2, 20):
        assert got[qn][0] >= got[qn - 1][0]
        assert got[qn][1] >= got[qn - 1][1]
