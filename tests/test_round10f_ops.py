"""Round-10 sixth batch: ECDF quantile screen and winsorized mean."""
import numpy as np

from bigarrays_jl_spark.operators.similarity import EMB_Q
from bigarrays_jl_spark.operators.statistics import (q71_quantile_screen,
                                                     q72_winsorized_mean)
from bigarrays_jl_spark.sources.tables import load


def test_quantile_screen_matches_numpy(spark, sf_dir):
    got = {(r["label"], r["dim_bucket"]): (r["n_elems"], r["mean_pct"])
           for r in q71_quantile_screen(spark, sf_dir).collect()}
    rows = load(spark, sf_dir, "embeddings") \
        .select("label", "embedding").collect()
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    XI = np.rint(X * EMB_Q).astype(np.int64)
    labels = np.array([r["label"] for r in rows])
    n, dim = XI.shape
    want = {}
    for i in range(dim):
        col = XI[:, i]
        order = np.sort(col)
        # ECDF: cum count of values <= x
        cum = np.searchsorted(order, col, side="right")
        for lab in np.unique(labels):
            m = labels == lab
            key = (int(lab), i % 8)
            s, c = want.get(key, (0, 0))
            want[key] = (s + int(cum[m].sum()), c + int(m.sum()))
    for key, (s, c) in want.items():
        assert got[key][0] == c
        assert abs(got[key][1] - s / (c * n)) < 1e-12, key
    assert set(got) == set(want)
    # percentiles are percentiles: every mean in (0, 1)
    assert all(0.0 < v[1] < 1.0 for v in got.values())


def test_winsorized_mean_matches_python(spark, sf_dir):
    got = {r["l_returnflag"]:
           (r["n"], r["fence_lo"], r["fence_hi"],
            r["winsorized_mean"], r["n_clamped"])
           for r in q72_winsorized_mean(spark, sf_dir).collect()}
    per_flag = {}
    for r in load(spark, sf_dir, "lineitem").collect():
        per_flag.setdefault(r["l_returnflag"], []).append(
            int(round(r["l_extendedprice"] * 100)))
    for f, xs in per_flag.items():
        xs.sort()
        tot = len(xs)

        def lq(num, den):
            cum = 0
            for v in sorted(set(xs)):
                cum += sum(1 for x in xs if x == v)
                if den * cum >= num * tot:
                    return v
            raise AssertionError

        lo, hi = lq(1, 20), lq(19, 20)
        cl = [min(max(x, lo), hi) for x in xs]
        wm = sum(cl) / tot / 100.0
        ncl = sum(1 for x in xs if x < lo or x > hi)
        n, flo, fhi, gwm, gncl = got[f]
        assert (n, flo, fhi, gncl) == (tot, lo / 100.0, hi / 100.0, ncl)
        assert abs(gwm - wm) < 1e-9
        # winsorizing clamps a real tail but not the bulk
        assert 0 < ncl < tot / 2
    assert set(got) == set(per_flag)
