"""Round-10 ninth batch: LPA communities, Welch t-test, CUPED,
two-volume ROI overlay."""
import numpy as np

from bigarrays_jl_spark.operators.events import VQ
from bigarrays_jl_spark.operators.graph import LPA_ROUNDS, graph_lpa_lsh
from bigarrays_jl_spark.operators.statistics import q80_welch_ttest, q81_cuped
from bigarrays_jl_spark.operators.volume_seg import (ROI_BOX, SEG_BLOCK,
                                                     volume_roi_stats)
from bigarrays_jl_spark.operators.similarity import sim_lsh_pairs
from bigarrays_jl_spark.sources.tables import load


def test_lpa_matches_python_sync_rounds(spark, sf_dir):
    got = {r["community"]: (r["n_members"], r["min_member"])
           for r in graph_lpa_lsh(spark, sf_dir).collect()}
    edges = {}
    for r in sim_lsh_pairs(spark, sf_dir).collect():
        edges.setdefault(r["vec_a"], []).append(r["vec_b"])
        edges.setdefault(r["vec_b"], []).append(r["vec_a"])
    lab = {n: n for n in edges}
    for _ in range(LPA_ROUNDS):
        new = {}
        for n, nbrs in edges.items():
            cnt = {}
            for v in nbrs:
                cnt[lab[v]] = cnt.get(lab[v], 0) + 1
            new[n] = min(cnt, key=lambda k: (-cnt[k], k))
        lab = new
    want = {}
    for n, c in lab.items():
        sz, mn = want.get(c, (0, None))
        want[c] = (sz + 1, n if mn is None else min(mn, n))
    assert got == want
    # propagation actually merged something: fewer communities than nodes
    assert len(got) < len(edges)


def test_welch_matches_python(spark, sf_dir):
    got = {r["event_type"]: r for r in
           q80_welch_ttest(spark, sf_dir).collect()}
    per = {}
    for r in load(spark, sf_dir, "events").collect():
        per.setdefault(r["event_type"], ([], []))[
            int(r["user_id"] % 2)].append(int(round(r["value"] * VQ)))
    for t, (a0, a1) in per.items():
        n0, n1 = len(a0), len(a1)
        m0, m1 = sum(a0) / n0, sum(a1) / n1
        v0 = (sum(x * x for x in a0) - sum(a0) ** 2 / n0) / (n0 - 1)
        v1 = (sum(x * x for x in a1) - sum(a1) ** 2 / n1) / (n1 - 1)
        se2 = v0 / n0 + v1 / n1
        tstat = (m1 - m0) / se2 ** 0.5
        df = se2 ** 2 / ((v0 / n0) ** 2 / (n0 - 1)
                         + (v1 / n1) ** 2 / (n1 - 1))
        g = got[t]
        assert (g["n0"], g["n1"]) == (n0, n1)
        assert abs(g["mean_diff"] - (m1 - m0) / VQ) < 1e-9
        assert abs(g["t_stat"] - tstat) < 1e-6
        assert abs(g["welch_df"] - df) / df < 1e-6
        # Welch df lies between min(n)-1 and n0+n1-2
        assert min(n0, n1) - 1 <= g["welch_df"] <= n0 + n1 - 2
    assert set(got) == set(per)


def test_cuped_matches_python_and_reduces_variance(spark, sf_dir):
    got = {r["arm"]: r for r in q81_cuped(spark, sf_dir).collect()}
    users = {}
    for r in load(spark, sf_dir, "events").collect():
        x, y = users.get(r["user_id"], (0, 0))
        vi = int(round(r["value"] * VQ))
        if r["event_type"] == "view":
            x += vi
        elif r["event_type"] == "purchase":
            y += vi
        users[r["user_id"]] = (x, y)
    xs = np.array([v[0] for v in users.values()], dtype=np.float64)
    ys = np.array([v[1] for v in users.values()], dtype=np.float64)
    arms = np.array([u % 2 for u in users], dtype=np.int64)
    theta = (np.cov(xs, ys, bias=True)[0, 1] / xs.var())
    for a in (0, 1):
        m = arms == a
        g = got[a]
        assert g["n_users"] == int(m.sum())
        assert abs(g["mean_post"] - ys[m].mean() / VQ) < 1e-6
        adj = ys[m].mean() - theta * (xs[m].mean() - xs.mean())
        assert abs(g["mean_adjusted"] - adj / VQ) < 1e-6
        assert abs(g["theta"] - theta) / abs(theta) < 1e-6
    # the adjustment conserves the pooled mean: Σ n_a·(adj − post) ≈ 0
    drift = sum(got[a]["n_users"]
                * (got[a]["mean_adjusted"] - got[a]["mean_post"])
                for a in (0, 1))
    pooled = sum(got[a]["n_users"] * got[a]["mean_post"] for a in (0, 1))
    assert abs(drift) < 1e-6 * max(1.0, abs(pooled))


def test_roi_stats_match_numpy(spark, sf_dir):
    got = {r["label"]: r for r in
           volume_roi_stats(spark, sf_dir).collect()}
    (x0, x1), (y0, y1), (z0, z1) = ROI_BOX
    xs, ys, zs = np.meshgrid(np.arange(x0, x1), np.arange(y0, y1),
                             np.arange(z0, z1), indexing="ij")
    lab = ((xs // SEG_BLOCK) * 16 + (ys // SEG_BLOCK) * 4
           + (zs // SEG_BLOCK))
    inten = (xs * 31 + ys * 7 + zs) % 256
    for lv in np.unique(lab):
        m = lab == lv
        r = got[int(lv)]
        assert r["n_voxels"] == int(m.sum())
        assert abs(r["mean_intensity"]
                   - inten[m].sum() / m.sum()) < 1e-9
        assert r["min_i"] == int(inten[m].min())
        assert r["max_i"] == int(inten[m].max())
    assert set(got) == {int(v) for v in np.unique(lab)}
    # intensities live in the uint8 domain
    assert all(0 <= r["min_i"] <= r["max_i"] <= 255 for r in got.values())
