"""Round-10 eighth batch: k-anonymity, RRF hybrid retrieval, mutual
information, label shape moments."""
from decimal import Decimal

import numpy as np

from bigarrays_jl_spark.operators.retrieval import text_bm25
from bigarrays_jl_spark.operators.retrieval import (RRF_K, RRF_QID, RRF_TOP,
                                                    retrieval_rrf_hybrid)
from bigarrays_jl_spark.operators.similarity import EMB_Q
from bigarrays_jl_spark.operators.statistics import (K_ANON, q78_kanonymity,
                                                     q79_mutual_info)
from bigarrays_jl_spark.operators.volume_seg import (MOM_BOX, SEG_BLOCK,
                                                     volume_label_moments)
from bigarrays_jl_spark.sources.tables import load


def test_kanonymity_matches_python(spark, sf_dir):
    got = {r["c_mktsegment"]: (r["n_classes"], r["n_rows"], r["k_min"],
                               r["rows_below_k"], r["classes_below_l2"])
           for r in q78_kanonymity(spark, sf_dir).collect()}
    rows = load(spark, sf_dir, "customer").collect()
    cls = {}
    for r in rows:
        key = (r["c_mktsegment"], r["c_nationkey"])
        k, sens = cls.get(key, (0, set()))
        cls[key] = (k + 1, sens | {r["c_acctbal"] >= 0})
    per_seg = {}
    for (seg, _), (k, sens) in cls.items():
        nc, nr, km, rb, lb = per_seg.get(seg, (0, 0, None, 0, 0))
        per_seg[seg] = (nc + 1, nr + k,
                        k if km is None else min(km, k),
                        rb + (k if k < K_ANON else 0),
                        lb + (1 if len(sens) < 2 else 0))
    assert got == per_seg
    # the census conserves the table
    assert sum(v[1] for v in got.values()) == len(rows)


def _index_order_cosine(qe, de):
    dot = 0.0
    nq = 0.0
    nd = 0.0
    for a, b in zip(qe, de):
        dot += float(a) * float(b)
        nq += float(a) * float(a)
        nd += float(b) * float(b)
    return round(dot / (nq ** 0.5 * nd ** 0.5), 6)


def test_rrf_matches_python_fusion(spark, sf_dir):
    got = [(r["doc_id"], r["r_bm25"], r["r_ann"], r["rrf"])
           for r in retrieval_rrf_hybrid(spark, sf_dir).collect()]
    bm = [(r["doc_id"], r["bm25"])
          for r in text_bm25(spark, sf_dir).collect()]
    r_bm = {d: i + 1 for i, (d, _) in enumerate(
        sorted(bm, key=lambda t: (-t[1], t[0])))}
    emb = {r["vec_id"]: r["embedding"]
           for r in load(spark, sf_dir, "embeddings").collect()}
    qe = emb[RRF_QID]
    cos = [(v, _index_order_cosine(qe, e))
           for v, e in emb.items() if v != RRF_QID]
    r_an = {d: i + 1 for i, (d, _) in enumerate(
        sorted(cos, key=lambda t: (-t[1], t[0])))}
    fused = {}
    for d in set(r_bm) | set(r_an):
        s = 0.0
        if d in r_bm:
            s += 1.0 / (RRF_K + r_bm[d])
        if d in r_an:
            s += 1.0 / (RRF_K + r_an[d])
        fused[d] = s
    want = sorted(fused.items(), key=lambda t: (-t[1], t[0]))[:RRF_TOP]
    assert [(d, r_bm.get(d, -1), r_an.get(d, -1), s) for d, s in want] \
        == got
    # fused ranking is genuinely hybrid: top-10 includes docs from
    # both legs (not a copy of either single-leg ranking)
    assert any(r[1] > 0 for r in got) and any(r[2] > 0 for r in got)


def test_mutual_info_matches_python(spark, sf_dir):
    got = {r["i"]: (r["mi_bits"], r["n_cells"])
           for r in q79_mutual_info(spark, sf_dir).collect()}
    rows = load(spark, sf_dir, "embeddings") \
        .select("label", "embedding").collect()
    X = np.rint(np.array([r["embedding"] for r in rows],
                         dtype=np.float64) * EMB_Q).astype(np.int64)
    labels = np.array([r["label"] for r in rows])
    n = len(rows)
    for i in range(X.shape[1]):
        col = X[:, i]
        order = np.sort(col)
        cum = np.arange(1, n + 1)
        med = int(order[np.argmax(2 * cum >= n)])
        b = (col <= med).astype(int)
        acc = Decimal(0)
        cells = 0
        for lab in np.unique(labels):
            for bb in (0, 1):
                nlb = int(((labels == lab) & (b == bb)).sum())
                if not nlb:
                    continue
                cells += 1
                nl = int((labels == lab).sum())
                nb = int((b == bb).sum())
                term = (nlb / n) * np.log2(nlb * n / (nl * nb))
                acc += Decimal(str(round(float(term), 9)))
        assert got[i][1] == cells
        assert abs(got[i][0] - float(acc)) < 1e-9, i
        # MI is non-negative and bounded by H(b) <= 1 bit
        assert -1e-9 <= got[i][0] <= 1.0
    assert len(got) == X.shape[1]


def test_label_moments_match_numpy(spark, sf_dir):
    got = {r["label"]: r for r in
           volume_label_moments(spark, sf_dir).collect()}
    (x0, x1), (y0, y1), (z0, z1) = MOM_BOX
    xs, ys, zs = np.meshgrid(np.arange(x0, x1), np.arange(y0, y1),
                             np.arange(z0, z1), indexing="ij")
    lab = ((xs // SEG_BLOCK) * 16 + (ys // SEG_BLOCK) * 4
           + (zs // SEG_BLOCK))
    for lv in np.unique(lab):
        m = lab == lv
        pts = np.stack([xs[m], ys[m], zs[m]]).astype(np.float64)
        r = got[int(lv)]
        assert r["n_voxels"] == int(m.sum())
        for axis, cname in zip(pts, ("cx", "cy", "cz")):
            assert abs(r[cname] - axis.mean()) < 1e-9
        cov = np.cov(pts, bias=True)
        for (a, b), cname in [((0, 0), "cov_xx"), ((1, 1), "cov_yy"),
                              ((2, 2), "cov_zz"), ((0, 1), "cov_xy"),
                              ((0, 2), "cov_xz"), ((1, 2), "cov_yz")]:
            assert abs(r[cname] - cov[a, b]) < 1e-6, (lv, cname)
        # variances are non-negative; clipped boundary blocks are
        # narrower along x than interior ones
        assert r["cov_xx"] >= 0 and r["cov_yy"] >= 0 and r["cov_zz"] >= 0
    assert set(got) == {int(v) for v in np.unique(lab)}
