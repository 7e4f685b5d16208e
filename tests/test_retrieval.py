"""Tests of operators/retrieval.py."""

from bigarrays_jl_spark.sources.tables import load


def test_mmr_matches_python_and_diversifies(spark, sf_dir):
    import math

    from bigarrays_jl_spark.operators.retrieval import (MMR_C, MMR_K,
                                                        MMR_LAMBDA, MMR_MU,
                                                        MMR_PROBE,
                                                        retrieval_mmr_rerank)
    vecs = {r.vec_id: [float(x) for x in r.embedding]
            for r in load(spark, sf_dir, "embeddings").collect()}

    def cos(a, b):
        # sequential fold in index order — the dot() canon's order
        d = na = nb = 0.0
        for x, y in zip(a, b):
            d += x * y
        for x in a:
            na += x * x
        for y in b:
            nb += y * y
        return round(d / (math.sqrt(na) * math.sqrt(nb)), 6)

    qe = vecs[MMR_PROBE]
    rel = {vid: cos(v, qe) for vid, v in vecs.items() if vid != MMR_PROBE}
    cand = sorted(rel, key=lambda v: (-rel[v], v))[:MMR_C]
    sim = {(a, b): cos(vecs[a], vecs[b])
           for i, a in enumerate(cand) for b in cand[i + 1:]}
    sim.update({(b, a): s for (a, b), s in list(sim.items())})
    remaining, selected, want = sorted(cand), [], []
    for step in range(1, MMR_K + 1):
        best, best_s = None, None
        for c in remaining:
            ms = max((sim.get((c, p), 0.0) for p in selected), default=0.0)
            s = MMR_LAMBDA * rel[c] - MMR_MU * ms
            if best_s is None or s > best_s:
                best, best_s = c, s
        selected.append(best)
        remaining.remove(best)
        want.append((step, best, best_s))

    got = [(r.rank, r.vec_id, r.mmr_score)
           for r in retrieval_mmr_rerank(spark, sf_dir)
           .orderBy("rank").collect()]
    assert got == want
    # MMR scores are monotone non-increasing (per-candidate scores only
    # fall as the selected set grows, and the argmax set only shrinks)
    scores = [s for _, _, s in got]
    assert scores == sorted(scores, reverse=True)
    # the re-rank must actually use the diversity term somewhere: at
    # least one selection differs from the plain relevance order
    plain = sorted(rel, key=lambda v: (-rel[v], v))[:MMR_K]
    assert [v for _, v, _ in got] != plain or all(
        MMR_MU * max((sim.get((c, p), 0.0) for p in sel), default=0.0) == 0
        for sel in [selected] for c in selected)
