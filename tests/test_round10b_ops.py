"""Round-10 batch-2 tests: LSH-graph BFS, A-priori basket pairs,
exact set-similarity join, data-quality audit, corpus divergence."""
import math

from pyspark.sql import functions as F

from bigarrays_jl_spark.operators.graph import (HOP_ROUNDS, _lsh_edges,
                                                graph_hops_lsh)
from bigarrays_jl_spark.operators.mutation import dq_audit
from bigarrays_jl_spark.operators.similarity import set_sim_join
from bigarrays_jl_spark.operators.statistics import (MIN_ITEM_SUP,
                                                     MIN_PAIR_SUP,
                                                     basket_pairs)
from bigarrays_jl_spark.operators.text import text_corpus_divergence
from bigarrays_jl_spark.sources.tables import load


def test_graph_hops_matches_python_bfs(spark, sf_dir):
    got = {r["hops"]: r["n_nodes"]
           for r in graph_hops_lsh(spark, sf_dir).collect()}
    edges = [(r["src"], r["dst"])
             for r in _lsh_edges(spark, sf_dir).collect()]
    adj = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
    seed = min(adj)
    dist = {seed: 0}
    frontier = [seed]
    for h in range(1, HOP_ROUNDS + 1):
        nxt = []
        for u in frontier:
            for v in adj[u]:
                if v not in dist:
                    dist[v] = h
                    nxt.append(v)
        frontier = nxt
    want = {}
    for n in adj:
        want.setdefault(dist.get(n, -1), 0)
        want[dist.get(n, -1)] += 1
    assert got == want


def test_basket_pairs_matches_python(spark, sf_dir):
    got = {(r["part_a"], r["part_b"]): (r["pair_sup"], r["lift"])
           for r in basket_pairs(spark, sf_dir).collect()}
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey").distinct().collect()
    baskets, item_sup = {}, {}
    for r in li:
        baskets.setdefault(r["l_orderkey"], set()).add(r["l_partkey"])
        item_sup[r["l_partkey"]] = item_sup.get(r["l_partkey"], 0) + 1
    freq = {p for p, s in item_sup.items() if s >= MIN_ITEM_SUP}
    n_orders = sum(1 for b in baskets.values() if b & freq)
    pair_sup = {}
    for b in baskets.values():
        items = sorted(p for p in b if p in freq)
        for i, pa in enumerate(items):
            for pb in items[i + 1:]:
                pair_sup[(pa, pb)] = pair_sup.get((pa, pb), 0) + 1
    want = {k: (s, s * float(n_orders) / (item_sup[k[0]] * item_sup[k[1]]))
            for k, s in pair_sup.items() if s >= MIN_PAIR_SUP}
    assert got == want


def test_basket_pairs_plan_broadcasts_apriori_prune(spark, sf_dir):
    plan = (basket_pairs(spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def _setsim_truth(spark, sf_dir):
    """Brute-force all-pairs exact Jaccard >= 0.8 among token-set
    family representatives (min doc_id per distinct token set) — the
    operator's stage-1 collapse applied in plain Python."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text") \
        .collect()
    toks = {r["doc_id"]: frozenset(r["text"].strip().lower().split())
            for r in docs}
    fam: dict = {}
    for i in sorted(toks):
        fam.setdefault(toks[i], []).append(i)
    reps = {min(ids): s for s, ids in fam.items()}
    sizes = {min(ids): len(ids) for ids in fam.values()}
    ids = sorted(reps)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(reps[a] & reps[b])
            union = len(reps[a] | reps[b])
            if union and 5 * inter >= 4 * union:
                want[(a, b)] = inter / union
    return want, sizes


def test_set_sim_join_is_exact(spark, sf_dir):
    # window_cap=None (unbounded discovery): prefix filtering must lose
    # NO pair vs brute-force all-pairs exact Jaccard among the
    # token-set representatives, and no doc may be flagged truncated
    rows = set_sim_join(spark, sf_dir, window_cap=None).collect()
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in rows}
    want, sizes = _setsim_truth(spark, sf_dir)
    assert got == want
    for r in rows:
        assert not r["a_trunc"] and not r["b_trunc"]
        assert r["n_set_a"] == sizes[r["doc_a"]]
        assert r["n_set_b"] == sizes[r["doc_b"]]


def test_set_sim_join_capped_is_flagged_subset(spark, sf_dir):
    # the production (capped-window) mode emits a SUBSET of the exact
    # answer, every emitted jaccard is exact, and any pair the cap
    # lost has at least one truncated endpoint — so a run with zero
    # truncation flags is provably complete
    rows = set_sim_join(spark, sf_dir).collect()
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in rows}
    want, _ = _setsim_truth(spark, sf_dir)
    assert set(got) <= set(want)
    for k, v in got.items():
        assert v == want[k]
    trunc_docs = {r["doc_a"] for r in rows if r["a_trunc"]} \
        | {r["doc_b"] for r in rows if r["b_trunc"]}
    if set(got) == set(want):
        return                    # nothing lost — nothing to prove
    for a, b in set(want) - set(got):
        # a lost pair must involve a doc the output FLAGS as truncated
        # (or a doc absent from the output entirely, whose buckets
        # overflowed — check via the flags of any emitted row)
        assert (a in trunc_docs or b in trunc_docs
                or a not in {x for p in got for x in p}
                or b not in {x for p in got for x in p})


def test_dq_audit_all_green_and_complete(spark, sf_dir):
    rows = {r["check"]: (r["metric"], r["ok"])
            for r in dq_audit(spark, sf_dir).collect()}
    assert len(rows) == 8
    # the synthetic tables are clean: every constraint holds
    assert all(ok for _, ok in rows.values())
    n_li = load(spark, sf_dir, "lineitem").count()
    assert rows["lineitem_rowcount"][0] == float(n_li)
    assert rows["lineitem_orphans"][0] == 0.0
    assert rows["orderkey_unique"][0] == 1.0


def test_corpus_divergence_bounds_and_term_counts(spark, sf_dir):
    r = text_corpus_divergence(spark, sf_dir).first()
    # Hellinger^2 in [0,1], JS in [0,1] bits; both > 0 (halves differ)
    assert 0.0 < r["hellinger_sq"] < 1.0
    assert 0.0 < r["js_bits"] < 1.0
    docs = load(spark, sf_dir, "documents").select("doc_id", "text") \
        .collect()
    va, vb = set(), set()
    for row in docs:
        (va if row["doc_id"] % 2 == 0 else vb).update(
            row["text"].strip().lower().split())
    assert r["n_shared"] == len(va & vb)
    assert r["n_only_a"] == len(va - vb)
    assert r["n_only_b"] == len(vb - va)


def test_corpus_divergence_matches_python(spark, sf_dir):
    r = text_corpus_divergence(spark, sf_dir).first()
    docs = load(spark, sf_dir, "documents").select("doc_id", "text") \
        .collect()
    ca, cb = {}, {}
    for row in docs:
        c = ca if row["doc_id"] % 2 == 0 else cb
        for t in row["text"].strip().lower().split():
            c[t] = c.get(t, 0) + 1
    # python split drops empty tokens that F.split keeps for empty
    # text; the testdata has no empty docs, so the sets agree
    ta, tb = sum(ca.values()), sum(cb.values())
    hell = js = 0.0
    for t in set(ca) | set(cb):
        pa, pb = ca.get(t, 0) / ta, cb.get(t, 0) / tb
        hell += round(0.5 * (math.sqrt(pa) - math.sqrt(pb)) ** 2, 9)
        term = 0.0
        if pa > 0:
            term += 0.5 * pa * math.log2(2.0 * pa / (pa + pb))
        if pb > 0:
            term += 0.5 * pb * math.log2(2.0 * pb / (pa + pb))
        js += round(term, 9)
    assert abs(r["hellinger_sq"] - hell) < 1e-7
    assert abs(r["js_bits"] - js) < 1e-7


def test_prefix_length_integer_formula():
    # (4n+4) div 5 == ceil(0.8 n) exactly, for any set size — the
    # integer arithmetic both engines share (no float ceil drift)
    import math
    for n in range(0, 10_000):
        assert (4 * n + 4) // 5 == math.ceil(0.8 * n)


def test_set_sim_join_plan_no_cartesian(spark, sf_dir):
    plan = (set_sim_join(spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
