"""Tests of operators/text.py."""

from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F

from bigarrays_jl_spark.operators.text import (BOILER_K, boilerplate_prefixes,
                                               ngram_novelty, text_tfidf_topk)
from bigarrays_jl_spark.sources.tables import load


def test_tfidf_topk_matches_python_for_one_doc(spark, sf_dir):
    import math
    docs = {r.doc_id: r.text
            for r in load(spark, sf_dir, "documents")
            .select("doc_id", "text").collect()}
    toks = {d: [t for t in txt.strip().lower().split() if t]
            for d, txt in docs.items()}
    df = Counter()
    for terms in toks.values():
        df.update(set(terms))
    n_docs = len([t for t in toks.values() if t])
    target = sorted(toks)[0]
    tf = Counter(toks[target])
    scored = sorted(((round(c * math.log(n_docs / df[t]), 6), t)
                     for t, c in tf.items()),
                    key=lambda p: (-p[0], p[1]))[:3]
    got = sorted(
        ((r.tfidf, r.term) for r in text_tfidf_topk(spark, sf_dir)
         .filter(F.col("doc_id") == target).collect()),
        key=lambda p: (-p[0], p[1]))
    assert [(pytest.approx(s, abs=1e-6), t) for s, t in scored] == got


def test_ngram_novelty_matches_python(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", "text").collect()
    first: dict[str, int] = {}
    for r in sorted(docs, key=lambda r: r.doc_id):
        ws = r.text.split(" ")
        for g in {" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)}:
            first.setdefault(g, r.doc_id)
    per = defaultdict(lambda: [0, 0])
    for r in docs:
        ws = r.text.split(" ")
        for g in {" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)}:
            per[r.source][0] += 1
            per[r.source][1] += first[g] == r.doc_id
    got = {r.source: (r.n_grams, r.n_novel, r.novelty)
           for r in ngram_novelty(spark, sf_dir).collect()}
    assert set(got) == set(per)
    for s, (ng, nn) in per.items():
        assert got[s] == (ng, nn, nn / ng)


def test_boilerplate_matches_python(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select(
        "source", "text").collect()
    import hashlib
    per = defaultdict(lambda: [0, set()])
    for r in docs:
        ws = r.text.split(" ")
        if len(ws) >= BOILER_K:
            ph = hashlib.md5(" ".join(ws[:BOILER_K]).encode()).hexdigest()
            per[ph][0] += 1
            per[ph][1].add(r.source)
    cands = sorted(((n, ph, len(srcs)) for ph, (n, srcs) in per.items()
                    if n > 1), key=lambda x: (-x[0], x[1]))[:20]
    want = [(ph, n, ns) for n, ph, ns in cands]
    got = [(r.ph, r.n_docs, r.n_sources)
           for r in boilerplate_prefixes(spark, sf_dir).collect()]
    # output is top-20 by (n_docs desc, ph) — ordered compare
    assert sorted(got, key=lambda x: (-x[1], x[0])) == want
    assert len(got) > 0
