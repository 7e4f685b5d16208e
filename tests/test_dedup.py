"""Tests of operators/dedup.py."""

import hashlib
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from bigarrays_jl_spark.operators.dedup import (AUDIT_T, RUN_LEN,
                                                dedup_audit_pr,
                                                dedup_cluster_hist,
                                                dedup_span_excise,
                                                dedup_storage_savings)
from bigarrays_jl_spark.sources.tables import load


def test_paragraph_dedup_keeper_semantics(spark, tmp_path):
    """First instance by (doc_id, paragraph index) keeps — including a
    duplicate WITHIN one document, which needs the index tiebreak."""
    from bigarrays_jl_spark.operators.dedup import text_paragraph_dedup

    rows = [
        (1, "s1", "alpha beta. gamma. alpha beta"),   # self-dup: idx 0 keeps
        (2, "s2", "gamma. delta"),                    # gamma dup of doc1
        (3, "s1", "unique one"),
    ]
    d = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id long, source string, text string") \
        .write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = {r.source: (r.n_paragraphs, r.n_dup_instances,
                      r.n_unique_paragraphs)
           for r in text_paragraph_dedup(spark, d).collect()}
    # s1: paragraphs [alpha beta, gamma, alpha beta, unique one] -> 4
    #     dups: the SECOND "alpha beta" only (first keeps; "gamma"
    #     in doc1 is the keeper for its hash) -> 1; unique hashes: 3
    # s2: [gamma, delta] -> gamma is a dup instance (doc1 keeps) -> 1
    assert got == {"s1": (4, 1, 3), "s2": (2, 1, 2)}


def test_cluster_hist_mass_and_conservation(spark, sf_dir):
    n_docs = load(spark, sf_dir, "documents").count()
    rows = dedup_cluster_hist(spark, sf_dir).collect()
    hist = {r.cluster_size: (r.n_clusters, r.n_removable) for r in rows}
    # the every-7th exact-copy augmentation guarantees mass above 1
    assert any(sz > 1 for sz in hist)
    # conservation: sum(sz * n_clusters) == docs + copies
    n_copies = sum(1 for _ in range(0, n_docs, 7))  # doc_id 0,7,14,...
    total = sum(sz * nc for sz, (nc, _) in hist.items())
    assert total == n_docs + n_copies
    # removable = total - clusters
    assert sum(nr for _, nr in hist.values()) == total - sum(
        nc for nc, _ in hist.values())


def test_dedup_audit_consistent_with_components(spark, sf_dir):
    # the audit's inputs ARE the registry's two canon pair sets; check
    # the scalar identities rather than recomputing minhash in python
    from bigarrays_jl_spark.operators.dedup import (dedup_minhash_pairs,
                                                    dedup_ngram_jaccard)
    pred = {(r.doc_a, r.doc_b)
            for r in dedup_minhash_pairs(spark, sf_dir).collect()
            if r.est_jaccard >= AUDIT_T}
    truth = {(r.doc_a, r.doc_b)
             for r in dedup_ngram_jaccard(spark, sf_dir).collect()}
    hit = pred & truth
    row = dedup_audit_pr(spark, sf_dir).collect()[0]
    assert (row.n_predicted, row.n_truth, row.n_hit) == \
        (len(pred), len(truth), len(hit))
    assert row.prec_at_t == round(len(hit) / len(pred), 6)
    assert row.rec_at_t == round(len(hit) / len(truth), 6)
    assert row.n_hit > 0


def test_dedup_storage_savings_matches_python(spark, sf_dir):
    rows = load(spark, sf_dir, "documents").select(
        "doc_id", "source", "text", "n_chars").collect()
    aug = [(r.doc_id, r.source, r.text, r.n_chars) for r in rows]
    aug += [(r.doc_id + 2000000, r.source, r.text, r.n_chars)
            for r in rows if r.doc_id % 7 == 0]
    keep = {}
    for did, _, text, _ in aug:
        fp = hashlib.md5(text.encode()).hexdigest()
        keep[fp] = min(keep.get(fp, did), did)
    per = defaultdict(lambda: [0, 0, 0, 0])
    for did, src, text, nc in aug:
        fp = hashlib.md5(text.encode()).hexdigest()
        dup = did != keep[fp]
        per[src][0] += 1
        per[src][1] += dup
        per[src][2] += nc if dup else 0
        per[src][3] += nc
    got = {r.source: (r.n_docs, r.n_dup_instances, r.chars_removable,
                      r.chars_total, r.frac_removable)
           for r in dedup_storage_savings(spark, sf_dir).collect()}
    assert set(got) == set(per)
    total_dups = 0
    for s, (n, d, cr, ct) in per.items():
        assert got[s] == (n, d, cr, ct, round(cr / ct, 6))
        total_dups += d
    # the augmentation guarantees real mass: every 7th doc has a copy
    assert total_dups > 0


@pytest.fixture()
def crafted_dir(spark, tmp_path):
    """Four docs engineered around RUN_LEN=8 windows:

    - doc 0: 10 distinct tokens (3 windows, all canonical — nothing
      excised from the earliest doc).
    - doc 1: same first 8 tokens as doc 0 (one duplicated window ->
      8 positions excised) then distinct tail.
    - doc 2: doc 0's full 10 tokens verbatim (3 duplicated windows
      whose OVERLAPPING coverage must union to 10, not 24).
    - doc 3: fewer than RUN_LEN tokens (no windows; zero row still
      present).
    """
    v = [f"w{i}" for i in range(10)]        # doc 0's tokens
    tail = [f"x{i}" for i in range(4)]
    rows = [(0, " ".join(v)),
            (1, " ".join(v[:8] + tail)),
            (2, " ".join(v)),
            (3, "a b c")]
    (spark.createDataFrame(rows, "doc_id long, text string")
     .write.parquet(f"{tmp_path}/documents.parquet"))
    return str(tmp_path)


def test_span_excise_first_occurrence_wins_and_overlap_union(
        spark, crafted_dir):
    assert RUN_LEN == 8, "crafted fixture encodes RUN_LEN=8 geometry"
    got = {r["doc_id"]: r.asDict()
           for r in dedup_span_excise(spark, crafted_dir).collect()}
    # doc 0 is globally earliest at every one of its windows: canonical,
    # untouched.
    assert got[0] == {"doc_id": 0, "n_tok": 10, "n_dup_win": 0,
                      "n_excised": 0, "n_clean_tok": 10}
    # doc 1 repeats exactly one window (v[0..7]) -> 8 tokens excised.
    assert got[1] == {"doc_id": 1, "n_tok": 12, "n_dup_win": 1,
                      "n_excised": 8, "n_clean_tok": 4}
    # doc 2 repeats all 3 windows; their coverage overlaps — the union
    # is the whole 10-token doc, NOT 3*8.
    assert got[2] == {"doc_id": 2, "n_tok": 10, "n_dup_win": 3,
                      "n_excised": 10, "n_clean_tok": 0}
    # doc 3 is shorter than a window: present with zeros.
    assert got[3] == {"doc_id": 3, "n_tok": 3, "n_dup_win": 0,
                      "n_excised": 0, "n_clean_tok": 3}


def test_span_excise_matches_python_reference(spark, sf_dir):
    docs = [(r["doc_id"], r["text"]) for r in
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text").collect()]
    # plain-Python twin of the operator's contract
    first, occs, ntok = {}, [], {}
    for doc_id, text in sorted(docs):
        t = text.strip().lower().split()
        ntok[doc_id] = len(t)
        for pos in range(len(t) - RUN_LEN + 1):
            w = " ".join(t[pos:pos + RUN_LEN])
            if w not in first:
                first[w] = (doc_id, pos)
            elif first[w] != (doc_id, pos):
                occs.append((doc_id, pos))
    cover = {}
    for doc_id, pos in occs:
        cover.setdefault(doc_id, set()).update(
            range(pos, pos + RUN_LEN))
    want = {d: (ntok[d],
                sum(1 for o in occs if o[0] == d),
                len(cover.get(d, ())))
            for d in ntok}
    got = {r["doc_id"]: (r["n_tok"], r["n_dup_win"], r["n_excised"])
           for r in dedup_span_excise(spark, sf_dir).collect()}
    assert got == want


def test_span_excise_plan_has_no_pair_join(spark, sf_dir):
    plan = (dedup_span_excise(spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_span_excise_single_pass_census(spark, sf_dir):
    """The one-pass census fold (countDistinct(pos) + countDistinct(p)
    over the exploded coverage) == the two-branch form it replaced
    (ndup groupBy + cov explode/distinct/groupBy + two join-backs) —
    and the executed plan carries exactly ONE left-outer join-back,
    proving the branches actually collapsed."""
    from pyspark.sql import Window as W
    from bigarrays_jl_spark.functions.expressions import (shingle_array,
                                                          tokens)
    from bigarrays_jl_spark.operators.dedup import RUN_LEN
    from bigarrays_jl_spark.operators.dedup import dedup_span_excise

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select("doc_id", tokens().alias("t"))
    wins = (toks.filter(F.size("t") >= RUN_LEN)
            .select("doc_id",
                    F.posexplode(shingle_array("t", RUN_LEN))
                     .alias("pos0", "w"))
            .select("doc_id", (F.col("pos0") + 1).alias("pos"),
                    F.md5("w").alias("h")))
    rn = F.row_number().over(W.partitionBy("h").orderBy("doc_id", "pos"))
    nc = (wins.withColumn("rn", rn).filter(F.col("rn") > 1)
          .select("doc_id", "pos"))
    # the replaced two-branch definition
    ndup = nc.groupBy("doc_id").agg(F.count("*").alias("n_dup_win"))
    cov = (nc.select("doc_id",
                     F.explode(F.sequence(
                         F.col("pos"),
                         F.col("pos") + F.lit(RUN_LEN - 1))).alias("p"))
           .distinct()
           .groupBy("doc_id").agg(F.count("*").alias("n_excised")))
    old = {(r["doc_id"]): (r["n_dup_win"], r["n_excised"])
           for r in ndup.join(cov, "doc_id", "outer").fillna(0).collect()}
    got = {r["doc_id"]: (r["n_dup_win"], r["n_excised"])
           for r in dedup_span_excise(spark, sf_dir)
           .filter(F.col("n_dup_win") > 0).collect()}
    assert got == {d: v for d, v in old.items() if v[0] > 0}

    plan = (dedup_span_excise(spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("LeftOuter") == 1, plan
