"""Round-10 batch-3 tests: SCD2 history, phrase search over a
positional index, embedding covariance."""
import numpy as np

from bigarrays_jl_spark.operators.mutation import scd2_history
from bigarrays_jl_spark.operators.retrieval import phrase_search
from bigarrays_jl_spark.operators.similarity import emb_covariance
from bigarrays_jl_spark.sources.tables import load


def test_scd2_history_matches_python(spark, sf_dir):
    got = {r["event_type"]: (r["n_intervals"], r["closed_duration_s"],
                             r["n_current"])
           for r in scd2_history(spark, sf_dir).collect()}
    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "event_id").collect()
    per_user = {}
    for r in ev:
        per_user.setdefault(r["user_id"], []).append(
            (int(r["ts"].timestamp()), r["event_id"], r["event_type"]))
    want = {}
    for rows in per_user.values():
        rows.sort()
        islands = []
        for t, _, et in rows:
            if not islands or islands[-1][1] != et:
                islands.append((t, et))
        for k, (t, et) in enumerate(islands):
            n, dur, cur = want.get(et, (0, 0, 0))
            if k + 1 < len(islands):
                want[et] = (n + 1, dur + islands[k + 1][0] - t, cur)
            else:
                want[et] = (n + 1, dur, cur + 1)
    assert got == want


def test_scd2_current_rows_equal_users(spark, sf_dir):
    rows = scd2_history(spark, sf_dir).collect()
    n_users = load(spark, sf_dir, "events").select("user_id") \
        .distinct().count()
    assert sum(r["n_current"] for r in rows) == n_users


def test_phrase_search_matches_python(spark, sf_dir):
    got = [(r["doc_id"], r["w1"], r["w2"], r["n_matches"])
           for r in phrase_search(spark, sf_dir).collect()]
    docs = load(spark, sf_dir, "documents").select("doc_id", "text") \
        .collect()
    toks = {r["doc_id"]: r["text"].strip().lower().split() for r in docs}
    bigrams = {}
    for ts in toks.values():
        for a, b in zip(ts, ts[1:]):
            bigrams[(a, b)] = bigrams.get((a, b), 0) + 1
    w1, w2 = min(bigrams, key=lambda k: (-bigrams[k], k[0], k[1]))
    per_doc = {}
    for d, ts in toks.items():
        c = sum(1 for a, b in zip(ts, ts[1:]) if (a, b) == (w1, w2))
        if c:
            per_doc[d] = c
    want = sorted(per_doc.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert got == [(d, w1, w2, c) for d, c in want]


def test_emb_covariance_matches_numpy(spark, sf_dir):
    rows = emb_covariance(spark, sf_dir).collect()
    X = np.array(load(spark, sf_dir, "embeddings")
                 .select("embedding").toPandas()["embedding"].tolist(),
                 dtype=np.float64)
    want = np.cov(X, rowvar=False, bias=True)
    assert len(rows) == 64 * 65 // 2          # upper triangle incl diag
    for r in rows:
        assert abs(r["cov"] - want[r["i"], r["j"]]) < 1e-6
        if r["i"] == r["j"]:
            assert r["cov"] > 0


def test_emb_covariance_plan_has_no_vector_self_join(spark, sf_dir):
    # the dim² cells come from a map-side nested transform — the plan
    # must not join the embeddings scan against itself
    plan = (emb_covariance(spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan        # only broadcast closes


def test_scd2_point_in_time_matches_python(spark, sf_dir):
    from bigarrays_jl_spark.operators.mutation import scd2_point_in_time
    got = {r["state_at_purchase"]: (r["n_purchases"], r["revenue"])
           for r in scd2_point_in_time(spark, sf_dir).collect()}
    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value").collect()
    per_user = {}
    for r in ev:
        kind = 1 if r["event_type"] == "purchase" else 0
        per_user.setdefault(r["user_id"], []).append(
            (int(r["ts"].timestamp()), kind, r["event_id"],
             r["event_type"], r["value"]))
    agg = {}
    for rows in per_user.values():
        rows.sort(key=lambda x: x[:3])
        cur = None
        for _, kind, _, et, v in rows:
            if kind == 0:
                cur = et
            else:
                st = cur if cur is not None else "none"
                n, s = agg.get(st, (0, 0.0))
                agg[st] = (n + 1, s + (v or 0.0))
    for st, (n, s) in agg.items():
        assert got[st][0] == n
        assert abs(got[st][1] - round(s, 2)) < 1e-6
    assert set(got) == set(agg)
