"""Round-10 tenth batch: entity resolution golden records, Gini
concentration, seasonal-naive backtest."""
from bigarrays_jl_spark.operators.retrieval import fuzzy_name_pairs
from bigarrays_jl_spark.operators.events import VQ
from bigarrays_jl_spark.operators.retrieval import entity_res_golden
from bigarrays_jl_spark.operators.statistics import (LAG_DAYS, q82_gini,
                                                     q83_seasonal_backtest)
from bigarrays_jl_spark.sources.tables import load


def test_entity_res_matches_union_find(spark, sf_dir):
    got = {r["canonical_name"]: (r["n_members"], r["last_member"])
           for r in entity_res_golden(spark, sf_dir).collect()}
    pairs = [(r["name_a"], r["name_b"])
             for r in fuzzy_name_pairs(spark, sf_dir).collect()]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    clusters = {}
    for n in parent:
        clusters.setdefault(find(n), []).append(n)
    want = {min(ms): (len(ms), max(ms)) for ms in clusters.values()}
    assert got == want
    # at least one real multi-member match cluster exists
    assert any(v[0] > 1 for v in got.values())
    # canonical is a member and the survivorship rule held
    assert all(c <= v[1] for c, v in got.items())


def test_gini_matches_python(spark, sf_dir):
    got = {r["l_returnflag"]: (r["n"], r["mean_price"], r["gini"])
           for r in q82_gini(spark, sf_dir).collect()}
    per = {}
    for r in load(spark, sf_dir, "lineitem").collect():
        per.setdefault(r["l_returnflag"], []).append(
            int(round(r["l_extendedprice"] * 100)))
    for f, xs in per.items():
        xs.sort()
        n = len(xs)
        six = sum((i + 1) * x for i, x in enumerate(xs))
        sx = sum(xs)
        gini = (2.0 * six) / (n * sx) - (n + 1.0) / n
        gn, gm, gg = got[f]
        assert gn == n
        assert abs(gm - sx / n / 100.0) < 1e-9
        assert abs(gg - gini) < 1e-9
        # prices are spread but not degenerate
        assert 0.0 < gg < 1.0
    assert set(got) == set(per)


def test_seasonal_backtest_matches_python(spark, sf_dir):
    got = {r["event_type"]: (r["n_days"], r["mae"], r["bias"])
           for r in q83_seasonal_backtest(spark, sf_dir).collect()}
    daily = {}
    for r in load(spark, sf_dir, "events").collect():
        key = (r["event_type"], int(r["ts"].timestamp()) // 86400)
        daily[key] = daily.get(key, 0) + int(round(r["value"] * VQ))
    per = {}
    for (t, d), rev in daily.items():
        fc = daily.get((t, d - LAG_DAYS))
        if fc is None:
            continue
        s_abs, s_raw, n = per.get(t, (0, 0, 0))
        per[t] = (s_abs + abs(rev - fc), s_raw + (rev - fc), n + 1)
    for t, (s_abs, s_raw, n) in per.items():
        gn, gmae, gbias = got[t]
        assert gn == n
        assert abs(gmae - s_abs / n / VQ) < 1e-9
        assert abs(gbias - s_raw / n / VQ) < 1e-9
        # a 30-day window scores at least two seasonal weeks
        assert n >= 2 * LAG_DAYS
    assert set(got) == set(per)
