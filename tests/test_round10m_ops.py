"""Round-10 thirteenth batch: stratified effects, Benford screening,
day-of-week seasonality."""
import math

from bigarrays_jl_spark.operators.events import VQ
from bigarrays_jl_spark.operators.statistics import (BENFORD_P, ERR_T,
                                                     N_STRATA,
                                                     q89_stratified_effect,
                                                     q90_benford,
                                                     q91_dow_seasonality)
from bigarrays_jl_spark.sources.tables import load


def test_stratified_effect_matches_python(spark, sf_dir):
    got = {r["stratum"]: r for r in
           q89_stratified_effect(spark, sf_dir).collect()}
    users = {}
    for r in load(spark, sf_dir, "events").collect():
        ne, y = users.get(r["user_id"], (0, 0))
        if r["event_type"] == "error":
            ne += 1
        elif r["event_type"] == "purchase":
            y += int(round(r["value"] * 100))
        users[r["user_id"]] = (ne, y)
    per = {}
    for u, (ne, y) in users.items():
        s = u % N_STRATA
        n, n1, sy1, sy0 = per.get(s, (0, 0, 0, 0))
        t = 1 if ne >= ERR_T else 0
        per[s] = (n + 1, n1 + t, sy1 + (y if t else 0),
                  sy0 + (0 if t else y))
    for s, (n, n1, sy1, sy0) in per.items():
        g = got[s]
        assert (g["n_users"], g["n_treated"]) == (n, n1)
        # both arms populated: the ERR_T threshold actually splits
        assert 0 < n1 < n
        m1, m0 = sy1 / n1 / 100.0, sy0 / (n - n1) / 100.0
        assert abs(g["mean_y_treated"] - m1) < 1e-9
        assert abs(g["mean_y_control"] - m0) < 1e-9
        assert abs(g["effect"] - (m1 - m0)) < 1e-9
    assert set(got) == set(per) == set(range(N_STRATA))


def test_benford_matches_python(spark, sf_dir):
    got = {r["digit"]: (r["n_obs"], r["expected"], r["obs_ratio"])
           for r in q90_benford(spark, sf_dir).collect()}
    obs = {}
    for r in load(spark, sf_dir, "lineitem").collect():
        v = int(round(r["l_extendedprice"] * 100))
        if v > 0:
            d = int(str(v)[0])
            obs[d] = obs.get(d, 0) + 1
    tot = sum(obs.values())
    assert set(got) == set(obs)
    for d, n in obs.items():
        exp = tot * BENFORD_P[d]
        assert got[d][0] == n
        assert abs(got[d][1] - exp) < 1e-9
        assert abs(got[d][2] - n / exp) < 1e-9
    # Benford's first-digit law: probabilities sum to 1 and the
    # digit-1 class is the largest expected bucket
    assert abs(sum(BENFORD_P.values()) - 1.0) < 1e-12
    assert got[1][1] == max(v[1] for v in got.values())


def test_dow_seasonality_matches_python(spark, sf_dir):
    got = {(r["event_type"], r["dow"]): (r["n_events"],
                                         r["seasonal_index"])
           for r in q91_dow_seasonality(spark, sf_dir).collect()}
    cells = {}
    tot = {}
    for r in load(spark, sf_dir, "events").collect():
        dow = (int(r["ts"].timestamp()) // 86400) % 7
        vi = int(round(r["value"] * VQ))
        k = (r["event_type"], dow)
        n, s = cells.get(k, (0, 0))
        cells[k] = (n + 1, s + vi)
        tn, ts_ = tot.get(r["event_type"], (0, 0))
        tot[r["event_type"]] = (tn + 1, ts_ + vi)
    assert set(got) == set(cells)
    wsum = {}
    for (t, dow), (n, s) in cells.items():
        tn, ts_ = tot[t]
        idx = (s / n) / (ts_ / tn)
        assert got[(t, dow)][0] == n
        assert abs(got[(t, dow)][1] - idx) < 1e-9
        a, b = wsum.get(t, (0.0, 0))
        wsum[t] = (a + idx * n, b + n)
    # weighted by event counts, indices average to 1 per type
    for t, (a, b) in wsum.items():
        assert math.isclose(a / b, 1.0, rel_tol=1e-9)
