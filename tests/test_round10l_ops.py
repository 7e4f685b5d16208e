"""Round-10 twelfth batch: Kaplan-Meier repeat-purchase survival,
lag-1 autocorrelation, cohort LTV."""
from decimal import Decimal

import numpy as np

from bigarrays_jl_spark.operators.events import VQ
from bigarrays_jl_spark.operators.statistics import (q86_kaplan_meier,
                                                     q87_autocorr,
                                                     q88_cohort_ltv)
from bigarrays_jl_spark.sources.tables import load


def _purchases(spark, sf_dir):
    rows = [r for r in load(spark, sf_dir, "events").collect()
            if r["event_type"] == "purchase"]
    return sorted(rows, key=lambda r: (r["ts"], r["event_id"]))


def test_kaplan_meier_matches_python(spark, sf_dir):
    got = {r["gap_days"]: (r["n_at_risk"], r["n_repurchases"],
                           r["survival"])
           for r in q86_kaplan_meier(spark, sf_dir).collect()}
    per_user = {}
    for r in _purchases(spark, sf_dir):
        per_user.setdefault(r["user_id"], []).append(
            int(r["ts"].timestamp()) // 86400)
    horizon = max(d for ds in per_user.values() for d in ds)
    obs = []          # (t, event?)
    for ds in per_user.values():
        for a, b in zip(ds, ds[1:]):
            obs.append((b - a, 1))
        obs.append((horizon - ds[-1], 0))
    times = sorted({t for t, ev in obs if ev})
    acc = Decimal(0)
    dead = False
    want = {}
    for t in times:
        n_risk = sum(1 for tt, _ in obs if tt >= t)
        d = sum(1 for tt, ev in obs if tt == t and ev)
        if d == n_risk:
            dead = True
        else:
            acc += Decimal(str(round(float(np.log(1.0 - d / n_risk)),
                                     9)))
        want[t] = (n_risk, d,
                   0.0 if dead else float(np.exp(float(acc))))
    assert set(got) == set(want)
    for t in want:
        assert got[t][0] == want[t][0], t
        assert got[t][1] == want[t][1], t
        assert abs(got[t][2] - want[t][2]) < 1e-9, t
    # survival is a monotone non-increasing curve from < 1
    curve = [got[t][2] for t in sorted(got)]
    assert all(a >= b for a, b in zip(curve, curve[1:]))
    assert curve[0] < 1.0
    # censoring is real: risk sets shrink by more than the deaths alone
    ts = sorted(want)
    assert any(want[a][0] - want[b][0] > want[a][1]
               for a, b in zip(ts, ts[1:]))


def test_autocorr_matches_numpy(spark, sf_dir):
    got = {r["event_type"]: (r["n_pairs"], r["lag1_autocorr"])
           for r in q87_autocorr(spark, sf_dir).collect()}
    daily = {}
    for r in load(spark, sf_dir, "events").collect():
        k = (r["event_type"], int(r["ts"].timestamp()) // 86400)
        daily[k] = daily.get(k, 0) + int(round(r["value"] * VQ))
    for t in {k[0] for k in daily}:
        days = sorted(d for (tt, d) in daily if tt == t)
        pairs = [(daily[(t, d - 1)], daily[(t, d)])
                 for d in days if (t, d - 1) in daily]
        x = np.array([a for a, _ in pairs], dtype=np.float64)
        y = np.array([b for _, b in pairs], dtype=np.float64)
        r_np = np.corrcoef(x, y)[0, 1]
        n, r = got[t]
        assert n == len(pairs)
        assert abs(r - r_np) < 1e-9
        assert -1.0 <= r <= 1.0
    assert len(got) == 5


def test_cohort_ltv_matches_python(spark, sf_dir):
    got = {(r["cohort"], r["week"]):
           (r["cohort_users"], r["cum_cents"], r["ltv_per_user"])
           for r in q88_cohort_ltv(spark, sf_dir).collect()}
    per_user = {}
    for r in _purchases(spark, sf_dir):
        day = int(r["ts"].timestamp()) // 86400
        cents = int(round(r["value"] * 100))
        per_user.setdefault(r["user_id"], []).append((day, cents))
    cells = {}
    csize = {}
    for ds in per_user.values():
        cday = min(d for d, _ in ds)
        csize[cday] = csize.get(cday, 0) + 1
        for d, c in ds:
            k = (cday, (d - cday) // 7)
            cells[k] = cells.get(k, 0) + c
    want = {}
    for cohort in {k[0] for k in cells}:
        cum = 0
        for week in sorted(k[1] for k in cells if k[0] == cohort):
            cum += cells[(cohort, week)]
            want[(cohort, week)] = (csize[cohort], cum,
                                    cum / csize[cohort] / 100.0)
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        assert got[k][1] == want[k][1]
        assert abs(got[k][2] - want[k][2]) < 1e-9
    # LTV curves are cumulative: non-decreasing within each cohort
    for cohort in {k[0] for k in got}:
        ws = sorted(k[1] for k in got if k[0] == cohort)
        vals = [got[(cohort, w)][1] for w in ws]
        assert all(a <= b for a, b in zip(vals, vals[1:]))
