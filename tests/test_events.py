"""Tests of operators/events.py."""

from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F

from bigarrays_jl_spark.operators.events import (SESSION_GAP_MIN,
                                                 day_funnel_conversion,
                                                 session_bounce_rate)
from bigarrays_jl_spark.operators.temporal import customer_reorder_gaps
from bigarrays_jl_spark.operators.text import boilerplate_prefixes
from bigarrays_jl_spark.sources.tables import load


def test_day_funnel_matches_python_simulation(spark, sf_dir):
    rows = (load(spark, sf_dir, "events")
            .select("user_id",
                    F.col("ts").cast("long").alias("sec"), "event_type")
            .collect())
    by_ud = defaultdict(list)
    for r in rows:
        by_ud[(r.user_id, r.sec // 86400)].append((r.sec, r.event_type))
    n_ud, n_v, n_c, n_p = Counter(), Counter(), Counter(), Counter()
    for (_, day), evs in by_ud.items():
        dow = day % 7
        n_ud[dow] += 1
        v = min((s for s, t in evs if t == "view"), default=None)
        if v is None:
            continue
        n_v[dow] += 1
        c = min((s for s, t in evs if t == "click" and s > v),
                default=None)
        if c is None:
            continue
        n_c[dow] += 1
        if any(t == "purchase" and s > c for s, t in evs):
            n_p[dow] += 1
    got = {r.dow: (r.n_user_days, r.n_reached_view, r.n_reached_click,
                   r.n_converted, r.rate)
           for r in day_funnel_conversion(spark, sf_dir).collect()}
    assert set(got) == set(n_ud)
    for d in n_ud:
        assert got[d][:4] == (n_ud[d], n_v[d], n_c[d], n_p[d])
        assert got[d][4] == pytest.approx(
            round(n_p[d] / n_ud[d], 6), abs=1e-6)
    # every funnel step must be exercised by the testdata
    assert sum(n_c.values()) > 0, "no view->click user-days in testdata"


def test_bounce_rate_matches_python(spark, sf_dir):
    # ORDER by the raw microsecond ts (the operator/oracle sort key) but
    # compute gaps on floored seconds (the cast("long") canon) — sorting
    # on the floored value would mis-attribute entries whenever two
    # same-second events' event_id order disagrees with their
    # sub-second order (review finding r13)
    rows = (load(spark, sf_dir, "events")
            .select("user_id", "ts",
                    F.col("ts").cast("long").alias("t"),
                    "event_id", "event_type").collect())
    per_user = defaultdict(list)
    for r in rows:
        per_user[r.user_id].append((r.ts, r.event_id, r.t, r.event_type))
    stats = defaultdict(lambda: [0, 0])       # entry -> [sessions, bounces]
    for evs in per_user.values():
        evs.sort(key=lambda x: (x[0], x[1]))
        sessions = []
        for _ts, eid, t, ty in evs:
            if not sessions or t - sessions[-1][-1][0] > SESSION_GAP_MIN * 60:
                sessions.append([])
            sessions[-1].append((t, eid, ty))
        for sess in sessions:
            stats[sess[0][2]][0] += 1
            stats[sess[0][2]][1] += len(sess) == 1
    got = {r.entry_type: (r.n_sessions, r.n_bounces, r.bounce_rate)
           for r in session_bounce_rate(spark, sf_dir).collect()}
    assert set(got) == set(stats)
    for ty, (ns, nb) in stats.items():
        assert got[ty] == (ns, nb, round(nb / ns, 6))


def test_round13b_plan_shapes(spark, sf_dir):
    from bigarrays_jl_spark.plans.explain import (has_partial_aggregation,
                                                  simple_plan,
                                                  single_partition_windows,
                                                  uses_take_ordered)
    br = session_bounce_rate(spark, sf_dir)
    assert not single_partition_windows(br)       # user-keyed only
    assert has_partial_aggregation(br)
    bp = boilerplate_prefixes(spark, sf_dir)
    assert uses_take_ordered(bp)                  # top-20 heap, no sort
    rg = customer_reorder_gaps(spark, sf_dir)
    assert not single_partition_windows(rg)
    assert "CartesianProduct" not in simple_plan(rg)
