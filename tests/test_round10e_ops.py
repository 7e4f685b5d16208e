"""Round-10 fifth batch: interval-union coverage and exact MAD."""
from bigarrays_jl_spark.operators.statistics import q70_mad_outliers
from bigarrays_jl_spark.operators.temporal import (SESSION_GAP_S,
                                                   q69_interval_coverage)
from bigarrays_jl_spark.sources.tables import load


def test_interval_coverage_matches_python(spark, sf_dir):
    got = {r["bucket"]: (r["covered_secs"], r["n_islands"])
           for r in q69_interval_coverage(spark, sf_dir).collect()}
    per_user = {}
    for r in load(spark, sf_dir, "events").collect():
        per_user.setdefault(r["user_id"], []).append(
            (int(r["ts"].timestamp()), r["event_id"]))
    agg = {}
    for uid, rows in per_user.items():
        rows.sort()
        islands = []
        for t, _ in rows:
            e = t + SESSION_GAP_S
            if islands and t <= islands[-1][1]:
                islands[-1][1] = max(islands[-1][1], e)
            else:
                islands.append([t, e])
        secs = sum(e - s for s, e in islands)
        c, n = agg.get(uid % 10, (0, 0))
        agg[uid % 10] = (c + secs, n + len(islands))
    assert got == agg
    # merging must actually merge: fewer islands than events
    n_events = sum(len(v) for v in per_user.values())
    assert sum(n for _, n in agg.values()) < n_events


def test_mad_outliers_matches_python(spark, sf_dir):
    got = {r["l_returnflag"]:
           (r["n"], r["median_price"], r["mad_price"], r["n_outliers"])
           for r in q70_mad_outliers(spark, sf_dir).collect()}
    per_flag = {}
    for r in load(spark, sf_dir, "lineitem").collect():
        per_flag.setdefault(r["l_returnflag"], []).append(
            int(round(r["l_extendedprice"] * 100)))
    for f, xs in per_flag.items():
        xs.sort()

        def lower_median(v):
            v = sorted(v)
            n = len(v)
            # smallest value with 2*cum >= n over the value histogram
            # == element at index ceil(n/2)-1 of the sorted list
            return v[(n + 1) // 2 - 1]

        med = lower_median(xs)
        mad = lower_median([abs(x - med) for x in xs])
        outl = sum(1 for x in xs if 2 * abs(x - med) > 3 * mad)
        assert got[f] == (len(xs), med / 100.0, mad / 100.0, outl), f
    assert set(got) == set(per_flag)
    # the screen discriminates: some but not all rows are outliers
    assert any(v[3] > 0 for v in got.values())
    assert all(v[3] < v[0] for v in got.values())


def test_mad_windows_run_over_value_domain(spark, sf_dir):
    """The cumulative windows see the distinct-cents histogram, not
    rows: the plan's window inputs descend from a (flag, cents)
    aggregate."""
    plan = (q70_mad_outliers(spark, sf_dir)
            ._jdf.queryExecution().optimizedPlan().toString())
    assert plan.count("Window") >= 2
    # broadcast join-back of the per-group stats, no cartesian
    xplan = (q70_mad_outliers(spark, sf_dir)
             ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in xplan
