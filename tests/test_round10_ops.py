"""Round-10 operator tests: pointer-doubling recursion, sweep-line
interval concurrency, histogram-two-phase weighted median."""
import math

from pyspark.sql import functions as F

from bigarrays_jl_spark.operators.graph import q62_hierarchy_depth
from bigarrays_jl_spark.operators.statistics import q64_weighted_median
from bigarrays_jl_spark.operators.temporal import q63_interval_concurrency
from bigarrays_jl_spark.sources.tables import load


def test_q62_depths_match_closed_form(spark, sf_dir):
    # the heap forest has a closed-form depth: d(0)=0, d(k)=⌊log2 k⌋+1
    rows = q62_hierarchy_depth(spark, sf_dir).collect()
    maxkey = load(spark, sf_dir, "part").agg(
        F.max("p_partkey")).first()[0]
    want = {}
    for k in range(maxkey + 1):
        d = 0 if k == 0 else int(math.log2(k)) + 1
        want[d] = want.get(d, 0) + 1
    got = {r["depth"]: r["n_parts"] for r in rows}
    assert got == want


def test_q62_six_rounds_cover_any_64bit_key():
    # pointer doubling jumps 2^r edges after r rounds; depth of key k
    # is ⌊log2 k⌋+1 ≤ 64 for any 64-bit key, and 2^6 = 64 covers it
    assert 2 ** 6 >= int(math.log2(2 ** 63 - 1)) + 1


def test_q63_matches_python_sweep(spark, sf_dir):
    rows = {r["max_cc"]: r["n_users"]
            for r in q63_interval_concurrency(spark, sf_dir).collect()}
    ev = load(spark, sf_dir, "events").select("user_id", "ts", "value") \
        .collect()
    per_user = {}
    for r in ev:
        s = int(r["ts"].timestamp())
        v = r["value"] if r["value"] is not None else 1.0
        e = s + int(math.floor(min(max(v, 1.0), 3600.0)))
        per_user.setdefault(r["user_id"], []).append((s, e))
    want = {}
    for ivs in per_user.values():
        pts = sorted([(s, 1) for s, _ in ivs] + [(e, -1) for _, e in ivs])
        cc = mx = 0
        for _, d in pts:                 # ends (-1) sort before starts
            cc += d
            mx = max(mx, cc)
        want[mx] = want.get(mx, 0) + 1
    assert rows == want


def test_q64_is_the_weighted_median(spark, sf_dir):
    rows = {r["flag"]: (r["w_median"], r["total_qty"])
            for r in q64_weighted_median(spark, sf_dir).collect()}
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity").collect()
    groups = {}
    for r in li:
        groups.setdefault(r["l_returnflag"], []).append(
            (round(r["l_extendedprice"] * 100), int(r["l_quantity"])))
    for flag, vals in groups.items():
        vals.sort()
        tot = sum(w for _, w in vals)
        cw = 0
        for cents, w in vals:
            cw += w
            if 2 * cw >= tot:
                assert rows[flag] == (cents / 100.0, tot)
                break


def test_q64_window_runs_over_histogram_not_rows(spark, sf_dir):
    # the scale claim: the cumulative window's input is the aggregated
    # (flag, cents) histogram — a partial_sum HashAggregate sits below
    # the Window node, so window rows ∝ distinct prices, not lineitems
    plan = (q64_weighted_median(spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString())
    win = plan.find("Window")
    agg = plan.find("HashAggregate", win)
    assert win != -1 and agg != -1, plan[:3000]
    assert "partial_sum" in plan, plan[:3000]


def test_q62_plan_no_cartesian(spark, sf_dir):
    plan = (q62_hierarchy_depth(spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
