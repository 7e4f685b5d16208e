"""Round-10 fourth batch: Pareto frontier, largest-remainder
allocation, CUSUM change-point."""
from bigarrays_jl_spark.operators.statistics import (CUSUM_THRESHOLD,
                                                     q65_pareto_frontier,
                                                     q66_allocation, q68_cusum)
from bigarrays_jl_spark.sources.tables import load


def test_pareto_frontier_matches_bruteforce(spark, sf_dir):
    got = {(r["p_partkey"], r["price_cents"], r["p_size"])
           for r in q65_pareto_frontier(spark, sf_dir).collect()}
    pts = [(r["p_partkey"], int(round(r["p_retailprice"] * 100)),
            r["p_size"])
           for r in load(spark, sf_dir, "part").collect()]
    exp = set()
    for k, c, s in pts:
        dominated = any(
            (c2 <= c and s2 >= s and (c2 < c or s2 > s))
            for _, c2, s2 in pts)
        if not dominated:
            exp.add((k, c, s))
    assert got == exp
    assert len(exp) > 0


def test_pareto_frontier_plan_no_self_join(spark, sf_dir):
    plan = (q65_pareto_frontier(spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # join-back is broadcast only


def test_allocation_sums_exactly_per_order(spark, sf_dir):
    tot = {r["o_orderkey"]: int(round(r["o_totalprice"] * 100))
           for r in load(spark, sf_dir, "orders").collect()}
    per_order = {}
    for r in load(spark, sf_dir, "lineitem").collect():
        per_order.setdefault(r["l_orderkey"], []).append(
            (r["l_linenumber"], r["l_partkey"], r["l_suppkey"],
             int(round(r["l_extendedprice"] * 100)), r["l_returnflag"]))
    agg = {}
    for ok, items in per_order.items():
        if ok not in tot:
            continue
        t, s = tot[ok], sum(e for _, _, _, e, _ in items)
        rows = [(ln, pk, sk, e, f, (t * e) // s, (t * e) % s)
                for ln, pk, sk, e, f in items]
        deficit = t - sum(r[5] for r in rows)
        assert 0 <= deficit < len(rows)
        # (rem desc, linenumber, partkey, suppkey, e, flag): the total
        # order the operator ranks by
        rows.sort(key=lambda r: (-r[6], r[0], r[1], r[2], r[3], r[4]))
        total_alloc = 0
        for i, (ln, pk, sk, e, f, b, _) in enumerate(rows):
            a = b + (1 if i < deficit else 0)
            total_alloc += a
            n, c, nb = agg.get(f, (0, 0, 0))
            agg[f] = (n + 1, c + a, nb + (1 if i < deficit else 0))
        assert total_alloc == t  # the invariant the method exists for
    got = {r["l_returnflag"]: (r["n_items"], r["allocated_cents"],
                               r["n_bumped"])
           for r in q66_allocation(spark, sf_dir).collect()}
    assert got == agg


def test_cusum_matches_python(spark, sf_dir):
    from decimal import ROUND_HALF_UP, Decimal
    got = {r["bucket"]: (r["n_breached"], r["sum_secs_to_breach"])
           for r in q68_cusum(spark, sf_dir).collect()}
    ev = [r for r in load(spark, sf_dir, "events").collect()
          if r["value"] is not None]
    mu = float(sum(Decimal(str(r["value"])) for r in ev)) / len(ev)
    per_user = {}
    for r in ev:
        per_user.setdefault(r["user_id"], []).append(
            (int(r["ts"].timestamp()), r["event_id"], r["value"]))
    agg = {}
    q = Decimal(1).scaleb(-12)
    for uid, rows in per_user.items():
        rows.sort()
        s, bt = Decimal(0), None
        for t, _, v in rows:
            s += Decimal(repr(v - mu)).quantize(q, ROUND_HALF_UP)
            if bt is None and abs(s) > CUSUM_THRESHOLD:
                bt = t
        if bt is not None:
            n, tot = agg.get(uid % 10, (0, 0))
            agg[uid % 10] = (n + 1, tot + (bt - rows[0][0]))
    assert got == agg
    assert sum(n for n, _ in agg.values()) > 0  # threshold is live


def test_cusum_threshold_not_degenerate(spark, sf_dir):
    """Some users breach and some don't — the detector discriminates."""
    n_users = (load(spark, sf_dir, "events")
               .filter("value IS NOT NULL")
               .select("user_id").distinct().count())
    n_breached = sum(r["n_breached"]
                     for r in q68_cusum(spark, sf_dir).collect())
    assert 0 < n_breached < n_users
