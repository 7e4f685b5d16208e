"""Tests of operators/ordering.py."""


def test_multi_pick_matches_per_pick_chains(spark):
    """bucketed_quantile_picks(specs) == the N independent
    bucketed_quantile_pick chains it replaced, joined on the group —
    including a group whose whole weight sits in one cell (every
    fraction picks the same value) and fractions at both extremes."""
    from bigarrays_jl_spark.operators.ordering import (
        bucketed_quantile_pick, bucketed_quantile_picks)

    rows = []
    # group 'a': values 1..100 weight 1 — textbook quantiles
    rows += [("a", v, 1) for v in range(1, 101)]
    # group 'b': skewed — one heavy cell plus a tail
    rows += [("b", 5, 1000), ("b", 7, 1), ("b", 9, 1)]
    # group 'c': single cell
    rows += [("c", 42, 3)]
    hist = spark.createDataFrame(rows, "g string, v long, w long")

    specs = [(1, 2, "p50"), (9, 10, "p90"), (99, 100, "p99"),
             (999, 1000, "p999")]
    got = {r.g: (r.p50, r.p90, r.p99, r.p999)
           for r in bucketed_quantile_picks(
               hist, "g", "v", "w", specs).collect()}

    want = {}
    for num, den, out in specs:
        for r in bucketed_quantile_pick(hist, "g", "v", "w",
                                        num, den, out).collect():
            want.setdefault(r.g, {})[out] = r[out]
    want = {g: (d["p50"], d["p90"], d["p99"], d["p999"])
            for g, d in want.items()}
    assert got == want
    # spot-check the textbook group against the integer rule directly
    assert got["a"] == (50, 90, 99, 100)
    # b: tot=1002; cum(5)=1000 covers p50/p90/p99 but 1000·999 < 1002·999+
    # — the p999 rule needs cum ≥ 1001, first reached at v=7
    assert got["b"] == (5, 5, 5, 7)
    assert got["c"] == (42, 42, 42, 42)
