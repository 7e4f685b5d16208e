"""Tests of operators/statistics.py."""

from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F

from bigarrays_jl_spark.operators.dedup import dedup_cluster_hist
from bigarrays_jl_spark.operators.statistics import (TRI_TOPK, basket_triples,
                                                     leadtime_quantiles,
                                                     lorenz_curve,
                                                     q98_fano_burstiness)
from bigarrays_jl_spark.operators.text import ngram_novelty
from bigarrays_jl_spark.sources.tables import load


def test_fano_matches_python(spark, sf_dir):
    rows = (load(spark, sf_dir, "events")
            .select("event_type", F.col("ts").cast("long").alias("sec"))
            .collect())
    cells = Counter((r.event_type, r.sec // 3600) for r in rows)
    per_type = defaultdict(list)
    for (t, _h), c in cells.items():
        per_type[t].append(c)
    got = {r.event_type: (r.n_hours, r.mean_per_hour, r.fano)
           for r in q98_fano_burstiness(spark, sf_dir).collect()}
    assert set(got) == set(per_type)
    for t, cs in per_type.items():
        n, s, ss = len(cs), sum(cs), sum(c * c for c in cs)
        mean = s / n
        fano = (n * ss - s * s) / (n * s)
        assert got[t][0] == n
        assert got[t][1] == pytest.approx(round(mean, 6), abs=1e-6)
        assert got[t][2] == pytest.approx(round(fano, 6), abs=1e-6)


def test_leadtime_matches_python_percentiles(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority")
    rows = (li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .select("o_orderpriority",
                    F.datediff(F.col("l_shipdate").cast("date"),
                               F.col("o_orderdate").cast("date"))
                    .alias("d")).collect())
    per = defaultdict(list)
    for r in rows:
        per[r.o_orderpriority].append(r.d)
    got = {r.o_orderpriority: (r.n_lineitems, r.p50_days, r.p90_days)
           for r in leadtime_quantiles(spark, sf_dir).collect()}
    assert set(got) == set(per)
    for p, ds in per.items():
        ds.sort()
        n = len(ds)
        # repo quantile rule: smallest d with den*cum >= num*tot
        p50 = next(d for i, d in enumerate(ds) if 2 * (i + 1) >= n)
        p90 = next(d for i, d in enumerate(ds) if 10 * (i + 1) >= 9 * n)
        assert got[p] == (n, p50, p90)


def test_triples_match_python_bruteforce(spark, sf_dir):
    li = (load(spark, sf_dir, "lineitem")
          .join(load(spark, sf_dir, "part")
                .select("p_partkey", "p_brand"),
                F.col("l_partkey") == F.col("p_partkey"))
          .select("l_orderkey", "p_brand").distinct().collect())
    baskets = defaultdict(set)
    for r in li:
        baskets[r.l_orderkey].add(r.p_brand)
    sup = Counter()
    from itertools import combinations
    for items in baskets.values():
        for tri in combinations(sorted(items), 3):
            sup[tri] += 1
    want = sorted(((s, *t) for t, s in sup.items()),
                  key=lambda r: (-r[0], r[1], r[2], r[3]))[:TRI_TOPK]
    got = [(r.triple_sup, r.brand_a, r.brand_b, r.brand_c)
           for r in basket_triples(spark, sf_dir).collect()]
    got.sort(key=lambda r: (-r[0], r[1], r[2], r[3]))
    assert got == want and len(got) == TRI_TOPK


def test_t_closeness_matches_python(spark, sf_dir):
    from bigarrays_jl_spark.operators.statistics import T_BINS, q99_t_closeness
    rows = (load(spark, sf_dir, "customer")
            .select("c_mktsegment", "c_nationkey",
                    F.round(F.col("c_acctbal") * 100).cast("bigint")
                    .alias("cents")).collect())
    lo = min(r.cents for r in rows)
    hi = max(r.cents for r in rows)
    ng = len(rows)
    width = (hi - lo) / T_BINS + 1
    gdist = Counter()
    cdist = defaultdict(Counter)
    for r in rows:
        b = int((r.cents - lo) // width)
        gdist[b] += 1
        cdist[(r.c_mktsegment, r.c_nationkey)][b] += 1
    per_seg = defaultdict(list)
    for (seg, nat), cnt in cdist.items():
        nc = sum(cnt.values())
        s = cum_c = cum_g = 0
        for b in range(T_BINS - 1):
            cum_c += cnt.get(b, 0)
            cum_g += gdist.get(b, 0)
            s += abs(cum_c * ng - cum_g * nc)
        per_seg[seg].append(s / (nc * ng * (T_BINS - 1)))
    got = {r.c_mktsegment: (r.n_classes, r.max_t, r.n_violating)
           for r in q99_t_closeness(spark, sf_dir).collect()}
    assert set(got) == set(per_seg)
    for seg, ts in per_seg.items():
        import pytest as _pt
        assert got[seg][0] == len(ts)
        assert got[seg][1] == _pt.approx(round(max(ts), 6), abs=1e-6)
        assert got[seg][2] == sum(1 for t in ts if t > 0.2)


def test_lorenz_matches_python_bruteforce(spark, sf_dir):
    rows = (load(spark, sf_dir, "orders")
            .groupBy("o_custkey")
            .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
                 .alias("rev")).collect())
    revs = sorted(r.rev for r in rows)
    n, t = len(revs), sum(revs)
    got = {r.decile: (r.n_customers, r.lorenz_cents, r.lorenz_share)
           for r in lorenz_curve(spark, sf_dir).collect()}
    assert set(got) == set(range(1, 11))
    for k in range(1, 11):
        m = k * n // 10
        num = sum(revs[:m])
        assert got[k] == (m, num, num / t)
    # monotone non-decreasing, ends at exactly 1
    shares = [got[k][2] for k in range(1, 11)]
    assert shares == sorted(shares) and shares[-1] == 1.0
    # bottom decile holds less than a tenth of revenue (skew exists)
    assert shares[0] < 0.1


def test_round13_plan_shapes(spark, sf_dir):
    from bigarrays_jl_spark.plans.explain import (
        has_partial_aggregation, simple_plan, single_partition_windows)
    lz = lorenz_curve(spark, sf_dir)
    # the decile pick broadcasts 10 rows + 1 totals row — never a sort
    assert not single_partition_windows(lz)
    p = simple_plan(lz)
    assert "CartesianProduct" not in p
    nv = ngram_novelty(spark, sf_dir)
    assert has_partial_aggregation(nv)
    assert not single_partition_windows(nv)
    ch = dedup_cluster_hist(spark, sf_dir)
    assert has_partial_aggregation(ch)
    # two map-side-combined groupBys and nothing else: no funnel stage
    assert "Exchange SinglePartition" not in simple_plan(ch)


def test_q70_q72_histogram_fold_matches_row_fold(spark, sf_dir):
    """The weighted histogram census == the per-row census it
    replaced (count/outlier/winsorized sums fold identically)."""
    from bigarrays_jl_spark.operators.statistics import q70_mad_outliers
    from bigarrays_jl_spark.operators.statistics import q72_winsorized_mean
    li = [(r.l_returnflag, int(round(r.l_extendedprice * 100)))
          for r in load(spark, sf_dir, "lineitem")
          .select("l_returnflag", "l_extendedprice").collect()]

    q70 = {r.l_returnflag: r for r in q70_mad_outliers(spark, sf_dir).collect()}
    q72 = {r.l_returnflag: r for r in q72_winsorized_mean(spark, sf_dir).collect()}
    flags = {f for f, _ in li}
    assert set(q70) == flags and set(q72) == flags
    for f in flags:
        cents = [c for ff, c in li if ff == f]
        r70, r72 = q70[f], q72[f]
        assert r70.n == len(cents) == r72.n
        med = int(round(r70.median_price * 100))
        mad = int(round(r70.mad_price * 100))
        assert r70.n_outliers == sum(
            1 for c in cents if 2 * abs(c - med) > 3 * mad)
        lo = int(round(r72.fence_lo * 100))
        hi = int(round(r72.fence_hi * 100))
        assert r72.n_clamped == sum(1 for c in cents if c < lo or c > hi)
        wm = sum(max(min(c, hi), lo) for c in cents) / len(cents) / 100.0
        assert r72.winsorized_mean == pytest.approx(wm, rel=1e-12)
