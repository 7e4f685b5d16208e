"""Tests of operators/temporal.py."""

from collections import defaultdict

from pyspark.sql import functions as F

from bigarrays_jl_spark.operators.temporal import customer_reorder_gaps
from bigarrays_jl_spark.sources.tables import load


def test_reorder_gaps_match_python(spark, sf_dir):
    import datetime
    orders = (load(spark, sf_dir, "orders")
              .select("o_custkey", F.col("o_orderdate").cast("date")
                      .alias("d")).collect())
    seg = {r.c_custkey: r.c_mktsegment
           for r in load(spark, sf_dir, "customer")
           .select("c_custkey", "c_mktsegment").collect()}
    per_cust = defaultdict(list)
    epoch = datetime.date(1970, 1, 1)
    for r in orders:
        per_cust[r.o_custkey].append((r.d - epoch).days)
    gaps = defaultdict(list)
    for c, days in per_cust.items():
        days.sort()
        for a, b in zip(days, days[1:]):
            gaps[seg[c]].append(b - a)
    got = {r.c_mktsegment: (r.n_gaps, r.p50_gap_days, r.p90_gap_days)
           for r in customer_reorder_gaps(spark, sf_dir).collect()}
    assert set(got) == set(gaps)
    for s, ds in gaps.items():
        ds.sort()
        n = len(ds)
        p50 = next(d for i, d in enumerate(ds) if 2 * (i + 1) >= n)
        p90 = next(d for i, d in enumerate(ds) if 10 * (i + 1) >= 9 * n)
        assert got[s] == (n, p50, p90)
