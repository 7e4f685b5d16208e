"""Tests of operators/estimation.py."""

import hashlib
import shutil
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from bigarrays_jl_spark.operators.estimation import (CM_D, CM_TOPK, CM_W,
                                                     HASH_BITS, KMV_K,
                                                     cm_heavyhitters,
                                                     cm_sketch_of,
                                                     events_hdr_quantiles,
                                                     gram_counts,
                                                     sketch_union_distinct)
from bigarrays_jl_spark.sources.tables import load


def _h60(uid) -> int:
    return int(hashlib.md5(str(uid).encode()).hexdigest()[:15], 16)


def test_sketch_union_matches_python_kmv(spark, sf_dir):
    rows = (load(spark, sf_dir, "events")
            .select("event_type", "user_id").distinct().collect())
    by_type = defaultdict(set)
    for r in rows:
        by_type[r.event_type].add(r.user_id)
    got = {(r.type_a, r.type_b): (r.n_exact, r.kmv_estimate)
           for r in sketch_union_distinct(spark, sf_dir).collect()}
    types = sorted(by_type)
    assert len(got) == len(types) * (len(types) - 1) // 2
    for i, ta in enumerate(types):
        for tb in types[i + 1:]:
            mins_a = sorted(_h60(u) for u in by_type[ta])[:KMV_K]
            mins_b = sorted(_h60(u) for u in by_type[tb])[:KMV_K]
            union = sorted(set(mins_a) | set(mins_b))
            exact = len(by_type[ta] | by_type[tb])
            if len(union) >= KMV_K:
                est = (KMV_K - 1) / (union[KMV_K - 1] / 2 ** HASH_BITS)
            else:
                est = float(exact)
            n, e = got[(ta, tb)]
            assert n == exact
            assert e == pytest.approx(round(est, 4), abs=1e-4)
            # the merged estimate must actually estimate: within 40% of
            # truth at k=64 (3-sigma of the KMV error bound 1/sqrt(k-1))
            assert abs(e - exact) / exact < 0.40


def test_sketch_jaccard_estimates_within_kmv_band(spark, sf_dir):
    from bigarrays_jl_spark.operators.estimation import sketch_jaccard
    rows = sketch_jaccard(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # k=64 coincidence estimator: ±3σ ≈ ±3·sqrt(J(1−J)/k) plus
        # small-sample slack — catches a wrong estimator, not noise
        import math
        sigma = math.sqrt(max(r.jaccard_exact * (1 - r.jaccard_exact),
                              0.01) / 64)
        assert abs(r.jaccard_est - r.jaccard_exact) <= 3.5 * sigma + 0.02, r


def _hdr_lb(c: int) -> int:
    s = str(abs(c))
    if len(s) <= 2:
        return c
    edge = int(s[:2]) * 10 ** (len(s) - 2)
    if c >= 0:
        return edge
    # exact negative edge is its own lower bound (r14 advice)
    return -edge if abs(c) == edge else -(edge + 10 ** (len(s) - 2))


def _python_hdr(rows):
    from collections import Counter, defaultdict
    hist = defaultdict(Counter)
    for t, c in rows:
        hist[t][_hdr_lb(c)] += 1
    out = {}
    for t, h in hist.items():
        tot = sum(h.values())
        lbs = sorted(h)
        def pick(num, den):
            cum = 0
            for lb in lbs:
                cum += h[lb]
                if den * cum >= num * tot:
                    return lb
        out[t] = (tot, len(lbs), pick(1, 2), pick(9, 10), pick(99, 100),
                  pick(999, 1000))
    return out


def test_hdr_quantiles_match_python(spark, sf_dir):
    rows = [(r.event_type, int(round(r.value * 100)))
            for r in load(spark, sf_dir, "events")
            .select("event_type", "value").collect()]
    want = _python_hdr(rows)
    got = {r.event_type: (r.n_events, r.n_buckets, r.p50_cents,
                          r.p90_cents, r.p99_cents, r.p999_cents)
           for r in events_hdr_quantiles(spark, sf_dir).collect()}
    assert got == want and len(got) > 0
    # boundedness + error contract: every bucket holds ≤ ~5% relative
    # error (lb ≤ c < lb + 10^(d-2) step), and the bucket count per key
    # is structurally ≤ 900ish regardless of data size
    for t, (_, n_buckets, p50, p90, p99, p999) in got.items():
        assert n_buckets <= 900
        assert p50 <= p90 <= p99 <= p999


def test_hdr_bucket_map_properties(spark):
    # JVM map == python map over awkward cents (0, single/double digit,
    # powers of ten, 9-runs)
    from bigarrays_jl_spark.operators.estimation import hdr_bucket_cents
    vals = [0, 1, 9, 10, 42, 99, 100, 101, 950, 999, 1000, 45678,
            99999, 100000, 31415926,
            -1, -42, -99, -100, -101, -999, -1000, -45678, -99999,
            -100000]
    df = spark.createDataFrame([(v,) for v in vals], "c long")
    got = {r.c: r.lb for r in
           df.select("c", hdr_bucket_cents(F.col("c")).alias("lb"))
           .collect()}
    assert got == {v: _hdr_lb(v) for v in vals}
    # monotone: lb(c) <= c and lb is non-decreasing in c
    lbs = [got[v] for v in sorted(vals)]
    assert lbs == sorted(lbs)
    assert all(got[v] <= v for v in vals)


def test_hdr_plan_shape(spark, sf_dir):
    from bigarrays_jl_spark.plans.explain import (has_partial_aggregation,
                                                  single_partition_windows)
    df = events_hdr_quantiles(spark, sf_dir)
    assert not single_partition_windows(df)
    assert has_partial_aggregation(df)


def test_streaming_hdr_snapshot_and_replay(spark, sf_dir, tmp_path):
    from bigarrays_jl_spark.streaming.hdr import (hdr_snapshot,
                                                  streaming_hdr_quantiles)
    e = load(spark, sf_dir, "events").select("event_type", "value")
    cut = e.agg(F.expr("percentile(value, 0.5)")).first()[0]
    src = str(tmp_path / "src")
    out, ckpt = (str(tmp_path / p) for p in ("out", "ckpt"))
    e.filter(F.col("value") <= cut).coalesce(1).write.parquet(src)

    def run():
        q = streaming_hdr_quantiles(
            spark.readStream.schema(e.schema).parquet(src), out, ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run()
    e.filter(F.col("value") > cut).coalesce(1) \
        .write.mode("append").parquet(src)
    run()                                   # restart on same checkpoint

    def rows(df):
        return {tuple(r) for r in df.collect()}

    want = rows(events_hdr_quantiles(spark, sf_dir))
    assert rows(hdr_snapshot(spark, out)) == want

    n = spark.read.parquet(out).count()
    shutil.rmtree(ckpt)                     # full replay as batch 0
    run()
    assert spark.read.parquet(out).count() == n, "partials duplicated"
    assert rows(hdr_snapshot(spark, out)) == want


def test_hdr_negative_edge_buckets(spark):
    # r14 advice: exact negative bucket edges are their own lower
    # bound — lb(-100) = -100 (was -110), lb(-110) = -110 (was -120) —
    # so negative buckets are [lb, lb+w) like positives and the
    # relative error at edges is 0, within the ~5% documented bound
    from bigarrays_jl_spark.operators.estimation import hdr_bucket_cents
    vals = [-100, -110, -120, -1000, -45000, -99000, -100000]
    df = spark.createDataFrame([(v,) for v in vals], "c long")
    got = {r.c: r.lb for r in
           df.select("c", hdr_bucket_cents(F.col("c")).alias("lb"))
           .collect()}
    assert got == {v: v for v in vals}          # edges map to themselves
    # and one off-edge value still rounds DOWN (lb <= c)
    off = spark.createDataFrame([(-101,), (-111,), (-45001,)], "c long")
    got_off = {r.c: r.lb for r in
               off.select("c", hdr_bucket_cents(F.col("c")).alias("lb"))
               .collect()}
    assert got_off == {-101: -110, -111: -120, -45001: -46000}


def test_hdr_merge_matches_unsharded(spark, sf_dir):
    # merge-of-sketches == sketch-of-union: the two-shard merge query's
    # P50/P99/P999 equal the single-pass quantiles of the full stream
    from bigarrays_jl_spark.operators.estimation import events_hdr_merge
    merged = {r.event_type: (r.n_events, r.p50_cents, r.p99_cents,
                             r.p999_cents)
              for r in events_hdr_merge(spark, sf_dir).collect()}
    full = {r.event_type: (r.n_events, r.p50_cents, r.p99_cents,
                           r.p999_cents)
            for r in events_hdr_quantiles(spark, sf_dir).collect()}
    assert merged == full and len(merged) > 0


def test_streaming_hdr_merge_two_streams(spark, sf_dir, tmp_path):
    # two INDEPENDENT streams (disjoint user shards, overlapping
    # event_type keys) each keep their own partial table; the merged
    # snapshot equals the batch operator over the union — exercising
    # mergeability across SKETCHES, not just across batches of one
    # stream (r14 verdict task 6)
    from bigarrays_jl_spark.streaming.hdr import (hdr_merge_snapshot,
                                                  streaming_hdr_quantiles)
    e = load(spark, sf_dir, "events").select("event_type", "value",
                                             "user_id")
    outs = []
    for shard in (0, 1):
        src = str(tmp_path / f"src{shard}")
        out, ckpt = (str(tmp_path / f"{p}{shard}") for p in ("out", "ckpt"))
        (e.filter(F.col("user_id") % 2 == shard)
         .select("event_type", "value").coalesce(1).write.parquet(src))
        q = streaming_hdr_quantiles(
            spark.readStream.schema("event_type string, value double")
            .parquet(src), out, ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        outs.append(out)

    got = {tuple(r) for r in hdr_merge_snapshot(spark, outs).collect()}
    want = {tuple(r) for r in events_hdr_quantiles(spark, sf_dir).collect()}
    assert got == want and len(want) > 0


def _py_bucket(j: int, gram: str) -> int:
    return int(hashlib.md5(f"{j}:{gram}".encode()).hexdigest()[:8],
               16) % CM_W


def _python_cm(texts):
    from collections import Counter
    exact = Counter()
    for t in texts:
        ws = t.split(" ")
        for i in range(len(ws) - 1):
            exact[ws[i] + " " + ws[i + 1]] += 1
    sketch = Counter()
    for g, n in exact.items():
        for j in range(CM_D):
            sketch[(j, _py_bucket(j, g))] += n
    top = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:CM_TOPK]
    return {g: (n, min(sketch[(j, _py_bucket(j, g))]
                       for j in range(CM_D)))
            for g, n in top}


def test_cm_heavyhitters_match_python(spark, sf_dir):
    texts = [r.text for r in
             load(spark, sf_dir, "documents").select("text").collect()]
    want = _python_cm(texts)
    got = {r.gram: (r.exact_n, r.cm_est)
           for r in cm_heavyhitters(spark, sf_dir).collect()}
    assert got == want and len(got) == CM_TOPK
    # the CM invariant: estimates never undershoot
    rows = cm_heavyhitters(spark, sf_dir).collect()
    assert all(r.overest >= 0 for r in rows)
    assert all(r.cm_est == r.exact_n + r.overest for r in rows)


def test_cm_sketch_is_bounded(spark, sf_dir):
    # the whole point: D x W counters at ANY corpus size
    n = cm_sketch_of(gram_counts(spark, sf_dir)).count()
    assert n <= CM_D * CM_W


def test_streaming_cm_snapshot_replay_and_merge(spark, sf_dir, tmp_path):
    from bigarrays_jl_spark.streaming.cm import (cm_merge_snapshot,
                                                 cm_snapshot,
                                                 streaming_cm_sketch)

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    half = d.agg(F.max("doc_id")).first()[0] // 2
    want = {tuple(r) for r in
            cm_sketch_of(gram_counts(spark, sf_dir)).collect()}

    # one stream, two batches with a restart between: snapshot == batch
    src = str(tmp_path / "src")
    out, ckpt = (str(tmp_path / p) for p in ("out", "ckpt"))
    d.filter(F.col("doc_id") <= half).coalesce(1).write.parquet(src)

    def run(s, o, c):
        q = streaming_cm_sketch(
            spark.readStream.schema(d.schema).parquet(s), o, c)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run(src, out, ckpt)
    d.filter(F.col("doc_id") > half).coalesce(1) \
        .write.mode("append").parquet(src)
    run(src, out, ckpt)
    assert {tuple(r) for r in cm_snapshot(spark, out).collect()} == want

    # full replay as batch 0: the guard keeps the partials exactly-once
    n = spark.read.parquet(out).count()
    shutil.rmtree(ckpt)
    run(src, out, ckpt)
    assert spark.read.parquet(out).count() == n, "partials duplicated"
    assert {tuple(r) for r in cm_snapshot(spark, out).collect()} == want

    # two INDEPENDENT streams over disjoint doc shards merge to the
    # batch sketch of the union — cross-sketch mergeability
    outs = []
    for shard in (0, 1):
        s = str(tmp_path / f"s{shard}")
        o, c = (str(tmp_path / f"{p}{shard}") for p in ("o", "c"))
        (d.filter(F.col("doc_id") % 2 == shard)
         .coalesce(1).write.parquet(s))
        run(s, o, c)
        outs.append(o)
    got = {tuple(r) for r in cm_merge_snapshot(spark, outs).collect()}
    assert got == want and len(want) > 0


def test_cm_heavyhitters_counts_grams_once(spark, sf_dir):
    # the top-k probes and the sketch both read one gram-count
    # aggregate: one documents scan, and the other side reads that
    # aggregate's exchange (a ReusedExchange) instead of scanning again
    from bigarrays_jl_spark.plans.explain import formatted_plan
    from tools.profile_query import plan_node_counts
    df = cm_heavyhitters(spark, sf_dir)
    df.collect()
    c = plan_node_counts(formatted_plan(df))
    assert c["parquet_scans"] == 1 and c["reused_exchanges"] >= 1, c
