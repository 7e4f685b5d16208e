"""Streaming KMV distinct sketch vs the batch operator.

The sketch state is commutative and idempotent-mergeable, so after ANY
stream prefix — however the rows were batched, and even with replayed
deliveries — the (kth_min, estimate) per type equals the batch
operator over the same prefix.  No watermark discipline involved;
that's the property that makes sketches the easy case at 100 TB."""

import datetime as dt

from pyspark.sql import functions as F

from bigarrays_jl_spark.operators.estimation import KMV_K, kmv_distinct_users
from bigarrays_jl_spark.sources.tables import load
from bigarrays_jl_spark.streaming.kmv import streaming_kmv_distinct

EVENT_SCHEMA = "event_type string, user_id long, ts timestamp"


def _run(spark, tmp_path, files, name):
    import os
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    q = (streaming_kmv_distinct(stream).writeStream
         .outputMode("append").format("memory")
         .queryName(name)
         .option("checkpointLocation", str(tmp_path / "ckpt")).start())
    try:
        for df in files:
            df.coalesce(1).write.mode("append").parquet(src)
            q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {name}")


def test_streaming_kmv_matches_batch(spark, sf_dir, tmp_path):
    e = (load(spark, sf_dir, "events")
         .select("event_type", "user_id", "ts",
                 F.col("event_id").alias("eid")))
    lo, hi = e.agg(F.min("eid"), F.max("eid")).first()
    cut = lo + (hi - lo) // 2
    batches = [
        e.filter(F.col("eid") <= cut).drop("eid"),
        e.filter(F.col("eid") > cut).drop("eid"),
        # replay the first half: set semantics must make it a no-op
        e.filter(F.col("eid") <= cut).drop("eid"),
    ]
    out = _run(spark, tmp_path, batches, "t_kmv").collect()
    # freshest snapshot per type = the row with the most minima, then
    # the smallest kth (kth_min is non-increasing as the sketch fills)
    latest = {}
    for r in out:
        cur = latest.get(r["event_type"])
        key = (r["n_mins"], -(r["kth_min"] or 0))
        if cur is None or key > (cur["n_mins"], -(cur["kth_min"] or 0)):
            latest[r["event_type"]] = r
    want = {r["event_type"]: r
            for r in kmv_distinct_users(spark, sf_dir).collect()}
    assert set(latest) == set(want)
    for t, w in want.items():
        got = latest[t]
        assert got["n_mins"] == min(KMV_K, w["n_exact"])
        assert abs(got["kmv_estimate"] - w["kmv_estimate"]) < 1e-9, \
            (t, got["kmv_estimate"], w["kmv_estimate"])


def test_streaming_kmv_small_sketch_prefix(spark, tmp_path):
    """Below k distinct users the 'estimate' is the exact fill count."""
    t = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [("view", i % 5, t) for i in range(40)], EVENT_SCHEMA)
    out = _run(spark, tmp_path, [df], "t_kmv_small").collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_mins"] == 5 and r["kth_min"] is None
    assert r["kmv_estimate"] == 5.0


def test_streaming_kmv_survives_restart(spark, tmp_path):
    """Stop the query, restart from the same checkpoint, feed more
    data: sketch state must carry across the restart (state-store
    continuity, not a from-scratch refit).  Parquet sink — the memory
    sink doesn't support checkpoint recovery."""
    import hashlib
    import os

    t = dt.datetime(2024, 1, 1)
    src, out, ckpt = (str(tmp_path / "src"), str(tmp_path / "out"),
                      str(tmp_path / "ckpt"))
    os.makedirs(src, exist_ok=True)

    def run_once():
        stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
        q = (streaming_kmv_distinct(stream).writeStream
             .outputMode("append").format("parquet")
             .option("path", out)
             .option("checkpointLocation", ckpt).start())
        q.processAllAvailable()
        q.stop()

    spark.createDataFrame([("view", u, t) for u in range(100)],
                          EVENT_SCHEMA) \
        .coalesce(1).write.mode("append").parquet(src)
    run_once()
    spark.createDataFrame([("view", u, t) for u in range(100, 200)],
                          EVENT_SCHEMA) \
        .coalesce(1).write.mode("append").parquet(src)
    run_once()

    rows = spark.read.parquet(out).collect()
    latest = max(rows, key=lambda r: (r["n_mins"], -(r["kth_min"] or 0)))
    # the post-restart sketch must reflect ALL 200 users, not just the
    # 100 fed after the restart: kth == k-th smallest md5 over all 200
    assert latest["n_mins"] == KMV_K
    hs = sorted(int(hashlib.md5(str(u).encode()).hexdigest()[:15], 16)
                for u in range(200))
    assert latest["kth_min"] == hs[KMV_K - 1]


def test_streaming_union_snapshot_matches_batch(spark, sf_dir, tmp_path):
    """Mergeability end-to-end: persist the minima stream, then derive
    PAIRWISE union estimates from the sink alone — they must equal the
    batch sketch_union_distinct estimates, both after a prefix and
    after the full feed (fresh sink/checkpoint per stage, since the
    sketch never un-learns)."""
    import os

    from bigarrays_jl_spark.operators.estimation import sketch_union_distinct
    from bigarrays_jl_spark.streaming.kmv import (kmv_union_snapshot,
                                                  streaming_kmv_minima)

    e = (load(spark, sf_dir, "events")
         .select("event_type", "user_id", "ts",
                 F.col("event_id").alias("eid")))
    lo, hi = e.agg(F.min("eid"), F.max("eid")).first()
    cut = lo + (hi - lo) // 2

    def run(tag, batches):
        src = str(tmp_path / f"src_{tag}")
        os.makedirs(src, exist_ok=True)
        sink = str(tmp_path / f"sink_{tag}")
        stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
        q = (streaming_kmv_minima(stream).writeStream
             .outputMode("append").format("parquet")
             .option("path", sink)
             .option("checkpointLocation", str(tmp_path / f"ck_{tag}"))
             .start())
        try:
            for df in batches:
                df.coalesce(1).write.mode("append").parquet(src)
                q.processAllAvailable()
        finally:
            q.stop()
        return sink

    def batch_estimates(events_df):
        d = str(tmp_path / "batch_events")
        events_df.write.mode("overwrite").parquet(f"{d}/events.parquet")
        return {(r.type_a, r.type_b): r.kmv_estimate
                for r in sketch_union_distinct(spark, d).collect()}

    prefix = e.filter(F.col("eid") <= cut).drop("eid")
    sink = run("prefix", [prefix])
    got = {(r.type_a, r.type_b): r.kmv_estimate
           for r in kmv_union_snapshot(spark, sink).collect()}
    assert got and got == batch_estimates(prefix)

    full = [prefix, e.filter(F.col("eid") > cut).drop("eid"),
            prefix]                      # replayed prefix: no-op
    sink = run("full", full)
    got = {(r.type_a, r.type_b): r.kmv_estimate
           for r in kmv_union_snapshot(spark, sink).collect()}
    assert got == batch_estimates(e.drop("eid"))
