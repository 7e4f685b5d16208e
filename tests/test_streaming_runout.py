"""Streaming clamped inventory (applyInPandasWithState) vs the batch
non-associative scan.

The streamed state must equal the batch ``q75_stock_runout`` after any
prefix of the stream — including when moves arrive split across
micro-batches and when a user's last moves finalize only via the
event-time timeout (sentinel batches)."""

import datetime as dt

from pyspark.sql import functions as F

from bigarrays_jl_spark.operators.events import q75_stock_runout
from bigarrays_jl_spark.sources.tables import load
from bigarrays_jl_spark.streaming.runout import streaming_stock_runout

EVENT_SCHEMA = ("user_id long, event_id long, event_type string, "
                "ts timestamp, value double")


def _feed(spark, src, ckpt, files, name):
    import os
    os.makedirs(src, exist_ok=True)
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    q = (streaming_stock_runout(stream).writeStream
         .outputMode("append").format("memory")
         .queryName(name).option("checkpointLocation", ckpt).start())
    try:
        for df in files:
            df.coalesce(1).write.mode("append").parquet(src)
            q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {name}")


def _sentinels(spark, n=2):
    return [spark.createDataFrame(
        [(-1, -1 - i, "noop", dt.datetime(2030, 1, 1 + i), 0.0)],
        EVENT_SCHEMA)
        for i in range(n)]


def _latest(rows):
    best = {}
    for r in rows:
        if r["user_id"] == -1:
            continue
        cur = best.get(r["user_id"])
        if cur is None or r["n_moves"] > cur[0]:
            best[r["user_id"]] = (r["n_moves"], r["n_stockouts"],
                                  r["final_balance"])
    return best


def test_streaming_runout_matches_batch(spark, sf_dir, tmp_path):
    e = (load(spark, sf_dir, "events")
         .select("user_id", "event_id", "event_type", "ts", "value",
                 F.col("ts").cast("long").alias("sec")))
    lo, hi = e.agg(F.min("sec"), F.max("sec")).first()
    cut1, cut2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
    batches = [e.filter(F.col("sec") <= cut1).drop("sec"),
               e.filter((F.col("sec") > cut1)
                        & (F.col("sec") <= cut2)).drop("sec"),
               e.filter(F.col("sec") > cut2).drop("sec")]
    got = _latest(_feed(spark, str(tmp_path / "src"),
                        str(tmp_path / "ckpt"),
                        batches + _sentinels(spark), "t_runout").collect())
    want = {r["user_id"]: (r["n_moves"], r["n_stockouts"],
                           r["final_balance"])
            for r in q75_stock_runout(spark, sf_dir).collect()}
    assert got == want
    # snapshots are monotone in n_moves per user and the clamp fired
    assert any(v[1] > 0 for v in got.values())


def test_streaming_runout_prefix_equals_batch_prefix(spark, sf_dir,
                                                     tmp_path):
    """After feeding only the first half (plus sentinels), the state
    equals the batch scan restricted to that half."""
    e = (load(spark, sf_dir, "events")
         .select("user_id", "event_id", "event_type", "ts", "value",
                 F.col("ts").cast("long").alias("sec")))
    lo, hi = e.agg(F.min("sec"), F.max("sec")).first()
    mid = (lo + hi) // 2
    half = e.filter(F.col("sec") <= mid).drop("sec")
    got = _latest(_feed(spark, str(tmp_path / "src"),
                        str(tmp_path / "ckpt"),
                        [half] + _sentinels(spark), "t_runout_p").collect())

    from bigarrays_jl_spark.operators.events import VQ
    per_user = {}
    rows = sorted(half.collect(), key=lambda r: (r["ts"], r["event_id"]))
    for r in rows:
        if r["event_type"] not in ("click", "purchase"):
            continue
        d = int(round(r["value"] * VQ))
        if r["event_type"] == "purchase":
            d = -d
        per_user.setdefault(r["user_id"], []).append(d)
    want = {}
    for u, ds in per_user.items():
        bal, so = 0, 0
        for d in ds:
            nb = bal + d
            if nb < 0:
                so, nb = so + 1, 0
            bal = nb
        want[u] = (len(ds), so, bal)
    assert got == want


def test_streaming_runout_idle_ttl_evicts_and_restarts(spark, tmp_path):
    """With ``idle_ttl_s`` set, a quiet user's state is dropped after
    the TTL (the pre-eviction snapshot was already emitted) and a later
    reappearance restarts the recurrence from zero — the documented
    re-admission contract.  Without the TTL the recurrence continues."""
    import os

    from bigarrays_jl_spark.operators.events import VQ

    t = dt.datetime(2020, 1, 1)

    def mk(rows):
        return spark.createDataFrame(rows, EVENT_SCHEMA)

    def noop(minutes, i):
        return mk([(-1, -100 - i, "noop",
                    t + dt.timedelta(minutes=minutes), 0.0)])

    batches = [
        mk([(1, 1, "click", t, 5.0),                       # +5
            (1, 2, "purchase", t + dt.timedelta(minutes=10), 10.0)]),
        noop(120, 0),     # wm→00:10: both moves finalize, snapshot out
        noop(150, 1),     # wm→02:00: TTL (1 h past 00:10) fires → evict
        mk([(1, 3, "click", t + dt.timedelta(minutes=180), 3.0)]),
        noop(300, 2),     # wm→02:30 admits the 03:00 move
        noop(330, 3),     # wm→05:00: timeout finalizes it
    ]

    def run(name, **kw):
        src, ckpt = str(tmp_path / f"src_{name}"), str(tmp_path / f"ck_{name}")
        os.makedirs(src, exist_ok=True)
        stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
        q = (streaming_stock_runout(stream, **kw).writeStream
             .outputMode("append").format("memory")
             .queryName(name).option("checkpointLocation", ckpt).start())
        try:
            for df in batches:
                df.coalesce(1).write.mode("append").parquet(src)
                q.processAllAvailable()
        finally:
            q.stop()
        return sorted((r["n_moves"], r["n_stockouts"], r["final_balance"])
                      for r in spark.sql(f"SELECT * FROM {name}").collect()
                      if r["user_id"] == 1)

    # TTL on: balance restarts from zero after eviction (n resets too)
    assert run("t_ttl", idle_ttl_s=3600) == \
        [(1, 0, 3 * VQ), (2, 1, 0)]
    # TTL off (default): the recurrence continues across the quiet gap
    assert run("t_nottl") == [(2, 1, 0), (3, 1, 3 * VQ)]
