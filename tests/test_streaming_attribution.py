"""Streaming multi-touch attribution (applyInPandasWithState) vs the
batch largest-remainder operator.

The allocation is only correct when purchases finalize AFTER every
view that could enter their lookback — these tests drive multi-batch
feeds whose splits land inside lookback windows, plus the timeout path
(the last purchases finalize with no further real rows)."""

import datetime as dt

from pyspark.sql import functions as F

from bigarrays_jl_spark.operators.events import q76_attribution
from bigarrays_jl_spark.sources.tables import load
from bigarrays_jl_spark.streaming.attribution import streaming_attribution

EVENT_SCHEMA = ("user_id long, event_id long, event_type string, "
                "ts timestamp, value double, props string")


def _feed(spark, src, ckpt, files, name):
    import os
    os.makedirs(src, exist_ok=True)
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    q = (streaming_attribution(stream).writeStream
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
        [(-1, -1 - i, "noop", dt.datetime(2030, 1, 1 + i), 0.0, "{}")],
        EVENT_SCHEMA)
        for i in range(n)]


def test_streaming_attribution_matches_batch(spark, sf_dir, tmp_path):
    e = (load(spark, sf_dir, "events")
         .select("user_id", "event_id", "event_type", "ts", "value",
                 "props", F.col("ts").cast("long").alias("sec")))
    lo, hi = e.agg(F.min("sec"), F.max("sec")).first()
    cut1, cut2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
    batches = [e.filter(F.col("sec") <= cut1).drop("sec"),
               e.filter((F.col("sec") > cut1)
                        & (F.col("sec") <= cut2)).drop("sec"),
               e.filter(F.col("sec") > cut2).drop("sec")]
    rows = _feed(spark, str(tmp_path / "src"), str(tmp_path / "ckpt"),
                 batches + _sentinels(spark), "t_attr")
    got = {r["channel"]: (r["attributed_cents"], r["n_touches"],
                          r["n_purchases"])
           for r in (rows.filter(F.col("user_id") >= 0)
                     .groupBy("channel")
                     .agg(F.sum("alloc").cast("bigint")
                           .alias("attributed_cents"),
                          F.count("*").alias("n_touches"),
                          F.countDistinct("p_id").alias("n_purchases"))
                     .collect())}
    want = {r["channel"]: (r["attributed_cents"], r["n_touches"],
                           r["n_purchases"])
            for r in q76_attribution(spark, sf_dir).collect()}
    assert got == want
    # multiple channels genuinely received allocations
    assert len(got) > 1


def test_streaming_attribution_cent_conservation(spark, sf_dir,
                                                 tmp_path):
    """Every allocated purchase's cents sum exactly to its price —
    the largest-remainder invariant survives streaming finalization."""
    e = (load(spark, sf_dir, "events")
         .select("user_id", "event_id", "event_type", "ts", "value",
                 "props"))
    rows = _feed(spark, str(tmp_path / "src"), str(tmp_path / "ckpt"),
                 [e] + _sentinels(spark), "t_attr_c")
    alloc = (rows.filter(F.col("user_id") >= 0)
             .groupBy("p_id").agg(F.sum("alloc").alias("tot")))
    p = (load(spark, sf_dir, "events")
         .filter(F.col("event_type") == "purchase")
         .select(F.col("event_id").alias("p_id"),
                 F.round(F.col("value") * 100).cast("bigint")
                  .alias("cents")))
    bad = (alloc.join(p, "p_id")
           .filter(F.col("tot") != F.col("cents")).count())
    assert bad == 0
    assert alloc.count() > 0


def test_streaming_attribution_idle_state_evicted(spark, tmp_path):
    """Touches older than watermark − 24 h can never re-enter any
    future purchase's lookback, so a quiet user's state must vanish
    (r10 verdict task 7) — observed via the state-store row count."""
    import os

    from bigarrays_jl_spark.operators.events import ATTR_WINDOW_S

    t = dt.datetime(2020, 1, 1)

    def mk(rows):
        return spark.createDataFrame(rows, EVENT_SCHEMA)

    def noop(hours, i):
        return mk([(-1, -100 - i, "noop",
                    t + dt.timedelta(hours=hours), 0.0, "{}")])

    batches = [
        mk([(1, 1, "view", t, 0.0, '{"k": 1}'),
            (1, 2, "view", t + dt.timedelta(minutes=5), 0.0, '{"k": 2}')]),
        noop(1, 0),    # wm→00:05: views finalize into the touch list
        noop(26, 1),   # wm→01:00: TTL armed at 00:05+24h, not yet due
        noop(27, 2),   # wm→26:00: TTL fires → touches pruned, state gone
        noop(28, 3),   # one more batch so metrics reflect the removal
    ]
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    q = (streaming_attribution(stream).writeStream
         .outputMode("append").format("memory")
         .queryName("t_attr_ttl").option("checkpointLocation", ckpt).start())
    totals = []
    try:
        for df in batches:
            df.coalesce(1).write.mode("append").parquet(src)
            q.processAllAvailable()
            prog = q.lastProgress
            if prog and prog["stateOperators"]:
                totals.append(prog["stateOperators"][0]["numRowsTotal"])
    finally:
        q.stop()
    assert ATTR_WINDOW_S == 24 * 3600          # the proof's constant
    assert totals and totals[1] >= 1           # touches held while live
    assert totals[-1] == 0, totals             # …and evicted when idle
    # no spurious allocations were emitted by the eviction machinery
    assert spark.sql("SELECT * FROM t_attr_ttl").count() == 0
