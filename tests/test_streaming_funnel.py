"""Streaming day-funnel twin vs the batch operator: the per-DOW rollup
over watermark-finalized user-days equals day_funnel_conversion after
any finalized prefix, across multi-batch feeds and a restart."""

import datetime as dt
import os

from pyspark.sql import functions as F

from bigarrays_jl_spark.operators.events import day_funnel_conversion
from bigarrays_jl_spark.sources.tables import load
from bigarrays_jl_spark.streaming.funnel import (day_funnel_snapshot,
                                                 streaming_day_funnel)

EVENT_SCHEMA = "user_id long, event_id long, event_type string, ts timestamp"


def _sentinels(spark, n=2):
    return [spark.createDataFrame(
        [(-1, -1 - i, "noop", dt.datetime(2030, 1, 1 + i))], EVENT_SCHEMA)
        for i in range(n)]


def _events(spark, sf_dir):
    return load(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts")


def _feed(spark, base, batches, restart_at=None):
    src = f"{base}/src"
    os.makedirs(src, exist_ok=True)
    sink, ck = f"{base}/sink", f"{base}/ck"

    def start():
        stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
        return (streaming_day_funnel(stream).writeStream
                .format("parquet").option("path", sink)
                .option("checkpointLocation", ck)
                .outputMode("append").start())

    q = start()
    try:
        for i, df in enumerate(batches):
            if restart_at is not None and i == restart_at:
                q.stop()
                q = start()
            df.coalesce(1).write.mode("append").parquet(src)
            q.processAllAvailable()
    finally:
        q.stop()
    return sink


def _split(spark, sf_dir, n):
    e = _events(spark, sf_dir).withColumn("sec", F.col("ts").cast("long"))
    lo, hi = e.agg(F.min("sec"), F.max("sec")).first()
    cuts = [lo + (hi - lo) * i // n for i in range(1, n)]
    bounds = [float("-inf")] + cuts + [float("inf")]
    return [e.filter((F.col("sec") > bounds[i])
                     & (F.col("sec") <= bounds[i + 1])).drop("sec")
            for i in range(n)]


def _rollup(df):
    return {r.dow: (r.n_user_days, r.n_reached_view, r.n_reached_click,
                    r.n_converted, r.rate) for r in df.collect()}


def test_funnel_snapshot_matches_batch_full_feed(spark, sf_dir, tmp_path):
    batches = _split(spark, sf_dir, 3)
    sink = _feed(spark, str(tmp_path), batches + _sentinels(spark))
    got = _rollup(day_funnel_snapshot(spark, sink))
    want = _rollup(day_funnel_conversion(spark, sf_dir))
    assert want and got == want
    assert sum(v[3] for v in want.values()) > 0   # conversions exist


def test_funnel_snapshot_matches_batch_on_prefix(spark, sf_dir, tmp_path):
    b1 = _split(spark, sf_dir, 3)[0]
    sink = _feed(spark, str(tmp_path), [b1] + _sentinels(spark))
    d = str(tmp_path / "batch_twin")
    b1.write.mode("overwrite").parquet(f"{d}/events.parquet")
    got = _rollup(day_funnel_snapshot(spark, sink))
    want = _rollup(day_funnel_conversion(spark, d))
    assert want and got == want


def test_funnel_restart_is_exactly_once(spark, sf_dir, tmp_path):
    batches = _split(spark, sf_dir, 3)
    sink = _feed(spark, str(tmp_path), batches + _sentinels(spark),
                 restart_at=2)
    got = _rollup(day_funnel_snapshot(spark, sink))
    want = _rollup(day_funnel_conversion(spark, sf_dir))
    assert got == want


def test_funnel_out_of_order_view_validates_earlier_click(spark, tmp_path):
    # click arrives in batch 1, the view that makes it count arrives
    # EARLIER in event time but LATER in batch order — the buffered
    # min-view/clicks state must still convert the day; a purchase
    # before the first valid click must NOT convert
    t0 = dt.datetime(2020, 1, 6)  # a Monday; day % 7 fixed per row

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    b1 = spark.createDataFrame(
        [(1, 10, "click", ts(30)), (1, 11, "purchase", ts(20)),
         (2, 20, "click", ts(30))], EVENT_SCHEMA)
    b2 = spark.createDataFrame(
        [(1, 12, "view", ts(10)), (1, 13, "purchase", ts(40)),
         (2, 21, "view", ts(40))], EVENT_SCHEMA)
    sink = _feed(spark, str(tmp_path), [b1, b2] + _sentinels(spark))
    rows = {(r.user_id, r.day): (r.reached_view, r.reached_click,
                                 r.converted)
            for r in spark.read.parquet(sink)
            .filter(F.col("user_id") >= 0).collect()}
    day = int(t0.timestamp()) // 86400
    # user 1: view@10 < click@30 < purchase@40 → converts (the
    # purchase@20 alone would not have)
    assert rows[(1, day)] == (1, 1, 1)
    # user 2: only click@30 then view@40 — no click after the view
    assert rows[(2, day)] == (1, 0, 0)
