"""Streaming interval_overlap_join twin vs the oracle-checked batch
operator: snapshot == batch after any finalized prefix, across
multi-batch feeds and a checkpoint restart (r11 verdict task 4).

Harness: one parquet-file source fed one file per micro-batch (the CEP
test discipline), two far-future sentinel batches to advance the
watermark past every real event and trigger append-mode emission of
the final open windows.  Sentinels use user_id −1 / type 'noop' — they
advance BOTH queries' watermarks (assigned pre-filter) and are
excluded by the snapshot.
"""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from bigarrays_jl_spark.operators.temporal import interval_overlap_join
from bigarrays_jl_spark.sources.tables import load
from bigarrays_jl_spark.streaming.intervals import (
    interval_overlap_snapshot, start_interval_queries)

EVENT_SCHEMA = "user_id long, event_id long, event_type string, ts timestamp"


def _sentinels(spark, n=2):
    # first advances the watermark past every real event; second makes
    # the emission batch run with that advanced watermark
    return [spark.createDataFrame(
        [(-1, -1 - i, "noop", dt.datetime(2030, 1, 1 + i))], EVENT_SCHEMA)
        for i in range(n)]


def _events(spark, sf_dir):
    return load(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts")


def _feed(spark, base, batches, restart_at=None):
    """Drive both finalization queries over one file-per-batch source.
    If restart_at=i, stop and restart both queries (same checkpoints)
    before feeding batch i — exactly-once must hold across the bounce."""
    src = f"{base}/src"
    os.makedirs(src, exist_ok=True)
    paths = (f"{base}/sess", f"{base}/burst",
             f"{base}/sess_ck", f"{base}/burst_ck")

    def start():
        stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
        return start_interval_queries(stream, *paths)

    qs, qb = start()
    try:
        for i, df in enumerate(batches):
            if restart_at is not None and i == restart_at:
                qs.stop()
                qb.stop()
                qs, qb = start()
            df.coalesce(1).write.mode("append").parquet(src)
            qs.processAllAvailable()
            qb.processAllAvailable()
    finally:
        qs.stop()
        qb.stop()
    return paths[0], paths[1]


def _batch_answer(spark, events_df, tmp):
    # the oracle-checked batch operator over exactly this event subset
    d = str(tmp / "batch_twin")
    events_df.write.mode("overwrite").parquet(f"{d}/events.parquet")
    return {tuple(r) for r in interval_overlap_join(spark, d).collect()}


def _split(spark, sf_dir, n):
    e = _events(spark, sf_dir).withColumn("sec", F.col("ts").cast("long"))
    lo, hi = e.agg(F.min("sec"), F.max("sec")).first()
    cuts = [lo + (hi - lo) * i // n for i in range(1, n)]
    bounds = [float("-inf")] + cuts + [float("inf")]
    return [e.filter((F.col("sec") > bounds[i])
                     & (F.col("sec") <= bounds[i + 1])).drop("sec")
            for i in range(n)]


def test_snapshot_matches_batch_full_feed(spark, sf_dir, tmp_path):
    batches = _split(spark, sf_dir, 3)
    sp, bp = _feed(spark, str(tmp_path), batches + _sentinels(spark))
    got = {tuple(r)
           for r in interval_overlap_snapshot(spark, sp, bp).collect()}
    want = {tuple(r) for r in interval_overlap_join(spark, sf_dir).collect()}
    assert want, "testdata must produce overlapping sessions/bursts"
    assert got == want


def test_snapshot_matches_batch_on_prefix(spark, sf_dir, tmp_path):
    # finalize only the first third of the stream: the snapshot must
    # equal the batch operator run on exactly that prefix
    b1 = _split(spark, sf_dir, 3)[0]
    sp, bp = _feed(spark, str(tmp_path), [b1] + _sentinels(spark))
    got = {tuple(r)
           for r in interval_overlap_snapshot(spark, sp, bp).collect()}
    want = _batch_answer(spark, b1, tmp_path)
    assert want
    assert got == want


def test_restart_mid_stream_is_exactly_once(spark, sf_dir, tmp_path):
    # bounce both queries between batches; the parquet-sink commit logs
    # must dedupe replays and the final snapshot still equals batch
    batches = _split(spark, sf_dir, 3)
    sp, bp = _feed(spark, str(tmp_path), batches + _sentinels(spark),
                   restart_at=2)
    got = {tuple(r)
           for r in interval_overlap_snapshot(spark, sp, bp).collect()}
    want = {tuple(r) for r in interval_overlap_join(spark, sf_dir).collect()}
    assert got == want


def test_burst_windows_match_batch_islands(spark, sf_dir, tmp_path):
    # the finalized burst table itself (not just the rollup) must equal
    # the batch island merge: same (b_start, b_end) set
    batches = _split(spark, sf_dir, 2)
    _, bp = _feed(spark, str(tmp_path), batches + _sentinels(spark))
    got = {(r.b_start, r.b_end)
           for r in spark.read.parquet(bp).collect()}
    from bigarrays_jl_spark.operators.temporal import BURST_PAD_S
    e = _events(spark, sf_dir).withColumn("sec", F.col("ts").cast("long"))
    secs = sorted(r.sec for r in e.filter(F.col("event_type") == "error")
                  .select("sec").distinct().collect())
    want, start = set(), None
    prev = None
    for s in secs:
        if start is None:
            start = s
        elif s - prev > BURST_PAD_S:
            want.add((start, prev + BURST_PAD_S))
            start = s
        prev = s
    if start is not None:
        want.add((start, prev + BURST_PAD_S))
    assert got == want and len(want) > 0
