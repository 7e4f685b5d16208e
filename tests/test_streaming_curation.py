"""Streaming twins of the r13 engagement/curation analytics
(streaming/curation.py): snapshot == batch twin on full, prefix-split,
and restarted feeds, plus the exactly-once replay contract."""

import shutil

import pytest
from pyspark.sql import functions as F

from bigarrays_jl_spark.operators.events import session_bounce_rate
from bigarrays_jl_spark.operators.text import boilerplate_prefixes
from bigarrays_jl_spark.sources.tables import load
from bigarrays_jl_spark.streaming.curation import (boilerplate_snapshot,
                                                   session_bounce_snapshot,
                                                   streaming_boilerplate,
                                                   streaming_session_bounce)


def _run(q):
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def _bounce_rows(df):
    return {(r.entry_type, r.n_sessions, r.n_bounces, r.bounce_rate)
            for r in df.collect()}


def _boiler_rows(df):
    return [(r.ph, r.n_docs, r.n_sources)
            for r in df.orderBy(F.desc("n_docs"), "ph").collect()]


def test_streaming_session_bounce_full_feed(spark, sf_dir, tmp_path):
    e = load(spark, sf_dir, "events").select("user_id", "ts", "event_id",
                                             "event_type")
    src = str(tmp_path / "src")
    st, out, ckpt = (str(tmp_path / p) for p in ("st", "out", "ckpt"))
    e.coalesce(1).write.parquet(src)
    _run(streaming_session_bounce(
        spark.readStream.schema(e.schema).parquet(src), st, out, ckpt))
    got = _bounce_rows(session_bounce_snapshot(spark, out, st))
    want = _bounce_rows(session_bounce_rate(spark, sf_dir))
    assert got == want and len(want) > 0


def test_streaming_session_bounce_prefix_split_and_restart(spark, sf_dir,
                                                           tmp_path):
    # event-time-ordered split at the median ts with a RESTART between:
    # sessions spanning the boundary must be MERGED by the durable open
    # state (entry type from the first half, event counts summed), and
    # the final snapshot must equal the batch operator exactly
    e = load(spark, sf_dir, "events").select("user_id", "ts", "event_id",
                                             "event_type")
    cut = e.agg(F.expr("percentile(cast(ts as long), 0.5)")).first()[0]
    src = str(tmp_path / "src")
    st, out, ckpt = (str(tmp_path / p) for p in ("st", "out", "ckpt"))
    e.filter(F.col("ts").cast("long") <= cut).coalesce(1).write.parquet(src)

    _run(streaming_session_bounce(
        spark.readStream.schema(e.schema).parquet(src), st, out, ckpt))
    # the boundary must actually split sessions for the merge to be
    # load-bearing: at least one user has events on both sides
    both = (e.groupBy("user_id")
            .agg(F.min(F.col("ts").cast("long")).alias("lo"),
                 F.max(F.col("ts").cast("long")).alias("hi"))
            .filter((F.col("lo") <= cut) & (F.col("hi") > cut)).count())
    assert both > 0, "split produced no cross-boundary users"

    e.filter(F.col("ts").cast("long") > cut).coalesce(1) \
        .write.mode("append").parquet(src)
    _run(streaming_session_bounce(
        spark.readStream.schema(e.schema).parquet(src), st, out, ckpt))

    got = _bounce_rows(session_bounce_snapshot(spark, out, st))
    want = _bounce_rows(session_bounce_rate(spark, sf_dir))
    assert got == want


def test_streaming_session_bounce_replay_exactly_once(spark, sf_dir,
                                                      tmp_path):
    e = load(spark, sf_dir, "events").select("user_id", "ts", "event_id",
                                             "event_type")
    src = str(tmp_path / "src")
    st, out, ckpt = (str(tmp_path / p) for p in ("st", "out", "ckpt"))
    e.coalesce(1).write.parquet(src)
    _run(streaming_session_bounce(
        spark.readStream.schema(e.schema).parquet(src), st, out, ckpt))
    before = _bounce_rows(session_bounce_snapshot(spark, out, st))
    n_partials = spark.read.parquet(out).count()

    shutil.rmtree(ckpt)              # whole source replays as batch 0
    _run(streaming_session_bounce(
        spark.readStream.schema(e.schema).parquet(src), st, out, ckpt))
    assert spark.read.parquet(out).count() == n_partials, \
        "partials duplicated"
    assert _bounce_rows(session_bounce_snapshot(spark, out, st)) == before


def test_streaming_boilerplate_full_and_split(spark, sf_dir, tmp_path):
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    half = d.agg(F.max("doc_id")).first()[0] // 2
    src = str(tmp_path / "src")
    idx, out, ckpt = (str(tmp_path / p) for p in ("idx", "out", "ckpt"))
    d.filter(F.col("doc_id") <= half).coalesce(1).write.parquet(src)

    _run(streaming_boilerplate(
        spark.readStream.schema(d.schema).parquet(src), idx, out, ckpt))
    d.filter(F.col("doc_id") > half).coalesce(1) \
        .write.mode("append").parquet(src)
    _run(streaming_boilerplate(
        spark.readStream.schema(d.schema).parquet(src), idx, out, ckpt))

    # the LAST monitor refresh and the snapshot both equal the batch
    # operator over the full corpus, in top-20 order
    want = _boiler_rows(boilerplate_prefixes(spark, sf_dir))
    assert _boiler_rows(boilerplate_snapshot(spark, idx)) == want
    last = spark.read.parquet(out).agg(F.max("batch_id")).first()[0]
    got_last = _boiler_rows(
        spark.read.parquet(out).filter(F.col("batch_id") == last)
        .drop("batch_id"))
    assert got_last == want and len(want) > 0


def test_streaming_boilerplate_replay_exactly_once(spark, sf_dir, tmp_path):
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    src = str(tmp_path / "src")
    idx, out, ckpt = (str(tmp_path / p) for p in ("idx", "out", "ckpt"))
    d.coalesce(1).write.parquet(src)
    _run(streaming_boilerplate(
        spark.readStream.schema(d.schema).parquet(src), idx, out, ckpt))
    n_out = spark.read.parquet(out).count()
    snap = _boiler_rows(boilerplate_snapshot(spark, idx))

    shutil.rmtree(ckpt)
    _run(streaming_boilerplate(
        spark.readStream.schema(d.schema).parquet(src), idx, out, ckpt))
    assert spark.read.parquet(out).count() == n_out, "monitor duplicated"
    assert _boiler_rows(boilerplate_snapshot(spark, idx)) == snap


def test_streaming_quality_funnel_split_and_replay(spark, sf_dir, tmp_path):
    from bigarrays_jl_spark.operators.pipeline import quality_filter_funnel
    from bigarrays_jl_spark.streaming.curation import (
        quality_funnel_snapshot, streaming_quality_funnel)

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    half = d.agg(F.max("doc_id")).first()[0] // 2
    src = str(tmp_path / "src")
    out, ckpt = (str(tmp_path / p) for p in ("out", "ckpt"))
    d.filter(F.col("doc_id") <= half).coalesce(1).write.parquet(src)

    def run():
        q = streaming_quality_funnel(
            spark.readStream.schema(d.schema).parquet(src), out, ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run()
    d.filter(F.col("doc_id") > half).coalesce(1) \
        .write.mode("append").parquet(src)
    run()                                   # restart on same checkpoint

    def rows(df):
        return {(r.stage, r.rule, r.n_in, r.n_out, r.retained_frac)
                for r in df.collect()}

    want = rows(quality_filter_funnel(spark, sf_dir))
    assert rows(quality_funnel_snapshot(spark, out)) == want

    n_partials = spark.read.parquet(out).count()
    shutil.rmtree(ckpt)                     # full replay as batch 0
    run()
    assert spark.read.parquet(out).count() == n_partials
    assert rows(quality_funnel_snapshot(spark, out)) == want


def test_read_index_or_none_footerless_dir(spark, tmp_path):
    # a crashed first append leaves out_path holding only _temporary
    # (no committed footers): the reader must treat it as "no committed
    # data" instead of raising UNABLE_TO_INFER_SCHEMA forever (which
    # would wedge every guarded bridge's replay — r14 review)
    import os

    from bigarrays_jl_spark.streaming.windows import (_batch_already_in,
                                                      _read_index_or_none)
    p = tmp_path / "out" / "_temporary" / "0"
    os.makedirs(p)
    assert _read_index_or_none(spark, str(tmp_path / "out")) is None
    assert _batch_already_in(spark, str(tmp_path / "out"), 0) is False


def test_session_bounce_ignores_uncommitted_state_version(spark, sf_dir,
                                                          tmp_path):
    # a half-written v(N) (no _SUCCESS) must be treated as uncommitted:
    # the replay recomputes from v<N instead of adopting partial state
    import os

    from bigarrays_jl_spark.streaming.curation import streaming_session_bounce

    e = load(spark, sf_dir, "events").select("user_id", "ts", "event_id",
                                             "event_type")
    src = str(tmp_path / "src")
    st, out, ckpt = (str(tmp_path / p) for p in ("st", "out", "ckpt"))
    e.coalesce(1).write.parquet(src)
    _run(streaming_session_bounce(
        spark.readStream.schema(e.schema).parquet(src), st, out, ckpt))
    want = _bounce_rows(session_bounce_snapshot(spark, out, st))

    # simulate a crash mid-overwrite of v0: strip its _SUCCESS marker
    # and drop a part file, then replay (checkpoint deleted)
    v0 = os.path.join(st, "v0")
    os.remove(os.path.join(v0, "_SUCCESS"))
    parts = [f for f in os.listdir(v0) if f.startswith("part-")]
    os.remove(os.path.join(v0, parts[0]))
    shutil.rmtree(ckpt)
    _run(streaming_session_bounce(
        spark.readStream.schema(e.schema).parquet(src), st, out, ckpt))
    # the replay rebuilt v0 from scratch (partials were committed, so it
    # recomputes state only) and the snapshot is intact
    assert os.path.exists(os.path.join(v0, "_SUCCESS"))
    assert _bounce_rows(session_bounce_snapshot(spark, out, st)) == want


def test_session_bounce_state_gc_keeps_last_two(spark, sf_dir, tmp_path):
    # r14 verdict task 2: a long-running stream must not accumulate one
    # state version per batch — after N batches exactly the newest 2
    # committed versions survive, and the snapshot is still exact
    import os

    e = load(spark, sf_dir, "events").select("user_id", "ts", "event_id",
                                             "event_type")
    cuts = e.agg(
        F.expr("percentile(cast(ts as long), array(0.33, 0.66))")
    ).first()[0]
    lo, hi = int(cuts[0]), int(cuts[1])
    src = str(tmp_path / "src")
    st, out, ckpt = (str(tmp_path / p) for p in ("st", "out", "ckpt"))
    ts = F.col("ts").cast("long")

    e.filter(ts <= lo).coalesce(1).write.parquet(src)
    _run(streaming_session_bounce(
        spark.readStream.schema(e.schema).parquet(src), st, out, ckpt))
    e.filter((ts > lo) & (ts <= hi)).coalesce(1) \
        .write.mode("append").parquet(src)
    _run(streaming_session_bounce(
        spark.readStream.schema(e.schema).parquet(src), st, out, ckpt))
    e.filter(ts > hi).coalesce(1).write.mode("append").parquet(src)
    _run(streaming_session_bounce(
        spark.readStream.schema(e.schema).parquet(src), st, out, ckpt))

    vdirs = sorted(d for d in os.listdir(st) if d.startswith("v"))
    assert vdirs == ["v1", "v2"], f"GC left {vdirs}"
    got = _bounce_rows(session_bounce_snapshot(spark, out, st))
    want = _bounce_rows(session_bounce_rate(spark, sf_dir))
    assert got == want


def test_session_bounce_out_of_order_batch_raises(spark, sf_dir, tmp_path):
    # r14 verdict task 2: the per-user event-time ordering contract is
    # enforced — a batch carrying events OLDER than an open session
    # fails the micro-batch instead of silently mis-merging
    e = load(spark, sf_dir, "events").select("user_id", "ts", "event_id",
                                             "event_type")
    cut = e.agg(F.expr("percentile(cast(ts as long), 0.5)")).first()[0]
    src = str(tmp_path / "src")
    st, out, ckpt = (str(tmp_path / p) for p in ("st", "out", "ckpt"))
    ts = F.col("ts").cast("long")

    # deliberately shuffled feed: the LATER half arrives first
    e.filter(ts > cut).coalesce(1).write.parquet(src)
    _run(streaming_session_bounce(
        spark.readStream.schema(e.schema).parquet(src), st, out, ckpt))
    e.filter(ts <= cut).coalesce(1).write.mode("append").parquet(src)
    with pytest.raises(Exception, match="out-of-order"):
        _run(streaming_session_bounce(
            spark.readStream.schema(e.schema).parquet(src), st, out, ckpt))


def test_read_index_lost_data_files_raises(spark, tmp_path):
    # r14 advice: a durable index whose data files were LOST (dir and
    # _SUCCESS survive, part files gone) must NOT read as "no index
    # yet" — that would silently re-admit previously deduped docs.
    # Only the never-committed shape (no marker, no visible files)
    # reads as empty.
    import os

    from bigarrays_jl_spark.streaming.windows import _read_index_or_none
    p = tmp_path / "idx"
    os.makedirs(p / "_temporary" / "0")
    open(p / "_SUCCESS", "w").close()
    with pytest.raises(RuntimeError, match="corrupt"):
        _read_index_or_none(spark, str(p))


def test_guarded_append_control_flow(spark, tmp_path):
    # the shared exactly-once helper (streaming/replay.py, r14 verdict
    # task 5): write runs when the batch is new; on a replay whose
    # guarded append committed, only the repair hook runs
    from bigarrays_jl_spark.streaming.replay import guarded_append

    out = str(tmp_path / "out")
    calls = []

    def write():
        calls.append("write")
        spark.createDataFrame([(1, 0)], "x long, batch_id long") \
            .write.mode("append").parquet(out)

    def repair():
        calls.append("repair")

    assert guarded_append(spark, out, 0, write, repair) is True
    assert calls == ["write"]
    # same batch_id replays: write skipped, repair invoked
    assert guarded_append(spark, out, 0, write, repair) is False
    assert calls == ["write", "repair"]
    # a different batch_id is new work
    def write1():
        calls.append("write1")
        spark.createDataFrame([(2, 1)], "x long, batch_id long") \
            .write.mode("append").parquet(out)
    assert guarded_append(spark, out, 1, write1) is True
    assert calls == ["write", "repair", "write1"]
    assert spark.read.parquet(out).count() == 2


def test_guarded_rows_append_partitions_and_guards(spark, tmp_path):
    """The shared guarded-write layout (replay.guarded_rows_append):
    rows land under batch_id=N directories, the exactly-once guard
    sees them, and the guard's read plan prunes to the one batch's
    partition."""
    import os

    from bigarrays_jl_spark.streaming.replay import (batch_already_in,
                                                     guarded_rows_append)
    out = str(tmp_path / "out")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    guarded_rows_append(df, out, 0)
    guarded_rows_append(df.limit(1), out, 1)
    names = sorted(n for n in os.listdir(out) if n.startswith("batch_id="))
    assert names == ["batch_id=0", "batch_id=1"]
    assert batch_already_in(spark, out, 0)
    assert batch_already_in(spark, out, 1)
    assert not batch_already_in(spark, out, 2)
    back = spark.read.parquet(out)
    assert back.count() == 3
    plan = (back.filter(F.col("batch_id") == 1)
            ._jdf.queryExecution().executedPlan().toString())
    assert "PartitionFilters" in plan and "batch_id" in \
        plan.split("PartitionFilters")[1].split("]")[0]


def test_migrate_to_partitioned_roundtrip(spark, tmp_path):
    """A pre-r17 flat guarded output migrates to the batch_id=N layout
    with identical rows, the guard keeps working, and re-running the
    migration is a no-op."""
    import os

    from bigarrays_jl_spark.streaming.replay import (batch_already_in,
                                                     guarded_rows_append,
                                                     migrate_to_partitioned)
    out = str(tmp_path / "out")
    legacy = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 0), (3, "c", 1)],
        "k long, v string, batch_id long")
    legacy.write.parquet(out)                       # old flat layout
    assert migrate_to_partitioned(spark, out) == 3
    assert sorted(n for n in os.listdir(out)
                  if n.startswith("batch_id=")) == ["batch_id=0",
                                                    "batch_id=1"]
    got = {(r.k, r.v, int(r.batch_id))
           for r in spark.read.parquet(out).collect()}
    assert got == {(1, "a", 0), (2, "b", 0), (3, "c", 1)}
    assert batch_already_in(spark, out, 1)
    assert not batch_already_in(spark, out, 2)
    # idempotent, and the new writer appends cleanly afterwards
    assert migrate_to_partitioned(spark, out) == 0
    guarded_rows_append(
        spark.createDataFrame([(4, "d")], "k long, v string"), out, 2)
    assert batch_already_in(spark, out, 2)
    assert spark.read.parquet(out).count() == 4
    # missing dir and non-guarded tables are rejected/no-ops
    assert migrate_to_partitioned(spark, str(tmp_path / "nope")) == 0
    plain = str(tmp_path / "plain")
    spark.createDataFrame([(1,)], "k long").write.parquet(plain)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="no batch_id column"):
        migrate_to_partitioned(spark, plain)
