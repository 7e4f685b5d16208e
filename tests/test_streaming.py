"""Structured Streaming tests: each streaming operator must converge to
its batch twin's result on the static events table (the oracle-checked
semantics from operators/events.py)."""

import pytest

from bigarrays_jl_spark.operators.events import events_sliding, events_tumbling
from bigarrays_jl_spark.sources.tables import load
from bigarrays_jl_spark.streaming.windows import (
    run_to_memory, stream_events, streaming_dedup, streaming_interval_join,
    streaming_running_count, streaming_session_window, streaming_sliding,
    streaming_tumbling, use_rocksdb_state)


@pytest.fixture(scope="module")
def events_stream(spark, sf_dir):
    return stream_events(spark, sf_dir)


def _rows(spark, name):
    return {tuple(r) for r in spark.sql(f"SELECT * FROM {name}").collect()}


def test_streaming_tumbling_matches_batch(spark, sf_dir, events_stream):
    run_to_memory(streaming_tumbling(events_stream), "t_tumbling", "complete")
    got = _rows(spark, "t_tumbling")
    want = {tuple(r) for r in events_tumbling(spark, sf_dir).collect()}
    assert got == want


def test_streaming_sliding_matches_batch(spark, sf_dir, events_stream):
    run_to_memory(streaming_sliding(events_stream), "t_sliding", "complete")
    got = _rows(spark, "t_sliding")
    want = {tuple(r) for r in events_sliding(spark, sf_dir).collect()}
    assert got == want


def test_streaming_session_window(spark, sf_dir, events_stream):
    run_to_memory(streaming_session_window(events_stream), "t_session", "complete")
    rows = spark.sql("SELECT * FROM t_session").collect()
    assert len(rows) > 0
    # session invariants: start <= end, n_events >= 1, no overlapping
    # sessions per user
    per_user = {}
    for r in rows:
        assert r.session_start <= r.session_end
        assert r.n_events >= 1
        per_user.setdefault(r.user_id, []).append((r.session_start, r.session_end))
    for spans in per_user.values():
        spans.sort()
        for (s1, e1), (s2, _) in zip(spans, spans[1:]):
            assert e1 <= s2
    # total events across sessions == table size
    total = sum(r.n_events for r in rows)
    assert total == load(spark, sf_dir, "events").count()


def test_streaming_dedup(spark, sf_dir, events_stream):
    run_to_memory(streaming_dedup(events_stream), "t_dedup")
    n = spark.sql("SELECT count(*) c FROM t_dedup").collect()[0].c
    distinct_ids = (load(spark, sf_dir, "events")
                    .select("event_id").distinct().count())
    assert n == distinct_ids


def test_streaming_interval_join_matches_batch(spark, sf_dir, events_stream):
    run_to_memory(streaming_interval_join(events_stream), "t_ssjoin")
    got = _rows(spark, "t_ssjoin")
    # batch twin: identical join on the static table
    from pyspark.sql import functions as F
    e = load(spark, sf_dir, "events")
    views = e.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"))
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"))
    want = {tuple(r) for r in views.join(
        clicks,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr("INTERVAL 10 minutes")))
        .select(F.col("v_user").alias("user_id"), "view_id", "click_id",
                "v_ts", "c_ts").collect()}
    assert got == want and len(got) > 0


def test_streaming_file_sink_with_checkpoint(spark, sf_dir, events_stream, tmp_path):
    # the production readStream → transform → writeStream shape: parquet
    # sink + checkpointLocation (exactly-once via the commit log)
    out = str(tmp_path / "sink")
    ck = str(tmp_path / "ck")
    q = (streaming_dedup(events_stream).writeStream
         .format("parquet").option("path", out)
         .option("checkpointLocation", ck)
         .outputMode("append").start())
    q.processAllAvailable()
    q.stop()
    n = spark.read.parquet(out).count()
    want = load(spark, sf_dir, "events").select("event_id").distinct().count()
    assert n == want
    # restarting against the same checkpoint reprocesses nothing
    q2 = (streaming_dedup(stream_events(spark, sf_dir)).writeStream
          .format("parquet").option("path", out)
          .option("checkpointLocation", ck)
          .outputMode("append").start())
    q2.processAllAvailable()
    q2.stop()
    assert spark.read.parquet(out).count() == want


def test_streaming_tumbling_rocksdb_state(spark, sf_dir, events_stream):
    # same query, RocksDB state store (the at-scale provider: disk-backed
    # state, bounded executor memory) — results must be identical
    use_rocksdb_state(spark)
    try:
        run_to_memory(streaming_tumbling(events_stream), "t_rocks", "complete")
    finally:
        use_rocksdb_state(spark, enabled=False)
    got = _rows(spark, "t_rocks")
    want = {tuple(r) for r in events_tumbling(spark, sf_dir).collect()}
    assert got == want


def test_streaming_running_count_stateful(spark, sf_dir, events_stream):
    run_to_memory(streaming_running_count(events_stream), "t_state", "update")
    # final state per user == total events per user (single micro-batch:
    # the last update per user is the total)
    got = {r.user_id: r.n_events
           for r in spark.sql(
               "SELECT user_id, max(n_events) AS n_events FROM t_state "
               "GROUP BY user_id").collect()}
    want = {r.user_id: r.n
            for r in load(spark, sf_dir, "events")
            .groupBy("user_id").agg({"*": "count"})
            .withColumnRenamed("count(1)", "n").collect()}
    assert got == want


def test_streaming_corpus_dedup_matches_batch(spark, sf_dir):
    # ingest-time fingerprint dedup must admit exactly one doc per
    # normalized fingerprint — the batch twin is a distinct count over
    # the same md5(normalized text) canon
    from pyspark.sql import functions as F
    from bigarrays_jl_spark.streaming.windows import (
        stream_documents, streaming_corpus_dedup)
    run_to_memory(streaming_corpus_dedup(stream_documents(spark, sf_dir)),
                  "t_corpus_dedup")
    n = spark.sql("SELECT count(*) c FROM t_corpus_dedup").collect()[0].c
    fp = F.md5(F.trim(F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", "")))
    want = (load(spark, sf_dir, "documents")
            .select(fp.alias("fp")).distinct().count())
    assert n == want


# -- late-data semantics: watermark DROP behavior (not just window math) ----
#
# The batch-twin tests above prove window arithmetic; these prove the
# watermark actually discards late rows.  Two micro-batches via a file
# source: batch 1 advances the watermark (max event time - 1h), batch 2
# carries a row BEHIND that watermark which must be absent downstream,
# while the batch twin over the same files still sees it.

def _append_file(spark, d, rows):
    df = spark.createDataFrame(
        rows, "event_id bigint, event_type string, value double, ts timestamp")
    df.coalesce(1).write.mode("append").parquet(d)


def test_tumbling_window_drops_late_row(spark, tmp_path):
    import datetime as dt
    from pyspark.sql import functions as F
    T = lambda h, m: dt.datetime(2026, 1, 1, h, m)  # noqa: E731
    d = str(tmp_path / "late_stream")
    _append_file(spark, d, [(1, "click", 1.0, T(10, 0)),
                            (2, "click", 1.0, T(10, 30)),
                            (3, "click", 1.0, T(12, 0))])
    schema = spark.read.parquet(d).schema
    sdf = spark.readStream.schema(schema).parquet(d)
    q = (streaming_tumbling(sdf).writeStream.outputMode("append")
         .format("memory").queryName("t_late_win").start())
    q.processAllAvailable()                 # batch 1 → watermark 11:00
    _append_file(spark, d, [(4, "click", 1.0, T(10, 15)),   # LATE
                            (5, "click", 1.0, T(12, 30))])
    q.processAllAvailable()                 # batch 2 closes [10:00, 11:00)
    q.stop()
    got = {(r.window_start, r.event_type): r.n_events
           for r in spark.sql("SELECT * FROM t_late_win").collect()}
    assert got[(T(10, 0), "click")] == 2    # late row 4 was dropped
    # the batch twin over the very same files still counts it
    n_batch = (spark.read.parquet(d)
               .filter((F.col("ts") >= T(10, 0)) & (F.col("ts") < T(11, 0)))
               .count())
    assert n_batch == 3


def test_dedup_within_watermark_drops_late_row(spark, tmp_path):
    import datetime as dt
    T = lambda h, m: dt.datetime(2026, 1, 1, h, m)  # noqa: E731
    d = str(tmp_path / "late_dedup")
    _append_file(spark, d, [(1, "view", 1.0, T(10, 0)),
                            (99, "view", 1.0, T(12, 0))])
    schema = spark.read.parquet(d).schema
    sdf = spark.readStream.schema(schema).parquet(d)
    q = (streaming_dedup(sdf).writeStream.outputMode("append")
         .format("memory").queryName("t_late_dedup").start())
    q.processAllAvailable()                 # batch 1 → watermark 11:00
    _append_file(spark, d, [(3, "view", 1.0, T(10, 5)),     # LATE, new id
                            (2, "view", 1.0, T(12, 10))])
    q.processAllAvailable()
    q.stop()
    ids = {r.event_id for r in spark.sql("SELECT * FROM t_late_dedup").collect()}
    assert 3 not in ids                      # late row dropped by watermark
    assert ids == {1, 99, 2}
    # batch dedup over the same files keeps it — only the watermark drops it
    batch_ids = {r.event_id for r in
                 spark.read.parquet(d).dropDuplicates(["event_id"]).collect()}
    assert 3 in batch_ids


def test_streaming_restart_recovers_dedup_state_and_new_data(spark, tmp_path):
    # the stop/deploy/restart cycle: dedup STATE must survive the
    # restart (ids already emitted before the stop stay deduped when
    # they reappear later) and only genuinely new ids are appended —
    # exactly-once across query generations, from the checkpoint alone
    schema = "event_id long, v long"
    ind = tmp_path / "in"
    ind.mkdir()
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    spark.createDataFrame([(i, i) for i in range(10)], schema) \
        .coalesce(1).write.mode("append").parquet(str(ind))
    dd = (spark.readStream.schema(schema).parquet(str(ind))
          .dropDuplicates(["event_id"]))

    def run_once():
        q = (dd.writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ck)
             .outputMode("append").start())
        q.processAllAvailable()
        q.stop()

    run_once()
    # second arrival: ids 5-9 are replays of already-emitted rows,
    # 10-14 are new
    spark.createDataFrame([(i, 100 + i) for i in range(5, 15)], schema) \
        .coalesce(1).write.mode("append").parquet(str(ind))
    run_once()
    got = sorted(r.event_id for r in spark.read.parquet(out).collect())
    assert got == list(range(15)), got


def test_streaming_incremental_dedup_matches_batch_twin(spark, sf_dir, tmp_path):
    # the durable-index ingest bridge: corpus docs stream in first
    # (seeding the fingerprint index), then "today's crawl" (doc_id%5==4,
    # the dedup_incremental convention) arrives as a second micro-batch.
    # The admitted set for that second batch must equal the batch
    # operator dedup_incremental — same keep rule, same anti-join, one
    # run streaming and one run batch.
    from pyspark.sql import functions as F

    from bigarrays_jl_spark.operators.dedup import dedup_incremental
    from bigarrays_jl_spark.streaming.windows import \
        streaming_incremental_dedup

    d = load(spark, sf_dir, "documents")
    src = str(tmp_path / "src")
    idx, out, ckpt = (str(tmp_path / p) for p in ("idx", "out", "ckpt"))
    corpus = d.filter(F.col("doc_id") % 5 != 4)
    batch = d.filter(F.col("doc_id") % 5 == 4)
    corpus.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(d.schema).parquet(src)
    q = streaming_incremental_dedup(stream, idx, out, ckpt)
    try:
        q.processAllAvailable()
        n_phase1 = spark.read.parquet(out).count()
        assert n_phase1 > 0
        # phase 2: today's crawl lands as one new file → one micro-batch
        batch.coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    # index holds exactly the distinct fingerprints of everything seen
    from bigarrays_jl_spark.functions import fingerprint
    want_fps = {r.fp for r in
                d.select(fingerprint().alias("fp")).distinct().collect()}
    got_fps = {r.fp for r in spark.read.parquet(idx).distinct().collect()}
    assert got_fps == want_fps

    # the second batch's admissions == the batch twin, row for row
    admitted = spark.read.parquet(out)
    batch_ids = {r.doc_id for r in batch.select("doc_id").collect()}
    got = {(r.doc_id, r.fp) for r in admitted.collect()
           if r.doc_id in batch_ids}
    want = {(r.doc_id, r.fp)
            for r in dedup_incremental(spark, sf_dir).collect()}
    assert got == want


def test_streaming_minhash_neardup_matches_batch_twin(spark, sf_dir, tmp_path):
    # LSH near-dup ingest bridge: the corpus (originals) streams in
    # first, seeding the band-signature index; the mutant set (the
    # dedup module's doc_id+1000000 near-duplicates) arrives as a
    # second micro-batch.  The matches emitted for that batch must
    # equal dedup_incremental_minhash — the batch operator computing
    # the same batch x corpus screen in one shot.
    from pyspark.sql import functions as F

    from bigarrays_jl_spark.operators.dedup import (_augmented,
                                                    dedup_incremental_minhash)
    from bigarrays_jl_spark.streaming.windows import streaming_minhash_neardup

    aug = _augmented(spark, sf_dir)
    src = str(tmp_path / "src")
    idx, out, ckpt = (str(tmp_path / p) for p in ("idx", "out", "ckpt"))
    aug.filter(F.col("doc_id") < 1000000).coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(aug.schema).parquet(src)
    q = streaming_minhash_neardup(stream, idx, out, ckpt)
    try:
        q.processAllAvailable()
        # mutants land as one new file -> one micro-batch
        (aug.filter(F.col("doc_id") >= 1000000)
            .coalesce(1).write.mode("append").parquet(src))
        q.processAllAvailable()
    finally:
        q.stop()

    got = {(r.batch_doc, r.corpus_doc, float(r.est_jaccard))
           for r in spark.read.parquet(out).collect()}
    want = {(r.batch_id, r.corpus_id, float(r.est_jaccard))
            for r in dedup_incremental_minhash(spark, sf_dir).collect()}
    assert got == want and len(want) > 0


def test_streaming_minhash_index_parts_share_one_column_order(
        spark, sf_dir, tmp_path):
    # the first batch appends band_signatures' rows as they are; later
    # batches append what survives the anti-join against the index.
    # Every part file must carry the same column names in the same
    # order, or a positional read of the index depends on which footer
    # Spark samples
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from bigarrays_jl_spark.operators.dedup import _augmented
    from bigarrays_jl_spark.streaming.windows import streaming_minhash_neardup

    aug = _augmented(spark, sf_dir).select("doc_id", "text")
    src = str(tmp_path / "src")
    idx, out, ckpt = (str(tmp_path / p) for p in ("idx", "out", "ckpt"))
    parts = [aug.filter(F.col("doc_id") % 3 == k) for k in range(3)]
    parts[0].coalesce(1).write.parquet(src)
    q = streaming_minhash_neardup(
        spark.readStream.schema(aug.schema).parquet(src), idx, out, ckpt)
    try:
        q.processAllAvailable()
        for p in parts[1:]:          # one new file -> one micro-batch
            p.coalesce(1).write.mode("append").parquet(src)
            q.processAllAvailable()
    finally:
        q.stop()

    files = sorted(glob.glob(f"{idx}/*.parquet"))
    orders = {tuple(pq.read_schema(f).names) for f in files}
    assert len(files) >= 3
    assert orders == {("doc_id", "sig", "b", "band")}


def test_streaming_incremental_dedup_survives_restart(spark, sf_dir, tmp_path):
    # the durable-index bridge must continue, not restart, after the
    # query is stopped: a NEW query on the same checkpoint must skip
    # already-processed files (no re-admission of corpus docs) and the
    # final admitted set must still match the batch twin
    from pyspark.sql import functions as F

    from bigarrays_jl_spark.operators.dedup import dedup_incremental
    from bigarrays_jl_spark.streaming.windows import \
        streaming_incremental_dedup

    d = load(spark, sf_dir, "documents")
    src = str(tmp_path / "src")
    idx, out, ckpt = (str(tmp_path / p) for p in ("idx", "out", "ckpt"))
    corpus = d.filter(F.col("doc_id") % 5 != 4)
    batch = d.filter(F.col("doc_id") % 5 == 4)
    corpus.coalesce(1).write.parquet(src)

    q1 = streaming_incremental_dedup(
        spark.readStream.schema(d.schema).parquet(src), idx, out, ckpt)
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()
    n_after_phase1 = spark.read.parquet(out).count()

    # restart from the same checkpoint; only the new file is processed
    batch.coalesce(1).write.mode("append").parquet(src)
    q2 = streaming_incremental_dedup(
        spark.readStream.schema(d.schema).parquet(src), idx, out, ckpt)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    admitted = spark.read.parquet(out)
    batch_ids = {r.doc_id for r in batch.select("doc_id").collect()}
    corpus_admissions = admitted.filter(
        ~F.col("doc_id").isin(list(batch_ids))).count()
    assert corpus_admissions == n_after_phase1, "corpus docs re-admitted"
    got = {(r.doc_id, r.fp) for r in admitted.collect()
           if r.doc_id in batch_ids}
    want = {(r.doc_id, r.fp)
            for r in dedup_incremental(spark, sf_dir).collect()}
    assert got == want


def test_streaming_minhash_neardup_survives_restart(spark, sf_dir, tmp_path):
    # same restart contract as the fingerprint bridge: a NEW query on
    # the same checkpoint must not reprocess the corpus file, and the
    # post-restart match set must still equal the batch twin
    from pyspark.sql import functions as F

    from bigarrays_jl_spark.operators.dedup import (_augmented,
                                                    dedup_incremental_minhash)
    from bigarrays_jl_spark.streaming.windows import streaming_minhash_neardup

    aug = _augmented(spark, sf_dir)
    src = str(tmp_path / "src")
    idx, out, ckpt = (str(tmp_path / p) for p in ("idx", "out", "ckpt"))
    aug.filter(F.col("doc_id") < 1000000).coalesce(1).write.parquet(src)

    q1 = streaming_minhash_neardup(
        spark.readStream.schema(aug.schema).parquet(src), idx, out, ckpt)
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()
    n_idx_phase1 = spark.read.parquet(idx).count()

    (aug.filter(F.col("doc_id") >= 1000000)
        .coalesce(1).write.mode("append").parquet(src))
    q2 = streaming_minhash_neardup(
        spark.readStream.schema(aug.schema).parquet(src), idx, out, ckpt)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    # corpus signatures not re-appended on restart
    n_mutant_bands = (spark.read.parquet(idx)
                      .filter(F.col("doc_id") >= 1000000).count())
    assert spark.read.parquet(idx).count() == n_idx_phase1 + n_mutant_bands
    got = {(r.batch_doc, r.corpus_doc, float(r.est_jaccard))
           for r in spark.read.parquet(out).collect()}
    want = {(r.batch_id, r.corpus_id, float(r.est_jaccard))
            for r in dedup_incremental_minhash(spark, sf_dir).collect()}
    assert got == want and len(want) > 0


def test_streaming_anomaly_stats_merge_exactly(spark, sf_dir, tmp_path):
    # the exactly-mergeable-moments bridge: chop the events table into
    # two micro-batches, fold the durable partials, and the resulting
    # per-type mean/std must be BIT-IDENTICAL to computing the same
    # decimal sums over the whole table in one shot — then prove replay
    # idempotency by re-appending one batch's partials verbatim
    from pyspark.sql import functions as F

    from bigarrays_jl_spark.streaming.windows import (
        anomaly_stats_from_partials, streaming_anomaly_stats)

    e = load(spark, sf_dir, "events")
    src = str(tmp_path / "src")
    stats, ckpt = str(tmp_path / "stats"), str(tmp_path / "ckpt")
    e.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(src)

    q = streaming_anomaly_stats(
        spark.readStream.schema(e.schema).parquet(src), stats, ckpt)
    try:
        q.processAllAvailable()
        (e.filter(F.col("event_id") % 2 == 1)
          .coalesce(1).write.mode("append").parquet(src))
        q.processAllAvailable()
    finally:
        q.stop()

    from bigarrays_jl_spark.functions import moment_partials, moment_stats
    want = {r.event_type: (r.mean, r.std) for r in
            e.groupBy("event_type")
             .agg(*moment_partials(F.col("value")))
             .select("event_type", *moment_stats())
             .collect()}
    got = {r.event_type: (r.mean, r.std) for r in
           anomaly_stats_from_partials(spark, stats).collect()}
    assert got == want  # bit-identical doubles, not approx

    # replay idempotency: duplicate one batch's partial rows on disk
    part = spark.read.parquet(stats).filter(F.col("batch_id") == 0)
    part.write.mode("append").parquet(stats)
    again = {r.event_type: (r.mean, r.std) for r in
             anomaly_stats_from_partials(spark, stats).collect()}
    assert again == want


def test_streaming_partitioned_sink_matches_batch_layout(spark, sf_dir,
                                                         tmp_path):
    # the streaming writer must land the same hive layout the batch
    # write_partitioned produces: event_date=... directories, full row
    # fidelity, and directory-pruned reads (PartitionFilters)
    import os

    from pyspark.sql import functions as F

    from bigarrays_jl_spark.streaming.windows import (
        stream_events, streaming_partitioned_sink)

    out, ckpt = str(tmp_path / "lake"), str(tmp_path / "ckpt")
    q = streaming_partitioned_sink(stream_events(spark, sf_dir), out, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    dirs = [d for d in os.listdir(out) if d.startswith("event_date=")]
    assert len(dirs) > 1, dirs
    back = spark.read.parquet(out)
    e = load(spark, sf_dir, "events")
    assert back.count() == e.count()
    one_day = back.select("event_date").distinct().orderBy("event_date") \
                  .first().event_date
    pruned = back.filter(F.col("event_date") == one_day)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert pruned.count() == e.filter(F.to_date("ts") == one_day).count()


def test_streaming_apply_changes_matches_batch_twin(spark, sf_dir, tmp_path):
    # the continuous MERGE INTO bridge: batch 1 bootstraps the table
    # (base docs as inserts), batch 2 applies the derived CDC feed; the
    # resulting snapshot must equal the batch operator row-for-row
    from pyspark.sql import functions as F

    from bigarrays_jl_spark.operators.mutation import (derive_change_feed,
                                                       pipeline_apply_changes)
    from bigarrays_jl_spark.streaming.windows import (read_merged_table,
                                                      streaming_apply_changes)

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars")
    bootstrap = d.select(
        "doc_id", F.lit("insert").alias("op"),
        F.col("lang").alias("c_lang"), F.col("source").alias("c_source"),
        F.col("n_chars").alias("c_n_chars"))
    feed = derive_change_feed(d)

    src = str(tmp_path / "src")
    root, ckpt = str(tmp_path / "table"), str(tmp_path / "ckpt")
    bootstrap.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(bootstrap.schema).parquet(src)
    q = streaming_apply_changes(stream, root, ckpt)
    try:
        q.processAllAvailable()
        t1 = read_merged_table(spark, root)
        assert t1 is not None and t1.count() == d.count()
        assert {r.last_op for r in t1.select("last_op").distinct().collect()} \
            == {"insert"}
        feed.coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    got = {(r.doc_id, r.lang, r.source, r.n_chars, r.last_op)
           for r in read_merged_table(spark, root).collect()}
    want = {(r.doc_id, r.lang, r.source, r.n_chars, r.last_op)
            for r in pipeline_apply_changes(spark, sf_dir).collect()}
    assert got == want


def test_streaming_apply_changes_restart_recovery(spark, sf_dir, tmp_path):
    # stop after the bootstrap batch, restart on the SAME checkpoint,
    # then deliver the CDC feed: the checkpoint must not re-apply batch
    # 1, and the final snapshot still equals the batch twin
    from pyspark.sql import functions as F

    from bigarrays_jl_spark.operators.mutation import (derive_change_feed,
                                                       pipeline_apply_changes)
    from bigarrays_jl_spark.streaming.windows import (read_merged_table,
                                                      streaming_apply_changes)

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars")
    bootstrap = d.select(
        "doc_id", F.lit("insert").alias("op"),
        F.col("lang").alias("c_lang"), F.col("source").alias("c_source"),
        F.col("n_chars").alias("c_n_chars"))
    src = str(tmp_path / "src")
    root, ckpt = str(tmp_path / "table"), str(tmp_path / "ckpt")
    bootstrap.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(bootstrap.schema).parquet(src)
    q = streaming_apply_changes(stream, root, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    derive_change_feed(d).coalesce(1).write.mode("append").parquet(src)
    stream2 = spark.readStream.schema(bootstrap.schema).parquet(src)
    q2 = streaming_apply_changes(stream2, root, ckpt)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    got = {(r.doc_id, r.lang, r.source, r.n_chars, r.last_op)
           for r in read_merged_table(spark, root).collect()}
    want = {(r.doc_id, r.lang, r.source, r.n_chars, r.last_op)
            for r in pipeline_apply_changes(spark, sf_dir).collect()}
    assert got == want


def test_streaming_apply_changes_collapses_multi_change_batches(
        spark, sf_dir, tmp_path):
    # micro-batch composition is engine-chosen: when one batch carries
    # several ops for a key, the bridge must collapse them by op
    # precedence (delete > update > insert) before merging — never emit
    # duplicate rows for the key
    from pyspark.sql import functions as F

    from bigarrays_jl_spark.streaming.windows import (read_merged_table,
                                                      streaming_apply_changes)
    feed_schema = ("doc_id long, op string, c_lang string, "
                   "c_source string, c_n_chars long")
    batch = spark.createDataFrame(
        [(1, "insert", "en", "s0", 10),
         (2, "insert", "en", "s0", 20),
         # key 2: update AND delete fold into the same batch
         (2, "update", "en", "curated", 21),
         (2, "delete", None, None, None),
         # key 3: two updates — one survivor, exactly one row
         (3, "insert", "fr", "s0", 30),
         (3, "update", "fr", "curated", 31)],
        feed_schema)
    src = str(tmp_path / "src")
    root, ckpt = str(tmp_path / "table"), str(tmp_path / "ckpt")
    batch.coalesce(1).write.parquet(src)
    q = streaming_apply_changes(
        spark.readStream.schema(batch.schema).parquet(src), root, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {r.doc_id: r for r in read_merged_table(spark, root).collect()}
    assert set(rows) == {1, 3}              # key 2's delete won
    assert rows[3].source == "curated"      # key 3's update won
    assert read_merged_table(spark, root).groupBy("doc_id").count() \
        .filter(F.col("count") > 1).count() == 0


def _feed_batches():
    # three tiny single-key micro-batches so the table accrues snapshots
    return [
        [(1, "insert", "en", "s0", 10)],
        [(2, "insert", "de", "s0", 20)],
        [(1, "update", "en", "curated", 11)],
    ]


def _run_feed(spark, src, root, ckpt, batches):
    from bigarrays_jl_spark.streaming.windows import streaming_apply_changes
    schema = ("doc_id long, op string, c_lang string, "
              "c_source string, c_n_chars long")
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(src)
        q = streaming_apply_changes(
            spark.readStream.schema(schema).parquet(src), root, ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()


def test_compact_merged_table_gc_then_restart(spark, tmp_path):
    # GC after several batches, then keep streaming on the SAME
    # checkpoint: the stream must pick up from the retained snapshots
    import os

    from bigarrays_jl_spark.streaming.windows import (compact_merged_table,
                                                      read_merged_table)
    src = str(tmp_path / "src")
    root, ckpt = str(tmp_path / "table"), str(tmp_path / "ckpt")
    _run_feed(spark, src, root, ckpt, _feed_batches())
    n_before = len([v for v in os.listdir(root) if v.startswith("v")])
    assert n_before >= 3
    removed = compact_merged_table(root, keep_last=2)
    assert removed and len(removed) == n_before - 2
    # idempotent
    assert compact_merged_table(root, keep_last=2) == []
    # reader still resolves the newest snapshot
    rows = {r.doc_id: r for r in read_merged_table(spark, root).collect()}
    assert set(rows) == {1, 2} and rows[1].source == "curated"
    # restart: one more batch on the same checkpoint merges cleanly
    _run_feed(spark, src, root, ckpt, [[(2, "delete", None, None, None)]])
    rows = {r.doc_id: r for r in read_merged_table(spark, root).collect()}
    assert set(rows) == {1}


def test_compact_merged_table_gc_then_replay(spark, tmp_path):
    # crash simulation AFTER the newest snapshot committed but BEFORE
    # the stream checkpoint advanced (the at-least-once window): the
    # replayed batch re-merges against the PREVIOUS snapshot, which GC
    # with keep_last=2 must have preserved
    import os

    from bigarrays_jl_spark.streaming.windows import (compact_merged_table,
                                                      read_merged_table,
                                                      streaming_apply_changes)
    src = str(tmp_path / "src")
    root, ckpt = str(tmp_path / "table"), str(tmp_path / "ckpt")
    _run_feed(spark, src, root, ckpt, _feed_batches())
    before = {(r.doc_id, r.lang, r.source, r.n_chars, r.last_op)
              for r in read_merged_table(spark, root).collect()}

    # wind the checkpoint back one batch: drop the newest stream commit
    # (and its checksum sidecar — a stale .crc makes the restart's
    # atomic rewrite report a phantom concurrent query)
    commits = sorted(os.listdir(os.path.join(ckpt, "commits")))
    newest = [c for c in commits if not c.startswith(".")][-1]
    os.remove(os.path.join(ckpt, "commits", newest))
    crc = os.path.join(ckpt, "commits", f".{newest}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    compact_merged_table(root, keep_last=2)

    # restart replays the last batch; its base is the pre-batch
    # snapshot (kept by GC), so the result is unchanged
    schema = ("doc_id long, op string, c_lang string, "
              "c_source string, c_n_chars long")
    q = streaming_apply_changes(
        spark.readStream.schema(schema).parquet(src), root, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    after = {(r.doc_id, r.lang, r.source, r.n_chars, r.last_op)
             for r in read_merged_table(spark, root).collect()}
    assert after == before


def test_compact_merged_table_refuses_unsafe_keep(tmp_path):
    import pytest

    from bigarrays_jl_spark.streaming.windows import compact_merged_table
    with pytest.raises(ValueError):
        compact_merged_table(str(tmp_path), keep_last=1)
    # nonexistent root is a no-op, not an error
    assert compact_merged_table(str(tmp_path / "nope")) == []


def test_streaming_append_inserts_fast_path(spark, tmp_path):
    # append-only feed: each batch lands as a delta (cost ∝ batch, no
    # snapshot rewrite); reader unions snapshot + unfolded deltas; fold
    # through the shared merge core reproduces the same table; GC drops
    # folded deltas
    import os

    from bigarrays_jl_spark.streaming.windows import (
        compact_appended_table, fold_inserts, read_appended_table,
        streaming_append_inserts)
    schema = ("doc_id long, op string, c_lang string, "
              "c_source string, c_n_chars long")
    src = str(tmp_path / "src")
    root, ckpt = str(tmp_path / "table"), str(tmp_path / "ckpt")
    batches = [
        [(1, "insert", "en", "web", 10), (2, "insert", "de", "web", 20)],
        [(3, "insert", "fr", "feed", 30)],
        [(4, "insert", "it", "feed", 40)],
    ]
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(src)
        q = streaming_append_inserts(
            spark.readStream.schema(schema).parquet(src), root, ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    # no snapshot was ever rewritten — only deltas exist
    assert not [v for v in os.listdir(root) if v.startswith("v")]
    deltas = os.listdir(os.path.join(root, "deltas"))
    assert len([d for d in deltas if d.startswith("d")]) >= 3
    pre = {(r.doc_id, r.lang, r.source, r.n_chars)
           for r in read_appended_table(spark, root).collect()}
    assert pre == {(1, "en", "web", 10), (2, "de", "web", 20),
                   (3, "fr", "feed", 30), (4, "it", "feed", 40)}

    # fold: same rows, now via the snapshot
    new_id = fold_inserts(spark, root)
    assert new_id is not None
    post = {(r.doc_id, r.lang, r.source, r.n_chars)
            for r in read_appended_table(spark, root).collect()}
    assert post == pre
    # idempotent: nothing left to fold
    assert fold_inserts(spark, root) is None

    # GC removes the folded deltas, reader unchanged
    removed = compact_appended_table(root)
    assert any(r.startswith("deltas/") for r in removed)
    assert {(r.doc_id, r.lang, r.source, r.n_chars)
            for r in read_appended_table(spark, root).collect()} == pre

    # one more appended batch after fold+GC reads through the union
    spark.createDataFrame([(5, "insert", "es", "web", 50)], schema) \
        .coalesce(1).write.mode("append").parquet(src)
    q = streaming_append_inserts(
        spark.readStream.schema(schema).parquet(src), root, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    final = {(r.doc_id, r.lang, r.source, r.n_chars)
             for r in read_appended_table(spark, root).collect()}
    assert final == pre | {(5, "es", "web", 50)}


def test_streaming_append_inserts_rejects_mixed_feed(spark, tmp_path):
    from bigarrays_jl_spark.streaming.windows import streaming_append_inserts
    schema = ("doc_id long, op string, c_lang string, "
              "c_source string, c_n_chars long")
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "insert", "en", "web", 10), (2, "delete", None, None, None)],
        schema).coalesce(1).write.parquet(src)
    q = streaming_append_inserts(
        spark.readStream.schema(schema).parquet(src),
        str(tmp_path / "table"), str(tmp_path / "ckpt"))
    with pytest.raises(Exception, match="non-insert"):
        try:
            q.processAllAvailable()
        finally:
            q.stop()


def test_streaming_apply_changes_flagged_nulling_feed(spark, tmp_path):
    # the NULL-capable (flagged) CDC dialect rides the SAME streaming
    # bridge: batch 1 bootstraps, batch 2 carries a NULL-ing update —
    # the final snapshot must equal merge_changes on the same feed
    from bigarrays_jl_spark.operators.mutation import merge_changes
    from bigarrays_jl_spark.streaming.windows import (read_merged_table,
                                                      streaming_apply_changes)
    schema = ("doc_id long, op string, "
              "c_lang string, c_lang_set boolean, "
              "c_source string, c_source_set boolean, "
              "c_n_chars long, c_n_chars_set boolean")
    boot = [(1, "insert", "en", True, "web", True, 10, True),
            (2, "insert", "de", True, "web", True, 20, True)]
    feed = [(1, "update", None, False, None, True, None, False),  # NULL source
            (2, "update", None, False, "curated", True, 21, True)]
    src = str(tmp_path / "src")
    root, ckpt = str(tmp_path / "table"), str(tmp_path / "ckpt")
    for rows in (boot, feed):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(src)
        q = streaming_apply_changes(
            spark.readStream.schema(schema).parquet(src), root, ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    got = {(r.doc_id, r.lang, r.source, r.n_chars)
           for r in read_merged_table(spark, root).collect()}
    base = spark.createDataFrame(
        [(1, "en", "web", 10), (2, "de", "web", 20)],
        "doc_id long, lang string, source string, n_chars long")
    want = {(r.doc_id, r.lang, r.source, r.n_chars)
            for r in merge_changes(
                base, spark.createDataFrame(feed, schema)).collect()}
    assert got == want
    assert (1, "en", None, 10) in got     # the NULL-ed source survived


def test_streaming_ingest_chunks_into_volume(spark, tmp_path):
    # continuous acquisition: two micro-batches of staged chunk rows
    # flow through the distributed ingest; the volume converges to the
    # full array, and a checkpoint restart with no new data is a no-op
    import numpy as np

    from bigarrays_jl_spark import indexes as ix
    from bigarrays_jl_spark.infos import Info
    from bigarrays_jl_spark.volume import Volume
    from bigarrays_jl_spark.streaming.windows import streaming_ingest_chunks

    info = Info.from_dict({
        "num_channels": 1, "type": "image", "data_type": "uint8",
        "scales": [{"encoding": "gzip", "chunk_sizes": [[32, 32, 32]],
                    "key": "1_1_1", "resolution": [1, 1, 1],
                    "voxel_offset": [0, 0, 0], "size": [64, 64, 32]}]})
    vol = Volume.create(spark, str(tmp_path / "acq"), info)
    a = np.random.default_rng(7).integers(0, 256, (64, 64, 32),
                                          dtype=np.uint8)
    sc_ = vol.scale
    rows = []
    for cs in ix.iter_chunk_slices(((0, 64), (0, 64), (0, 32)),
                                   sc_.voxel_offset, sc_.volume_size,
                                   sc_.chunk_size):
        (x0, x1), (y0, y1), (z0, z1) = cs.cutout_box
        rows.append((cs.cid[0], cs.cid[1], cs.cid[2], cs.key,
                     a[x0:x1, y0:y1, z0:z1].tobytes(order="F")))
    schema = "cx int, cy int, cz int, key string, payload binary"
    src, ckpt = str(tmp_path / "staged"), str(tmp_path / "ckpt")
    for half in (rows[:2], rows[2:]):
        spark.createDataFrame(half, schema).coalesce(1) \
            .write.mode("append").parquet(src)
        q = streaming_ingest_chunks(
            spark.readStream.schema(schema).parquet(src), vol, ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    out, _ = vol.cutout(((0, 64), (0, 64), (0, 32)))
    np.testing.assert_array_equal(out, a)
    n_rows_before = vol._latest(
        spark.read.parquet(vol._mip_dir(0))).count()
    # restart on the same checkpoint: nothing re-ingested
    q = streaming_ingest_chunks(
        spark.readStream.schema(schema).parquet(src), vol, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert vol._latest(spark.read.parquet(vol._mip_dir(0))).count() \
        == n_rows_before
    out2, _ = vol.cutout(((0, 64), (0, 64), (0, 32)))
    np.testing.assert_array_equal(out2, a)


def test_streaming_apply_changes_seq_latest_wins(spark, tmp_path):
    # when the feed carries a log sequence number, the LATEST change
    # wins over op precedence and lexicographic struct order — here the
    # highest-seq update carries lexicographically SMALLEST values and
    # arrives after a delete, so both fallback orders would pick wrong
    from bigarrays_jl_spark.streaming.windows import (read_merged_table,
                                                      streaming_apply_changes)
    feed_schema = ("doc_id long, seq long, op string, c_lang string, "
                   "c_source string, c_n_chars long")
    batch = spark.createDataFrame(
        [(1, 10, "insert", "zz", "zz", 99),
         (1, 11, "delete", None, None, None),
         (1, 12, "insert", "aa", "aa", 1),
         # key 2: two updates, later one lexicographically smaller
         (2, 20, "insert", "en", "s0", 20),
         (2, 21, "update", "zz", "zz", 99),
         (2, 22, "update", "aa", "curated", 21)],
        feed_schema)
    src = str(tmp_path / "src")
    root, ckpt = str(tmp_path / "table"), str(tmp_path / "ckpt")
    batch.coalesce(1).write.parquet(src)
    q = streaming_apply_changes(
        spark.readStream.schema(batch.schema).parquet(src), root, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {r.doc_id: r for r in read_merged_table(spark, root).collect()}
    assert set(rows) == {1, 2}
    assert (rows[1].lang, rows[1].source, rows[1].n_chars) == ("aa", "aa", 1)
    assert (rows[2].lang, rows[2].source, rows[2].n_chars) \
        == ("aa", "curated", 21)


def _paragraph_batch_keeps(spark, sf_dir):
    """The batch twin's keep set: per distinct paragraph hash, the
    min-(doc_id, pidx) instance (text_paragraph_dedup's keep rule)."""
    from pyspark.sql import functions as F
    d = load(spark, sf_dir, "documents")
    paras = (d.select("doc_id",
                      F.posexplode(F.split(F.col("text"), r"\. "))
                       .alias("pidx", "para"))
             .filter(F.trim(F.col("para")) != "")
             .withColumn("ph", F.md5(F.trim(F.lower(F.col("para"))))))
    return {(r.k.doc_id, r.k.pidx, r.ph)
            for r in paras.groupBy("ph")
            .agg(F.min(F.struct("doc_id", "pidx")).alias("k")).collect()}


def test_streaming_paragraph_dedup_matches_batch_twin(spark, sf_dir, tmp_path):
    # full corpus in one micro-batch: the admitted paragraph instances
    # must equal the batch operator's keep set exactly, and the durable
    # index must hold exactly the corpus's distinct paragraph hashes
    from pyspark.sql import functions as F

    from bigarrays_jl_spark.streaming.windows import streaming_paragraph_dedup

    d = load(spark, sf_dir, "documents")
    src = str(tmp_path / "src")
    idx, out, ckpt = (str(tmp_path / p) for p in ("idx", "out", "ckpt"))
    d.coalesce(1).write.parquet(src)

    q = streaming_paragraph_dedup(
        spark.readStream.schema(d.schema).parquet(src), idx, out, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    want = _paragraph_batch_keeps(spark, sf_dir)
    got = {(r.doc_id, r.pidx, r.ph)
           for r in spark.read.parquet(out).collect()}
    assert got == want and len(want) > 0
    n_idx = spark.read.parquet(idx).distinct().count()
    assert n_idx == len(want)
    # replay-safety invariant the docstring claims: raw index rows may
    # exceed distinct (at-least-once appends) but never miss a hash
    assert spark.read.parquet(idx).count() >= n_idx


def test_streaming_paragraph_dedup_prefix_and_restart(spark, sf_dir, tmp_path):
    # corpus split at the median doc_id into two ordered micro-batches
    # with a query RESTART in between: phase 2 must admit only hashes
    # unseen in phase 1 (no re-admission), and the union must still
    # equal the batch keep set (the split is doc_id-ordered, so each
    # hash's first-seeing batch holds its global min instance)
    from pyspark.sql import functions as F

    from bigarrays_jl_spark.streaming.windows import streaming_paragraph_dedup

    d = load(spark, sf_dir, "documents")
    half = d.agg(F.max("doc_id")).first()[0] // 2
    src = str(tmp_path / "src")
    idx, out, ckpt = (str(tmp_path / p) for p in ("idx", "out", "ckpt"))
    d.filter(F.col("doc_id") <= half).coalesce(1).write.parquet(src)

    q1 = streaming_paragraph_dedup(
        spark.readStream.schema(d.schema).parquet(src), idx, out, ckpt)
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()
    phase1 = {(r.doc_id, r.pidx, r.ph)
              for r in spark.read.parquet(out).collect()}
    assert phase1 and all(doc <= half for doc, _, _ in phase1)

    # restart on the same checkpoint; only the new file is processed
    d.filter(F.col("doc_id") > half).coalesce(1) \
        .write.mode("append").parquet(src)
    q2 = streaming_paragraph_dedup(
        spark.readStream.schema(d.schema).parquet(src), idx, out, ckpt)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    admitted = {(r.doc_id, r.pidx, r.ph)
                for r in spark.read.parquet(out).collect()}
    assert phase1 <= admitted                       # nothing re-written
    phase1_hashes = {ph for _, _, ph in phase1}
    assert all(ph not in phase1_hashes
               for _, _, ph in admitted - phase1), "hash re-admitted"
    assert admitted == _paragraph_batch_keeps(spark, sf_dir)


def test_streaming_source_leakage_matches_batch_twin(spark, sf_dir, tmp_path):
    # incremental contamination monitor: corpus split at the median
    # doc_id into two micro-batches with a RESTART between; after each
    # batch the emitted matrix must equal the batch operator run over
    # everything seen so far, and the final index must hold exactly the
    # corpus's distinct (source, gram) pairs
    from pyspark.sql import functions as F

    from bigarrays_jl_spark.operators.pipeline import (cross_source_leakage,
                                                       doc_shingles)
    from bigarrays_jl_spark.streaming.windows import streaming_source_leakage

    d = load(spark, sf_dir, "documents")
    half = d.agg(F.max("doc_id")).first()[0] // 2
    src = str(tmp_path / "src")
    idx, out, ckpt = (str(tmp_path / p) for p in ("idx", "out", "ckpt"))
    d.filter(F.col("doc_id") <= half).coalesce(1).write.parquet(src)

    q1 = streaming_source_leakage(
        spark.readStream.schema(d.schema).parquet(src), idx, out, ckpt)
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()

    def matrix_at(batch_id):
        return {(r.source_a, r.source_b): (r.n_shared, r.jaccard)
                for r in spark.read.parquet(out)
                .filter(F.col("batch_id") == batch_id).collect()}

    from bigarrays_jl_spark.operators.pipeline import leakage_matrix
    want1 = {(r.source_a, r.source_b): (r.n_shared, r.jaccard)
             for r in leakage_matrix(
                 doc_shingles(d.filter(F.col("doc_id") <= half))).collect()}
    assert matrix_at(0) == want1

    # restart on the same checkpoint; only the new file is processed
    d.filter(F.col("doc_id") > half).coalesce(1) \
        .write.mode("append").parquet(src)
    q2 = streaming_source_leakage(
        spark.readStream.schema(d.schema).parquet(src), idx, out, ckpt)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    last = spark.read.parquet(out).agg(F.max("batch_id")).first()[0]
    want_full = {(r.source_a, r.source_b): (r.n_shared, r.jaccard)
                 for r in cross_source_leakage(spark, sf_dir).collect()}
    assert matrix_at(last) == want_full and len(want_full) > 0
    # index == the corpus's distinct (source, gram) pairs
    n_idx = spark.read.parquet(idx).distinct().count()
    assert n_idx == doc_shingles(d).count()


# -- foreachBatch replay exactly-once (r13 advice) --------------------------
# Structured Streaming replays a failed/uncommitted micro-batch under the
# SAME batch_id.  The durable-index bridges guard their output appends by
# batch_id, so a replay can neither duplicate out rows (post-commit driver
# death) nor lose index hashes (crash between the two appends).  Deleting
# the checkpoint and restarting on the same single-file source is an exact
# simulation: the whole source replays as batch_id 0 with identical data.

def _replay(spark, make_query, schema, src, idx, out, ckpt):
    import shutil
    shutil.rmtree(ckpt)
    q = make_query(spark.readStream.schema(schema).parquet(src),
                   idx, out, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def test_streaming_paragraph_dedup_replay_exactly_once(spark, sf_dir,
                                                       tmp_path):
    from bigarrays_jl_spark.streaming.windows import streaming_paragraph_dedup

    d = load(spark, sf_dir, "documents")
    src = str(tmp_path / "src")
    idx, out, ckpt = (str(tmp_path / p) for p in ("idx", "out", "ckpt"))
    d.coalesce(1).write.parquet(src)

    q = streaming_paragraph_dedup(
        spark.readStream.schema(d.schema).parquet(src), idx, out, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out_before = spark.read.parquet(out).count()
    idx_before = spark.read.parquet(idx).count()
    assert out_before > 0

    _replay(spark, streaming_paragraph_dedup, d.schema, src, idx, out, ckpt)
    # exactly-once: the replayed batch appends NOTHING to either output
    assert spark.read.parquet(out).count() == out_before, "out duplicated"
    assert spark.read.parquet(idx).count() == idx_before, "index duplicated"


def test_streaming_paragraph_dedup_repairs_index_after_partial_commit(
        spark, sf_dir, tmp_path):
    # crash-between-appends simulation: out committed for batch 0, index
    # append never happened.  The replay must NOT rewrite out (that
    # would duplicate every row) and must rebuild the index from the
    # committed out rows.
    import shutil

    from pyspark.sql import functions as F

    from bigarrays_jl_spark.streaming.windows import streaming_paragraph_dedup

    d = load(spark, sf_dir, "documents")
    src = str(tmp_path / "src")
    idx, out, ckpt = (str(tmp_path / p) for p in ("idx", "out", "ckpt"))
    d.coalesce(1).write.parquet(src)

    q = streaming_paragraph_dedup(
        spark.readStream.schema(d.schema).parquet(src), idx, out, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out_before = {(r.doc_id, r.pidx, r.ph)
                  for r in spark.read.parquet(out).collect()}
    shutil.rmtree(idx)                       # the index append "never ran"

    _replay(spark, streaming_paragraph_dedup, d.schema, src, idx, out, ckpt)
    out_after = spark.read.parquet(out)
    assert {(r.doc_id, r.pidx, r.ph)
            for r in out_after.collect()} == out_before
    assert out_after.count() == len(out_before), "out duplicated"
    want_idx = {ph for _, _, ph in out_before}
    assert {r.ph for r in spark.read.parquet(idx).collect()} == want_idx
    assert spark.read.parquet(idx).count() == len(want_idx)


def test_streaming_incremental_dedup_replay_exactly_once(spark, sf_dir,
                                                         tmp_path):
    from bigarrays_jl_spark.streaming.windows import \
        streaming_incremental_dedup

    d = load(spark, sf_dir, "documents")
    src = str(tmp_path / "src")
    idx, out, ckpt = (str(tmp_path / p) for p in ("idx", "out", "ckpt"))
    d.coalesce(1).write.parquet(src)

    q = streaming_incremental_dedup(
        spark.readStream.schema(d.schema).parquet(src), idx, out, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out_before = spark.read.parquet(out).count()
    idx_before = spark.read.parquet(idx).count()
    assert out_before > 0

    _replay(spark, streaming_incremental_dedup, d.schema, src, idx, out,
            ckpt)
    assert spark.read.parquet(out).count() == out_before, "out duplicated"
    assert spark.read.parquet(idx).count() == idx_before, "index duplicated"


def test_streaming_minhash_replay_no_duplicates(spark, sf_dir, tmp_path):
    # two phases (corpus seeds the index, then "today's crawl" produces
    # matches), then a full replay: deleting the checkpoint replays BOTH
    # files as one batch whose docs are all already indexed — the
    # self-exclusion probe must emit zero spurious matches and the
    # (doc_id, b) anti-join must append zero index rows
    from pyspark.sql import functions as F

    from bigarrays_jl_spark.operators.dedup import _augmented
    from bigarrays_jl_spark.streaming.windows import streaming_minhash_neardup

    aug = _augmented(spark, sf_dir)
    src = str(tmp_path / "src")
    idx, out, ckpt = (str(tmp_path / p) for p in ("idx", "out", "ckpt"))
    cut = aug.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    aug.filter(F.col("doc_id") <= cut).coalesce(1).write.parquet(src)

    q1 = streaming_minhash_neardup(
        spark.readStream.schema(aug.schema).parquet(src), idx, out, ckpt)
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()
    aug.filter(F.col("doc_id") > cut).coalesce(1) \
        .write.mode("append").parquet(src)
    q2 = streaming_minhash_neardup(
        spark.readStream.schema(aug.schema).parquet(src), idx, out, ckpt)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    out_before = spark.read.parquet(out).count()
    idx_before = spark.read.parquet(idx).count()
    assert out_before > 0, "fixture produced no cross-phase matches"
    # the index must already be a set on (doc_id, b)
    assert idx_before == spark.read.parquet(idx) \
        .select("doc_id", "b").distinct().count()

    _replay(spark, streaming_minhash_neardup, aug.schema, src, idx, out,
            ckpt)
    assert spark.read.parquet(out).count() == out_before, "matches duplicated"
    assert spark.read.parquet(idx).count() == idx_before, "index duplicated"


def test_streaming_source_leakage_replay_no_duplicate_matrix(spark, sf_dir,
                                                             tmp_path):
    from pyspark.sql import functions as F

    from bigarrays_jl_spark.streaming.windows import streaming_source_leakage

    d = load(spark, sf_dir, "documents")
    src = str(tmp_path / "src")
    idx, out, ckpt = (str(tmp_path / p) for p in ("idx", "out", "ckpt"))
    d.coalesce(1).write.parquet(src)

    q = streaming_source_leakage(
        spark.readStream.schema(d.schema).parquet(src), idx, out, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out_before = spark.read.parquet(out).count()
    idx_before = spark.read.parquet(idx).count()
    assert out_before > 0

    _replay(spark, streaming_source_leakage, d.schema, src, idx, out, ckpt)
    assert spark.read.parquet(out).count() == out_before, \
        "matrix rows duplicated"
    assert spark.read.parquet(idx).count() == idx_before, "index duplicated"


def test_streaming_minhash_exact_row_probe_exclusion(spark, sf_dir,
                                                     tmp_path):
    # r14 advice: the probe's replay self-exclusion is keyed on the
    # FULL (doc_id, b, band) row identity, not doc_id alone.  Under the
    # broad doc_id exclusion, a batch containing doc_id X removed X's
    # EARLIER version's signatures from everyone's probe, so a
    # different batch doc Y near-dup to old-X went silently unreported.
    # Pin: (1) Y-vs-old-X matches ARE emitted even when X itself is in
    # the batch; (2) an exact replay still emits no new matches (the
    # exactly-once contract the exclusion exists for).
    import shutil

    from pyspark.sql import functions as F

    from bigarrays_jl_spark.streaming.windows import streaming_minhash_neardup

    d = (load(spark, sf_dir, "documents")
         .select("doc_id", "text").filter(F.length("text") > 200)
         .orderBy("doc_id").limit(20))
    src = str(tmp_path / "src")
    idx, out, ckpt = (str(tmp_path / p) for p in ("idx", "out", "ckpt"))
    d.coalesce(1).write.parquet(src)

    def run():
        q = streaming_minhash_neardup(
            spark.readStream.schema(d.schema).parquet(src), idx, out, ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run()                                     # batch 0 seeds the index
    # batch 1 carries BOTH a re-ingested X (same doc_id, mutated text)
    # and a near-dup twin Y = X + 1000000 of X's ORIGINAL text: Y must
    # match old-X despite X's doc_id being present in the batch
    drift = d.withColumn("text", F.expr("substring(text, 13)"))
    twins = d.withColumn("doc_id", F.col("doc_id") + 1000000)
    (drift.unionByName(twins)
          .coalesce(1).write.mode("append").parquet(src))
    run()

    matches = spark.read.parquet(out)
    y_vs_oldx = matches.filter(
        (F.col("batch_doc") >= 1000000)
        & (F.col("batch_doc") - 1000000 == F.col("corpus_doc"))
        & (F.col("batch_id") == 1))
    assert y_vs_oldx.count() > 0, \
        "batch doc Y not compared against old-X (probe over-excluded)"
    # no (X, X) self pairs: identical rows are replay-indistinguishable
    # and excluded; drifted bands can never be LSH candidates
    assert matches.filter(
        F.col("batch_doc") == F.col("corpus_doc")).count() == 0

    # exact replay of everything as one batch 0: identical signatures
    # are excluded row-for-row, so no NEW matches appear
    n_before = matches.count()
    shutil.rmtree(ckpt)
    run()
    assert spark.read.parquet(out).count() == n_before
