"""Streaming end-to-end curation (streaming/curate.py): snapshot ==
the batch pipeline_e2e_curate census under the eval-first, doc_id-
ordered ingest contract; exactly-once on restart and full replay."""
import shutil

import pytest
from pyspark.sql import functions as F

from bigarrays_jl_spark.operators.pipeline import pipeline_e2e_curate
from bigarrays_jl_spark.sources.tables import load
from bigarrays_jl_spark.streaming.curate import (curate_admission_log,
                                                 curate_census_snapshot,
                                                 streaming_curate)


def _run(spark, src, paths, schema):
    q = streaming_curate(
        spark.readStream.schema(schema).parquet(src), *paths)
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def test_streaming_curate_snapshot_equals_batch(spark, sf_dir, tmp_path):
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "src")
    paths = [str(tmp_path / p) for p in ("fpidx", "grams", "bits", "out")]
    ckpt = str(tmp_path / "ckpt")

    # eval-first (the decontamination norm), then train docs split in
    # two doc_id-ordered phases with a stream RESTART between — three
    # durable structures must carry the pipeline across batches
    ev = d.filter(F.col("doc_id") % 10 == 0)
    tr = d.filter(F.col("doc_id") % 10 != 0)
    half = d.agg(F.max("doc_id")).first()[0] // 2
    ev.coalesce(1).write.parquet(src)
    _run(spark, src, paths + [ckpt], d.schema)
    tr.filter(F.col("doc_id") <= half).coalesce(1) \
        .write.mode("append").parquet(src)
    _run(spark, src, paths + [ckpt], d.schema)
    tr.filter(F.col("doc_id") > half).coalesce(1) \
        .write.mode("append").parquet(src)
    _run(spark, src, paths + [ckpt], d.schema)

    want = {tuple(r) for r in pipeline_e2e_curate(spark, sf_dir).collect()}
    got = {tuple(r) for r in
           curate_census_snapshot(spark, paths[3]).collect()}
    assert got == want and len(want) > 0

    # the admission log is consistent: census docs == uncontaminated
    log = curate_admission_log(spark, paths[3]).collect()
    n_surv = sum(1 for r in log if not r.contaminated)
    assert n_surv == sum(r[1] for r in want)       # n_docs per bin sums
    assert any(r.contaminated for r in log), \
        "fixture should exercise the decontamination cut"

    # full replay as batch 0: guards + anti-joins keep all four durable
    # tables exactly-once
    counts = [spark.read.parquet(p).count() for p in paths]
    shutil.rmtree(ckpt)
    _run(spark, src, paths + [ckpt], d.schema)
    assert [spark.read.parquet(p).count() for p in paths] == counts
    assert {tuple(r) for r in
            curate_census_snapshot(spark, paths[3]).collect()} == want


def test_streaming_curate_output_is_batch_partitioned(spark, tmp_path):
    """The committed output is laid out by batch_id so the crash-replay
    repair (and the exactly-once guard) prune to ONE batch's directory
    instead of rescanning the corpus-sized output (r16 verdict)."""
    import os
    src = str(tmp_path / "src")
    paths = [str(tmp_path / p) for p in ("f", "g", "b", "o", "c")]
    df = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog near a river "
             "bank while birds sing in morning light today %d" % i)
         for i in range(1, 9)], "doc_id long, text string")
    df.coalesce(1).write.parquet(src)
    q = streaming_curate(
        spark.readStream.schema(df.schema).parquet(src), *paths)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert any(n.startswith("batch_id=") for n in os.listdir(paths[3]))
    # the guard/repair read's plan carries the partition filter
    plan = (spark.read.parquet(paths[3])
            .filter(F.col("batch_id") == 0)
            ._jdf.queryExecution().executedPlan().toString())
    assert "PartitionFilters: [isnotnull(batch_id" in plan \
        or "batch_id" in plan.split("PartitionFilters")[1].split("]")[0]


def test_streaming_curate_heals_bits_crash_window(spark, tmp_path):
    """r16 advice (high): a crash AFTER the gram-index append but
    BEFORE the bitset append used to lose the batch's bits forever —
    the replay derived them from the (now empty) gram-index delta.
    Bits are now derived from the batch's own grams, so the replay
    heals the window: bits_path must equal _bits_of(grams_path)."""
    from bigarrays_jl_spark.streaming.bloom import _bits_of, _doc_grams
    src = str(tmp_path / "src")
    paths = [str(tmp_path / p) for p in ("f", "g", "b", "o")]
    ckpt = str(tmp_path / "c")
    mk = ("doc_id long, text string",
          lambda rows: spark.createDataFrame(rows, mk[0]))
    base = ("the quick brown fox and the lazy dog ran of the hill to "
            "find a shiny treasure in morning light today %s")
    b1 = mk[1]([(10, base % "one"), (1, base % "train one")])
    b2 = mk[1]([(20, base % "two crash window grams"),
                (3, base % "two crash window grams")])  # train copy
    b1.coalesce(1).write.parquet(src)
    _run(spark, src, paths + [ckpt], b1.schema)

    # simulate the crashed attempt of batch 2: its eval grams reached
    # grams_path, its bits did NOT, nothing else committed
    standing_g = spark.read.parquet(paths[1])
    ev2 = (_doc_grams(b2.filter(F.col("doc_id") % 10 == 0))
           .select("s").distinct())
    (ev2.join(standing_g.select("s"), "s", "left_anti")
     .write.mode("append").parquet(paths[1]))
    missing = (_bits_of(ev2)
               .join(spark.read.parquet(paths[2]).select("j", "bit"),
                     ["j", "bit"], "left_anti"))
    assert missing.count() > 0, "fixture must open a real crash window"

    # the replay (same docs, fresh micro-batch with grams standing)
    b2.coalesce(1).write.mode("append").parquet(src)
    _run(spark, src, paths + [ckpt], b1.schema)

    got_bits = {tuple(r) for r in
                spark.read.parquet(paths[2]).distinct().collect()}
    want_bits = {tuple(r) for r in
                 _bits_of(spark.read.parquet(paths[1]).select("s")
                          .distinct()).collect()}
    assert got_bits == want_bits, "bitset diverged from gram index"
    # and the screen therefore catches the contaminated train copy
    log = {r.doc_id: r.contaminated
           for r in curate_admission_log(spark, paths[3]).collect()}
    assert log[3] is True


def test_streaming_curate_rejects_negative_doc_ids(spark, tmp_path):
    src = str(tmp_path / "src")
    paths = [str(tmp_path / p) for p in ("f", "g", "b", "o", "c")]
    df = spark.createDataFrame([(-5, "the a of and to in words here")],
                               "doc_id long, text string")
    df.coalesce(1).write.parquet(src)
    q = streaming_curate(
        spark.readStream.schema(df.schema).parquet(src), *paths)
    with pytest.raises(Exception, match="non-negative doc_ids"):
        try:
            q.processAllAvailable()
        finally:
            q.stop()
