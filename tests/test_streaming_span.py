"""Streaming span-excision bridge (streaming/span.py): snapshot ==
the batch dedup_span_excise census under doc_id-ordered ingest;
exactly-once on restart and full replay; index crash-window heals."""
import shutil

import pytest
from pyspark.sql import functions as F

from bigarrays_jl_spark.operators.dedup import dedup_span_excise
from bigarrays_jl_spark.sources.tables import load
from bigarrays_jl_spark.streaming.replay import guarded_rows_append
from bigarrays_jl_spark.streaming.span import (_batch_wins,
                                               span_excise_snapshot,
                                               streaming_span_excise)


def _run(spark, src, idx, out, ckpt, schema):
    q = streaming_span_excise(
        spark.readStream.schema(schema).parquet(src), idx, out, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def test_streaming_span_snapshot_equals_batch(spark, sf_dir, tmp_path):
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    src, idx, out, ckpt = [str(tmp_path / p)
                           for p in ("src", "idx", "out", "ckpt")]
    # three doc_id-ordered phases with a stream restart between each —
    # the durable window index must carry canonicity across batches
    hi = d.agg(F.max("doc_id")).first()[0]
    cuts = [hi // 3, 2 * hi // 3, hi]
    lo = -1
    for cut in cuts:
        (d.filter((F.col("doc_id") > lo) & (F.col("doc_id") <= cut))
         .coalesce(1).write.mode("append").parquet(src))
        _run(spark, src, idx, out, ckpt, d.schema)
        lo = cut

    want = {tuple(r) for r in dedup_span_excise(spark, sf_dir).collect()}
    got = {tuple(r) for r in span_excise_snapshot(spark, out).collect()}
    assert got == want and len(want) > 0
    # the fixture must exercise BOTH cross-batch (index hit) and
    # within-batch duplication for the equality to mean anything
    assert sum(r[2] for r in want) > 0

    # the index is exactly the corpus's distinct window hashes
    n_idx = spark.read.parquet(idx).distinct().count()
    assert n_idx == _batch_wins(d).select("h").distinct().count()

    # full replay as batch 0: guard + anti-join keep both tables
    # exactly-once
    counts = [spark.read.parquet(p).count() for p in (idx, out)]
    shutil.rmtree(ckpt)
    _run(spark, src, idx, out, ckpt, d.schema)
    assert [spark.read.parquet(p).count() for p in (idx, out)] == counts
    assert {tuple(r) for r in
            span_excise_snapshot(spark, out).collect()} == want


def test_streaming_span_heals_index_crash_window(spark, tmp_path):
    """Census append committed, index append lost (crash between the
    two): the same-batch_id replay's repair hook recomputes the delta
    from batch data and heals the index."""
    src, idx, out, ckpt = [str(tmp_path / p)
                           for p in ("src", "idx", "out", "ckpt")]
    v = " ".join(f"w{i}" for i in range(10))
    b1 = spark.createDataFrame([(0, v)], "doc_id long, text string")
    b2 = spark.createDataFrame([(1, v + " tail0 tail1")],
                               "doc_id long, text string")
    b1.coalesce(1).write.parquet(src)
    _run(spark, src, idx, out, ckpt, b1.schema)
    n_idx_1 = spark.read.parquet(idx).count()
    # simulate batch 1's crashed attempt: its census rows committed
    # (guarded table, batch_id = 1) but the index append never ran
    crashed = spark.createDataFrame(
        [(1, 12, 3, 10), (-1, 0, 0, 0)],
        "doc_id long, n_tok long, n_dup_win long, n_excised long")
    guarded_rows_append(crashed, out, 1)
    # the replay (same source rows arrive as micro-batch 1)
    b2.coalesce(1).write.mode("append").parquet(src)
    _run(spark, src, idx, out, ckpt, b1.schema)
    # write() was skipped (no duplicate census rows) ...
    assert (spark.read.parquet(out)
            .filter(F.col("doc_id") >= 0).count()) == 2
    # ... and repair() appended the batch's fresh hashes: the index
    # now equals the distinct windows of BOTH docs
    want = (_batch_wins(b1.unionByName(b2)).select("h").distinct()
            .count())
    assert spark.read.parquet(idx).distinct().count() == want
    assert spark.read.parquet(idx).count() > n_idx_1


def test_streaming_span_rejects_negative_doc_ids(spark, tmp_path):
    src, idx, out, ckpt = [str(tmp_path / p)
                           for p in ("src", "idx", "out", "ckpt")]
    df = spark.createDataFrame([(-5, "a b c d e f g h i")],
                               "doc_id long, text string")
    df.coalesce(1).write.parquet(src)
    q = streaming_span_excise(
        spark.readStream.schema(df.schema).parquet(src), idx, out, ckpt)
    with pytest.raises(Exception, match="non-negative doc_ids"):
        try:
            q.processAllAvailable()
        finally:
            q.stop()
