"""Streaming SCD2 bridge: batch-twin equivalence + restart safety."""
import pyspark.sql.functions as F

from bigarrays_jl_spark.operators.mutation import scd2_history
from bigarrays_jl_spark.sources.tables import load
from bigarrays_jl_spark.streaming.scd2 import streaming_scd2
from bigarrays_jl_spark.streaming.windows import read_merged_table


def _census(iv):
    return {r["event_type"]: (r["n_intervals"], r["closed"], r["n_cur"])
            for r in iv.groupBy("event_type").agg(
                F.count("*").alias("n_intervals"),
                F.sum(F.when(F.col("valid_to").isNotNull(),
                             F.col("valid_to") - F.col("valid_from"))
                      .otherwise(0)).cast("bigint").alias("closed"),
                F.sum(F.when(F.col("valid_to").isNull(), 1).otherwise(0))
                 .cast("bigint").alias("n_cur")).collect()}


def _halves(spark, sf_dir):
    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type")
    m = ev.agg(F.expr("percentile_approx(cast(ts as long), 0.5)")) \
        .first()[0]
    # split at a time threshold so equal-ts rows never straddle batches
    # (the per-user event-time-ordered feed contract)
    return (ev.filter(F.col("ts").cast("long") <= m),
            ev.filter(F.col("ts").cast("long") > m))


def test_streaming_scd2_census_equals_batch(spark, sf_dir, tmp_path):
    first, second = _halves(spark, sf_dir)
    src = str(tmp_path / "src")
    root, ckpt = str(tmp_path / "scd2"), str(tmp_path / "ckpt")
    first.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(first.schema).parquet(src)
    q = streaming_scd2(stream, root, ckpt)
    try:
        q.processAllAvailable()
        second.coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    got = _census(read_merged_table(spark, root))
    want = {r["event_type"]: (r["n_intervals"], r["closed_duration_s"],
                              r["n_current"])
            for r in scd2_history(spark, sf_dir).collect()}
    assert got == want


def test_streaming_scd2_restart_recovery(spark, sf_dir, tmp_path):
    # stop after batch 1, restart on the SAME checkpoint, deliver the
    # rest: the checkpoint must not re-fold batch 1 and the final
    # census still equals the batch twin
    first, second = _halves(spark, sf_dir)
    src = str(tmp_path / "src")
    root, ckpt = str(tmp_path / "scd2"), str(tmp_path / "ckpt")
    first.coalesce(1).write.parquet(src)
    s1 = spark.readStream.schema(first.schema).parquet(src)
    q1 = streaming_scd2(s1, root, ckpt)
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()

    second.coalesce(1).write.mode("append").parquet(src)
    s2 = spark.readStream.schema(first.schema).parquet(src)
    q2 = streaming_scd2(s2, root, ckpt)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    got = _census(read_merged_table(spark, root))
    want = {r["event_type"]: (r["n_intervals"], r["closed_duration_s"],
                              r["n_current"])
            for r in scd2_history(spark, sf_dir).collect()}
    assert got == want


def test_streaming_scd2_open_intervals_cover_users(spark, sf_dir,
                                                   tmp_path):
    first, second = _halves(spark, sf_dir)
    src = str(tmp_path / "src")
    root, ckpt = str(tmp_path / "scd2"), str(tmp_path / "ckpt")
    first.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(first.schema).parquet(src)
    q = streaming_scd2(stream, root, ckpt)
    try:
        q.processAllAvailable()
        second.coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    iv = read_merged_table(spark, root)
    # exactly one open interval per user ever seen
    opens = iv.filter(F.col("valid_to").isNull())
    assert opens.count() == opens.select("user_id").distinct().count()
    n_users = load(spark, sf_dir, "events").select("user_id") \
        .distinct().count()
    assert opens.count() == n_users
