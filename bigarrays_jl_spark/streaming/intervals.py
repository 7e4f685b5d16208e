"""Streaming twin of operators/temporal.interval_overlap_join.

Sessions and burst windows are the archetypal streaming-state problem:
both are gap-merged intervals that only FINALIZE when the watermark
proves no further event can extend them.  The twin maps each batch
stage onto the native Structured Streaming construct:

- per-user activity sessions → ``session_window`` (gap 30 min) keyed
  by user, append mode: a session row is emitted exactly once, when
  the watermark passes its close;
- error-burst islands → ``session_window`` over the error substream
  (gap = pad): intervals [sec, sec+PAD] merge iff consecutive distinct
  error seconds differ by ≤ PAD — precisely a session window with gap
  PAD+1 on integral seconds (strict ``<`` vs the batch ``≤`` closes on
  the +1);
- the session×burst overlap join + per-user rollup is NOT a
  stream-stream join (two watermark-finalized aggregations can't join
  in-flight): both finalized streams land in durable parquet tables —
  the repo's durable-index discipline (streaming/windows.py) — and
  ``interval_overlap_snapshot`` folds them with the SAME
  ``overlap_aggregate`` the batch operator uses, so snapshot == batch
  after any finalized prefix (pytest-pinned, incl. restart/replay).

State bounds (SCALE.md): each query holds only OPEN windows — ≤ one
session per currently-active user plus ≤ one island per in-flight
error run; closed windows leave state at emission.  Late events beyond
the watermark drop deterministically, matching every other twin here.

Timestamps are floored to whole seconds (``CAST(ts AS LONG)``) before
windowing so the gap arithmetic is integral and identical to the batch
operator's second-resolution islands.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigarrays_jl_spark.operators.temporal import (BURST_PAD_S, SESSION_GAP_S,
                                                   overlap_aggregate)


def _floored(events: DataFrame, watermark: str) -> DataFrame:
    # watermark is assigned BEFORE any event-type filter so control /
    # sentinel rows of other types still advance it (a filtered-first
    # plan would leave the error substream's watermark frozen whenever
    # a micro-batch carries no errors)
    return (events
            .withColumn("fts", F.col("ts").cast("long").cast("timestamp"))
            .withWatermark("fts", watermark))


def streaming_sessions(events: DataFrame,
                       gap_s: int = SESSION_GAP_S,
                       watermark: str = "1 hour") -> DataFrame:
    """Watermark-finalized (user_id, s_start, s_end) activity sessions.

    Batch rule: same session iff consecutive seconds differ by ≤ gap_s.
    ``session_window`` merges on strict ``<`` of the gap, so gap_s+1 on
    integral seconds reproduces the ≤; the window end is (last event +
    gap), hence s_end = end − (gap_s+1)."""
    g = gap_s + 1
    return (_floored(events, watermark)
            .groupBy("user_id", F.session_window("fts", f"{g} seconds"))
            .agg(F.count("*").alias("n_events"))
            .select("user_id",
                    F.col("session_window.start").cast("long")
                     .alias("s_start"),
                    (F.col("session_window.end").cast("long") - g)
                    .alias("s_end"),
                    "n_events"))


def streaming_bursts(events: DataFrame,
                     pad_s: int = BURST_PAD_S,
                     watermark: str = "1 hour") -> DataFrame:
    """Watermark-finalized merged error-burst islands (b_start, b_end).

    Batch rule: padded intervals [sec, sec+pad] merge iff consecutive
    distinct error seconds differ by ≤ pad → session window with gap
    pad+1; b_end = max sec + pad = window end − 1."""
    g = pad_s + 1
    # islands are GLOBAL (not per-user), but streaming session windows
    # require a grouping key — a constant key gives the global merge.
    # One key means each micro-batch's error rows merge through one
    # task: bounded by errors-per-trigger (minutes of stream), never by
    # the corpus — the batch operator's bucketed merge is the backfill
    # path.  State holds only OPEN islands either way.
    # the filter MUST stay above the EventTimeWatermark node: Catalyst
    # pushes any conjunct that doesn't reference the event-time column
    # below the watermark (PushPredicateThroughNonJoin), and a pushed
    # filter means non-error rows never advance the watermark — the
    # final island would wait forever for a later error.  A single
    # non-splittable predicate referencing fts stays put.
    is_error = (F.when(F.col("fts").isNotNull(), F.col("event_type"))
                .eqNullSafe(F.lit("error")))
    return (_floored(events, watermark)
            .filter(is_error)
            .withColumn("g", F.col("event_id") - F.col("event_id"))
            .groupBy("g", F.session_window("fts", f"{g} seconds"))
            .agg(F.count("*").alias("n_errors"))
            .select(F.col("session_window.start").cast("long")
                     .alias("b_start"),
                    (F.col("session_window.end").cast("long") - 1)
                    .alias("b_end"),
                    "n_errors"))


def start_interval_queries(events: DataFrame, sess_path: str,
                           burst_path: str, sess_ckpt: str,
                           burst_ckpt: str, watermark: str = "1 hour"):
    """Both finalization queries against durable parquet sinks
    (exactly-once via each checkpoint's commit log).  Returns
    (sessions_query, bursts_query) — caller drives/stops them."""
    qs = (streaming_sessions(events, watermark=watermark).writeStream
          .format("parquet").option("path", sess_path)
          .option("checkpointLocation", sess_ckpt)
          .outputMode("append").start())
    qb = (streaming_bursts(events, watermark=watermark).writeStream
          .format("parquet").option("path", burst_path)
          .option("checkpointLocation", burst_ckpt)
          .outputMode("append").start())
    return qs, qb


def _read_or_empty(spark: SparkSession, path: str,
                   schema: str) -> DataFrame:
    try:
        df = spark.read.parquet(path)
        if df.columns:
            return df
    except Exception:  # noqa: BLE001 — sink not yet created
        pass
    return spark.createDataFrame([], schema)


def interval_overlap_snapshot(spark: SparkSession, sess_path: str,
                              burst_path: str) -> DataFrame:
    """The batch answer over everything finalized so far: identical
    final stage as the batch operator (overlap_aggregate).  Sentinel /
    control users (negative ids) are excluded — they exist only to
    advance watermarks in tests and ops tooling."""
    sess = _read_or_empty(
        spark, sess_path,
        "user_id long, s_start long, s_end long, n_events long")
    bursts = _read_or_empty(
        spark, burst_path, "b_start long, b_end long, n_errors long")
    return overlap_aggregate(
        sess.filter(F.col("user_id") >= 0)
            .select("user_id", "s_start", "s_end"),
        bursts.select("b_start", "b_end"))
