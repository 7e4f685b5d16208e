"""Streaming SCD type-2 maintenance — the continuous twin of
``operators.mutation.scd2_history``'s interval build.

Each micro-batch folds new change-stream events into a versioned
SCD2 interval table ``(user_id, event_type, valid_from, from_eid,
valid_to)`` (``valid_to`` NULL = open/current), using the
snapshot-per-batch MVCC scheme shared with
``streaming_apply_changes`` (``windows.read_merged_table`` resolves
the highest _SUCCESS-marked ``v…`` directory; a replayed batch merges
against the snapshot BELOW its own and rewrites its directory
idempotently; ``compact_merged_table`` is the retention op).

Stitching: a touched user's OPEN interval re-enters the island window
as a pseudo-event at its original (valid_from, from_eid) — so a batch
whose first event continues the open type extends the interval
(duplicate suppression absorbs it, valid_from survives), while a type
change closes it at the new event's time, byte-for-byte what the
batch operator computes over the concatenated history.

Per-batch cost: only TOUCHED users' open intervals go through the
window (batch ∪ their opens, keyed by user); closed intervals and
untouched opens pass through as data.  The snapshot rewrite is
O(table) — MERGE's floor without a log-structured format underneath
(same trade as streaming_apply_changes; Delta/Iceberg slot in here).

Caller contract: the feed is per-user event-time-ordered across
batches (the append-log shape).  A late event older than its user's
open interval would need bitemporal correction — out of scope, as in
every SCD2 loader.
"""
from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigarrays_jl_spark.operators.mutation import scd2_intervals
from bigarrays_jl_spark.streaming.windows import read_merged_table

_IV_SCHEMA = ("user_id long, event_type string, valid_from long, "
              "from_eid long, valid_to long")


def streaming_scd2(events: DataFrame, table_root: str,
                   checkpoint_path: str):
    """Continuous SCD2 build over the events stream.  Returns the
    started StreamingQuery (caller stops it)."""

    def process_batch(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        ev = batch_df.select(
            "user_id", F.col("ts").cast("long").alias("t"),
            "event_id", "event_type")
        base = read_merged_table(spark, table_root,
                                 before_batch=batch_id)
        if base is None:
            base = spark.createDataFrame([], _IV_SCHEMA)
        closed = base.filter(F.col("valid_to").isNotNull())
        opens = base.filter(F.col("valid_to").isNull())
        touched = ev.select("user_id").distinct()
        open_touched = opens.join(touched, "user_id", "semi")
        open_rest = opens.join(touched, "user_id", "left_anti")
        pseudo = open_touched.select(
            "user_id", F.col("valid_from").alias("t"),
            F.col("from_eid").alias("event_id"), "event_type")
        iv = scd2_intervals(pseudo.unionByName(
            ev.select("user_id", "t", "event_id", "event_type")))
        out = closed.unionByName(open_rest).unionByName(iv)
        out.write.mode("overwrite").parquet(
            os.path.join(table_root, f"v{batch_id:09d}"))

    return (events.writeStream
            .foreachBatch(process_batch)
            .option("checkpointLocation", checkpoint_path)
            .start())
