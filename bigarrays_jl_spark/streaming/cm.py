"""Streaming Count-Min sketch — the twin of ``cm_heavyhitters``'s
sketch leg (operators/estimation.py), and the third member of the
exactly-mergeable-sketch family (KMV in streaming/kmv.py, decimal-HDR
in streaming/hdr.py): the CM bucket table is BOUNDED (D×W = 4096
integer counters at any corpus size) and bucket counts are integers
under addition, so the streaming state is a tiny partials table and
the folded snapshot is bit-identical to the batch-built sketch over
everything seen — no approximation drift between batch and stream.

Each micro-batch folds its documents through the SAME gram/bucket
canon as the batch operator (``gram_counts_of`` + ``cm_sketch_of`` —
one canon, so batch and streaming can never disagree on a bucket) and
appends ≤ 4096 partial rows ``(j, bucket, n, batch_id)`` under the
shared exactly-once guard.  ``cm_merge_snapshot`` folds SEVERAL
streams' partial tables (shards, datacenters) by the same bucket
addition — merge-of-sketches == sketch-of-union, exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigarrays_jl_spark.operators.estimation import (cm_sketch_of,
                                                     gram_counts_of)
from bigarrays_jl_spark.streaming.replay import (guarded_append,
                                                 guarded_rows_append,
                                                 merged_partials)


def streaming_cm_sketch(docs: DataFrame, out_path: str,
                        checkpoint_path: str):
    """``docs`` needs a ``text`` column.  Appends mergeable
    ``(j, bucket, n, batch_id)`` partials (≤ 4096 rows per batch);
    fold with ``cm_snapshot``.  Returns the started StreamingQuery."""

    def process_batch(batch_df, batch_id: int) -> None:
        def write() -> None:
            guarded_rows_append(cm_sketch_of(gram_counts_of(batch_df)),
                                out_path, batch_id)

        guarded_append(batch_df.sparkSession, out_path, batch_id, write)

    return (docs.writeStream
            .foreachBatch(process_batch)
            .option("checkpointLocation", checkpoint_path)
            .start())


def cm_snapshot(spark: SparkSession, out_path: str) -> DataFrame:
    """Fold the partials into the exact batch-built sketch
    ``(j, bucket, n)`` over everything the stream has seen."""
    return cm_merge_snapshot(spark, [out_path])


def cm_merge_snapshot(spark: SparkSession,
                      out_paths: list[str]) -> DataFrame:
    """Cross-sketch merge: fold the partial tables of several
    independent CM streams by bucket addition (per-stream replay
    dedup + union via the shared ``merged_partials`` canon)."""
    return (merged_partials(spark, out_paths)
            .groupBy("j", "bucket").agg(F.sum("n").alias("n")))
