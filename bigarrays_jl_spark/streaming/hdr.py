"""Streaming decimal-HDR quantiles — the twin of
``events_hdr_quantiles`` (operators/estimation.py), and the reason that
operator exists: the decimal-HDR histogram is BOUNDED (≤ ~900 buckets
per key at any data size) and EXACTLY MERGEABLE (bucket counts are
integers under addition), so the streaming state is a tiny partials
table and the snapshot is bit-identical to the batch operator over
everything seen — no watermark, no value-domain growth, no
approximation drift between engines.

Each micro-batch appends its per-(type, bucket) counts under
``batch_id`` (one guarded write — replay-exact); the snapshot folds
``distinct()`` partials and runs the SAME bucketed_quantile_pick canon
as the batch operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigarrays_jl_spark.operators.ordering import bucketed_quantile_picks
from bigarrays_jl_spark.operators.estimation import hdr_bucket_cents
from bigarrays_jl_spark.streaming.replay import (guarded_append,
                                                 guarded_rows_append,
                                                 merged_partials)


def streaming_hdr_quantiles(events: DataFrame, out_path: str,
                            checkpoint_path: str):
    """``events`` needs event_type and value.  Appends mergeable
    ``(event_type, lb, n, batch_id)`` bucket partials; fold with
    ``hdr_snapshot``.  Returns the started StreamingQuery."""

    def process_batch(batch_df, batch_id: int) -> None:
        def write() -> None:
            guarded_rows_append(
                batch_df
                .select("event_type",
                        hdr_bucket_cents(F.round(F.col("value") * 100)
                                         .cast("bigint")).alias("lb"))
                .groupBy("event_type", "lb").agg(F.count("*").alias("n")),
                out_path, batch_id)

        guarded_append(batch_df.sparkSession, out_path, batch_id, write)

    return (events.writeStream
            .foreachBatch(process_batch)
            .option("checkpointLocation", checkpoint_path)
            .start())


def hdr_snapshot(spark: SparkSession, out_path: str) -> DataFrame:
    """Fold the bucket partials into the exact events_hdr_quantiles
    output over everything the stream has seen."""
    hist = (spark.read.parquet(out_path).distinct()   # replay-safe fold
            .groupBy("event_type", "lb").agg(F.sum("n").alias("n")))
    return _quantiles_of(hist)


def hdr_merge_snapshot(spark: SparkSession,
                       out_paths: list[str]) -> DataFrame:
    """Cross-SKETCH merge (r14 verdict task 6): fold the partial
    tables of SEVERAL independent HDR streams — two datacenters, a
    backfill plus the live feed — into one quantile snapshot.
    Per-stream replay dedup + union via the shared ``merged_partials``
    canon, then bucket counts ADD across sketches: the merge is the
    same integer monoid the per-batch fold uses, so merge-of-streams
    == one stream over the union, exactly."""
    hist = (merged_partials(spark, out_paths)
            .groupBy("event_type", "lb").agg(F.sum("n").alias("n")))
    return _quantiles_of(hist)


def _quantiles_of(hist: DataFrame) -> DataFrame:
    """(event_type, lb, n) histogram → the events_hdr_quantiles output
    shape (shared by the single-stream and merged snapshots).  The
    histogram feeds four picks + totals — materialize once so the
    partial-table scan + replay-dedup fold run once, not 5× (the
    events_hdr_quantiles checkpoint idiom)."""
    from bigarrays_jl_spark.checkpointing import materialize
    hist = materialize(hist, eager=False)
    # all four fractions ride ONE shared pick chain (r18, same fold
    # as the batch events_hdr_quantiles it must stay snapshot==batch
    # identical to)
    picks = bucketed_quantile_picks(
        hist, "event_type", "lb", "n",
        [(1, 2, "p50_cents"), (9, 10, "p90_cents"),
         (99, 100, "p99_cents"), (999, 1000, "p999_cents")])
    tot = (hist.groupBy("event_type")
           .agg(F.sum("n").cast("bigint").alias("n_events"),
                F.count("*").cast("bigint").alias("n_buckets")))
    return (tot.join(picks, "event_type")
            .select("event_type", "n_events", "n_buckets",
                    F.col("p50_cents").cast("bigint").alias("p50_cents"),
                    F.col("p90_cents").cast("bigint").alias("p90_cents"),
                    F.col("p99_cents").cast("bigint").alias("p99_cents"),
                    F.col("p999_cents").cast("bigint")
                     .alias("p999_cents")))
