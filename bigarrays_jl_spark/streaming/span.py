"""Ingest-time span-level dedup excision — the streaming twin of
``dedup_span_excise`` (operators/dedup.py): one foreachBatch bridge
maintaining a durable WINDOW-HASH index (distinct md5 of every
RUN_LEN-token window seen so far — compact 16-byte rows, never the
corpus) and appending the per-doc excision census as documents arrive.

Per micro-batch, through the batch operator's own canon:

  1. the batch's windows (doc_id, pos, h) come from the shared
     tokens/shingle canon,
  2. occurrences whose hash is ALREADY in the standing index are
     non-canonical outright (the canonical copy arrived in an earlier
     batch — under doc_id-ordered ingest it has the smaller doc_id),
  3. occurrences with FRESH hashes rank batch-locally by (doc_id,
     pos); rank 1 is the canonical first occurrence, everything later
     is a duplicated span (the batch operator's window, restricted to
     the batch — identical under the ordering contract),
  4. the per-doc census (n_tok, n_dup_win, n_excised) is appended
     batch_id-partitioned; the fresh hashes grow the index.

Exactly-once: the census append is batch_id-guarded through the
shared ``replay.guarded_append``; the index delta derives from BATCH
data (replay-stable — the streaming_curate bitset idiom) and is
anti-joined against the standing index, so the crash window between
the census append and the index append heals on the same-batch_id
replay via the repair hook, and full replays are no-ops.

Ordering contract (stated like the other bridges'): the snapshot
census equals the batch operator EXACTLY when ingest is doc_id-ordered
across batches (every batch's doc_ids exceed all earlier batches') —
then "hash in standing index" coincides with "a smaller (doc_id, pos)
occurrence exists".  Pytest-pinned, including restart and full replay.

Scale shape per batch: one batch-sized window explode (fan-out
RUN_LEN), ONE batch×index join on 16-byte hashes (the index is the
distinct-window set — grows sub-linearly in the corpus under any
duplication), a batch-local window over fresh hashes, and a per-doc
distinct bounded by RUN_LEN × batch windows.  Nothing rescans
previously-ingested documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from bigarrays_jl_spark.checkpointing import materialize
from bigarrays_jl_spark.functions.expressions import shingle_array, tokens
from bigarrays_jl_spark.operators.dedup import RUN_LEN
from bigarrays_jl_spark.streaming.replay import (guarded_append,
                                                 guarded_rows_append,
                                                 read_index_or_none)


def _batch_wins(df: DataFrame) -> DataFrame:
    """(doc_id, pos, h) — the batch's RUN_LEN-token window occurrences,
    the dedup_span_excise canon (1-based pos, md5 window hash)."""
    return (df.select("doc_id", tokens().alias("t"))
            .filter(F.size("t") >= RUN_LEN)
            .select("doc_id",
                    F.posexplode(shingle_array("t", RUN_LEN))
                     .alias("pos0", "w"))
            .select("doc_id", (F.col("pos0") + 1).alias("pos"),
                    F.md5("w").alias("h")))


def streaming_span_excise(docs: DataFrame, win_index_path: str,
                          out_path: str, checkpoint_path: str):
    """See module docstring.  ``docs`` needs (doc_id, text).  Appends
    ``(doc_id, n_tok, n_dup_win, n_excised, batch_id)`` per doc (+ a
    doc_id = -1 commit sentinel so empty batches replay exactly-once).
    Returns the started StreamingQuery (caller stops it)."""

    def process_batch(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.filter(F.col("doc_id") < 0).limit(1).count():
            raise ValueError(
                "streaming_span_excise requires non-negative doc_ids "
                "(doc_id = -1 is reserved as the commit sentinel)")
        batch_df = materialize(batch_df, eager=True)  # wins + base

        def index_delta() -> DataFrame:
            """Fresh window hashes — derived from BATCH data, so the
            delta is identical on a crash replay (nothing here reads
            state the crashed attempt may have half-written)."""
            wins = _batch_wins(batch_df)
            standing = read_index_or_none(spark, win_index_path)
            fresh = wins.select("h").distinct()
            if standing is not None:
                fresh = fresh.join(standing.select("h"), "h", "left_anti")
            return fresh

        def repair() -> None:
            # census append committed; the index append may not have —
            # recompute the batch's delta against the index AS IT IS
            # NOW and append whatever is still missing (idempotent)
            index_delta().write.mode("append").parquet(win_index_path)

        def write() -> None:
            wins = materialize(_batch_wins(batch_df), eager=True)
            standing = read_index_or_none(spark, win_index_path)
            if standing is None:
                hit = wins.limit(0)
                fresh = wins
            else:
                idx = standing.select("h")
                hit = wins.join(idx, "h", "left_semi")
                fresh = wins.join(idx, "h", "left_anti")
            rn = F.row_number().over(
                W.partitionBy("h").orderBy("doc_id", "pos"))
            nc = (hit.select("doc_id", "pos")
                  .unionByName(fresh.withColumn("rn", rn)
                               .filter(F.col("rn") > 1)
                               .select("doc_id", "pos")))
            # both censuses in ONE pass over nc (the batch operator's
            # r17 fold): a (doc_id, pos) pair is unique in nc — hit and
            # fresh partition the batch's windows — so n_dup_win ==
            # countDistinct(pos) survives the coverage explode and
            # n_excised == countDistinct(p) replaces distinct+count
            census = (nc.select("doc_id", "pos",
                                F.explode(F.sequence(
                                    F.col("pos"),
                                    F.col("pos") + F.lit(RUN_LEN - 1)))
                                .alias("p"))
                      .groupBy("doc_id")
                      .agg(F.countDistinct("pos").alias("n_dup_win"),
                           F.countDistinct("p").alias("n_excised")))
            base = batch_df.select(
                "doc_id", F.size(tokens()).alias("n_tok"))
            out = (base.join(census, "doc_id", "left")
                   .select("doc_id",
                           F.col("n_tok").cast("bigint").alias("n_tok"),
                           F.coalesce("n_dup_win", F.lit(0)).cast("bigint")
                            .alias("n_dup_win"),
                           F.coalesce("n_excised", F.lit(0)).cast("bigint")
                            .alias("n_excised")))
            sentinel = spark.createDataFrame(
                [(-1, 0, 0, 0)],
                "doc_id long, n_tok long, n_dup_win long, n_excised long")
            # census first (the guarded table), THEN the index — the
            # guard's absence implies the index delta is repairable
            guarded_rows_append(out.unionByName(sentinel),
                                out_path, batch_id)
            fresh.select("h").distinct().write.mode("append") \
                .parquet(win_index_path)

        guarded_append(spark, out_path, batch_id, write, repair)

    return (docs.writeStream
            .foreachBatch(process_batch)
            .option("checkpointLocation", checkpoint_path)
            .start())


def span_excise_snapshot(spark: SparkSession, out_path: str) -> DataFrame:
    """The per-doc excision census of everything ingested so far — the
    exact ``dedup_span_excise`` output under the module's ordering
    contract (n_clean_tok derived, matching the batch columns)."""
    out = read_index_or_none(spark, out_path)
    assert out is not None, "stream has not ingested any batch yet"
    return (out.distinct().filter(F.col("doc_id") >= 0)
            .select("doc_id", "n_tok", "n_dup_win", "n_excised",
                    (F.col("n_tok") - F.col("n_excised")).cast("bigint")
                    .alias("n_clean_tok")))
