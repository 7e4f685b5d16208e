"""Streaming Bloom decontamination screen — the ingest-time twin of
``bloom_decontaminate`` (operators/pipeline.py), and the fourth member
of the mergeable-sketch family (KMV, decimal-HDR, CM): the Bloom
bitset is BOUNDED (≤ 2^17 distinct (j, bit) rows at any eval-set
size) and EXACTLY MERGEABLE (bitsets merge by set union), so the
durable state is a compact distinct-bits table and N shards'
bitsets union to the bitset of the pooled eval set.

Each micro-batch, through the one shared canon (the batch operator's
``tokens`` → 8-gram shingles → ``bloom_bit_col`` hash):

  1. folds the batch's EVAL docs (doc_id % 10 == 0 — the
     pipeline_decontaminate split) to their bloom bits and appends
     only the NEW ones to the durable bitset (anti-join — the bitset
     stays a distinct (j, bit) set, the same compact-index shape as
     ``streaming_source_leakage``),
  2. screens the batch's TRAIN docs against the bitset-so-far and
     appends per-doc positive counts under ``batch_id`` (guarded —
     exactly-once via the shared helper).

Ordering contract (inherent to ANY ingest-time screen, stated rather
than hidden): a train doc is screened against the bits of eval docs
seen SO FAR — eval data arriving later is not retroactively applied
(run the batch operator for a full retro-audit).  When the eval set
streams in first (the decontamination norm: the benchmark suite is
fixed before the crawl), the screen's output over the stream equals
the batch operator exactly — pytest-pinned, incl. restart and replay.

Scale shape: the bitset append is |batch eval grams × K| rows
anti-joined against a ≤ 2^17-row table; the screen is a broadcast
join over the batch's exploded train grams.  Nothing rescans
previously-screened documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigarrays_jl_spark.checkpointing import materialize
from bigarrays_jl_spark.functions.expressions import shingle_array, tokens
from bigarrays_jl_spark.operators.pipeline import (BLOOM_K, bloom_bit_col,
                                                   bloom_screen_counts)
from bigarrays_jl_spark.streaming.replay import (guarded_append,
                                                 guarded_rows_append,
                                                 read_index_or_none)


def _doc_grams(docs: DataFrame) -> DataFrame:
    """(doc_id, s) distinct-per-doc 8-grams — the batch operator's
    front-end (same tokens/shingle canon, same per-doc distinct)."""
    from bigarrays_jl_spark.operators.pipeline import DECON_NGRAM
    return (docs.select("doc_id", tokens().alias("t"))
            .select("doc_id",
                    F.explode(F.array_distinct(
                        shingle_array("t", DECON_NGRAM))).alias("s")))


def _bits_of(grams: DataFrame) -> DataFrame:
    """Distinct (j, bit) Bloom positions of a gram column."""
    jarr = F.array(*[F.lit(j) for j in range(BLOOM_K)])
    return (grams.select(F.explode(jarr).alias("j"), "s")
            .select("j", bloom_bit_col().alias("bit")).distinct())


def streaming_bloom_screen(docs: DataFrame, bits_path: str,
                           out_path: str, checkpoint_path: str):
    """See module docstring.  ``docs`` needs doc_id and text.  Appends
    ``(doc_id, n_bloom_pos, batch_id)`` for bloom-positive train docs;
    the durable bitset lives at ``bits_path``.  Returns the started
    StreamingQuery (caller stops it)."""

    def process_batch(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # The commit sentinel below lives at doc_id = -1, so negative
        # doc_ids are OUTSIDE this operator's data domain — a corpus
        # that carried one would have that doc silently dropped by the
        # snapshot's doc_id >= 0 filter (r15 advice).  Fail the batch
        # loudly instead; the checkpoint retries, the operator never
        # lies.
        n_neg = batch_df.filter(F.col("doc_id") < 0).limit(1).count()
        if n_neg:
            raise ValueError(
                "streaming_bloom_screen requires non-negative doc_ids "
                "(doc_id = -1 is reserved as the commit sentinel)")
        grams = materialize(_doc_grams(batch_df), eager=True)

        # 1. grow the bitset with this batch's eval docs (always runs;
        #    re-appends from a replay are collapsed by the anti-join,
        #    and the bits table is read distinct() everywhere)
        new_bits = _bits_of(grams.filter(F.col("doc_id") % 10 == 0))
        standing = read_index_or_none(spark, bits_path)
        if standing is not None:
            new_bits = new_bits.join(standing.select("j", "bit"),
                                     ["j", "bit"], "left_anti")
        new_bits.write.mode("append").parquet(bits_path)

        # 2. screen the batch's train docs against bits-so-far — the
        #    standing bits (already read for the anti-join) plus this
        #    batch's additions, combined IN MEMORY instead of
        #    re-listing/re-reading the bitset directory every batch
        #    (a per-batch LIST+GET on a growing object-store dir in
        #    the ingest hot path, r15 review); the screen rule itself
        #    is the batch operator's bloom_screen_counts — one canon.
        bits = (new_bits if standing is None
                else standing.select("j", "bit").unionByName(new_bits))

        def write() -> None:
            tr = grams.filter(F.col("doc_id") % 10 != 0)
            screened = bloom_screen_counts(tr, bits)
            # sentinel row (doc_id = -1): a batch whose screen flags
            # ZERO docs must still mark itself committed, or a replay
            # (which may see MORE bits than this batch did) would
            # re-screen under a different batch_id — duplicating rows
            # AND retroactively widening the screen, both wrong for an
            # ingest-time operator.  The snapshot filters it out.
            sentinel = spark.createDataFrame(
                [(-1, 0)], "doc_id long, n_bloom_pos long")
            guarded_rows_append(screened.unionByName(sentinel),
                                out_path, batch_id)

        guarded_append(spark, out_path, batch_id, write)

    return (docs.writeStream
            .foreachBatch(process_batch)
            .option("checkpointLocation", checkpoint_path)
            .start())


def bloom_screen_snapshot(spark: SparkSession, out_path: str) -> DataFrame:
    """(doc_id, n_bloom_pos) over everything screened so far — a doc
    appears once per batch it arrived in; fold keeps the max (replays
    collapse via distinct, re-ingested docs keep their widest
    screen)."""
    out = read_index_or_none(spark, out_path)
    assert out is not None, "stream has not screened any batch yet"
    return (out.distinct()
            .filter(F.col("doc_id") >= 0)     # drop commit sentinels
            .groupBy("doc_id")
            .agg(F.max("n_bloom_pos").cast("bigint")
                 .alias("n_bloom_pos")))


def bloom_bits_union(spark: SparkSession,
                     bits_paths: list[str]) -> DataFrame:
    """Cross-shard bitset merge: the union of N independent streams'
    bitsets IS the bitset of the pooled eval set (set union — the
    Bloom merge rule; per-stream dedup + union via the shared
    ``merged_partials`` canon)."""
    from bigarrays_jl_spark.streaming.replay import merged_partials
    return (merged_partials(spark, bits_paths)
            .select("j", "bit").distinct())
