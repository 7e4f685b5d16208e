"""Ingest-time END-TO-END curation — the streaming twin of
``pipeline_e2e_curate`` (operators/pipeline.py): one foreachBatch
bridge that runs the full training-data curation pipeline as documents
arrive, against three durable structures:

  - ``fp_index_path``  — md5(text) fingerprints of every doc ADMITTED
    past the Gopher gate + dedup (the incremental-dedup index shape:
    distinct 16-byte rows, never the corpus),
  - ``grams_path``     — the eval split's distinct 8-gram shingles
    (the exact decontamination index; partitioned at scale, only
    bloom-POSITIVE grams ever join it),
  - ``bits_path``      — the 2^17-bit Bloom bitset of those grams
    (the broadcastable map-side screen; set-union mergeable).

Each micro-batch, through the batch operator's own stage canons:

  1. eval docs (doc_id % 10 == 0) grow the gram index and the bitset
     (anti-join appends — both stay distinct sets; replays are no-ops),
  2. train docs pass the Gopher gate map-side (``_gopher_metrics``),
  3. gate survivors self-dedup (min doc_id per md5(text)) and
     anti-join the standing fingerprint index — first admitted copy
     wins, exactly ``streaming_incremental_dedup``'s shape,
  4. fresh docs screen against bits-so-far; bloom-positive grams (and
     ONLY those — no false negatives, so the result equals the full
     exact join) verify against the gram index; each admitted doc is
     appended with its token count and a ``contaminated`` flag — the
     flag rather than a drop, so the fingerprint index can always be
     repaired from committed output rows (an admitted-but-contaminated
     doc's fp must still block later copies, as it does in the batch
     operator).

Exactly-once: the output append is batch_id-guarded through the shared
``replay.guarded_append``; the repair hook re-derives missing index
fps from the committed batch rows; the gram/bit appends are idempotent
by construction (anti-join against a distinct-read standing set).
Structured Streaming never starts batch N+1 before batch N's
foreachBatch returned, so the crash window between the two appends is
always healed by the same-batch_id replay before any later batch reads
the index.

Ordering contract (inherent to ANY ingest-time pipeline, stated like
streaming/bloom.py's): a train doc is deduped against fingerprints
seen SO FAR and screened against eval grams seen SO FAR.  When the
eval set streams first (the decontamination norm) and each
fingerprint's minimum-doc_id copy arrives no later than its other
copies (doc_id-ordered ingest), the snapshot census equals the batch
operator EXACTLY — pytest-pinned, including restart and full replay.

Scale shape per batch: one map-side gate pass, one batch-sized digest
self-dedup, a batch×index anti-join on 16-byte keys, a broadcast
bitset screen over the batch's exploded grams, and a sliver-sized
exact join.  Nothing rescans previously-curated data; the snapshot's
packer is the distributed prefix sum (no whole-table window).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigarrays_jl_spark.checkpointing import materialize
from bigarrays_jl_spark.functions.expressions import shingle_array, tokens
from bigarrays_jl_spark.operators.extensions import _gopher_metrics
from bigarrays_jl_spark.operators.pipeline import DECON_NGRAM
from bigarrays_jl_spark.operators.pipeline import (_bloom_positive_grams,
                                                   n_tok_col, pack_census)
from bigarrays_jl_spark.streaming.bloom import _bits_of, _doc_grams
from bigarrays_jl_spark.streaming.replay import (guarded_append,
                                                 guarded_rows_append,
                                                 read_index_or_none)


def streaming_curate(docs: DataFrame, fp_index_path: str, grams_path: str,
                     bits_path: str, out_path: str, checkpoint_path: str):
    """See module docstring.  ``docs`` needs (doc_id, text).  Appends
    ``(doc_id, fp, n_tok, contaminated, batch_id)`` per admitted doc
    (+ a doc_id = -1 commit sentinel so empty batches replay exactly-
    once).  Returns the started StreamingQuery (caller stops it)."""

    def process_batch(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.filter(F.col("doc_id") < 0).limit(1).count():
            raise ValueError(
                "streaming_curate requires non-negative doc_ids "
                "(doc_id = -1 is reserved as the commit sentinel)")
        batch_df = materialize(batch_df, eager=True)  # many consumers

        # 1. grow the eval gram index + bitset (idempotent: anti-join
        #    appends against distinct-read standing sets)
        ev_grams = (_doc_grams(batch_df.filter(F.col("doc_id") % 10 == 0))
                    .select("s").distinct())
        standing_g = read_index_or_none(spark, grams_path)
        new_g = (ev_grams if standing_g is None
                 else ev_grams.join(standing_g.select("s"), "s",
                                    "left_anti"))
        new_g = materialize(new_g, eager=True)  # write + union
        new_g.write.mode("append").parquet(grams_path)
        # Bit delta is derived from the BATCH's grams (ev_grams), not
        # from the gram-index delta (new_g): a crash between the two
        # appends makes new_g empty on replay (the grams are standing
        # by then), and bits derived from it would never be written —
        # permanent Bloom false negatives vs the gram index (r16
        # advice).  ev_grams is replay-stable, and the anti-join
        # against the standing bitset keeps the append idempotent —
        # the streaming_bloom_screen idiom.
        new_bits = _bits_of(ev_grams)
        standing_b = read_index_or_none(spark, bits_path)
        nb = (new_bits if standing_b is None
              else new_bits.join(standing_b.select("j", "bit"),
                                 ["j", "bit"], "left_anti"))
        nb = materialize(nb, eager=True)  # write + union
        nb.write.mode("append").parquet(bits_path)
        # bits/grams-so-far, combined IN MEMORY (the bloom.py idiom —
        # no re-list of a growing dir in the ingest hot path)
        bits = (nb if standing_b is None
                else standing_b.select("j", "bit").unionByName(nb))
        grams_all = (new_g.select("s") if standing_g is None
                     else standing_g.select("s")
                     .unionByName(new_g.select("s")))

        def repair() -> None:
            # out append committed, index append may not have: re-derive
            # the batch's admitted fps from the committed rows (ALL
            # admitted docs carry rows — contaminated ones included,
            # which is why the flag exists) and append the missing ones
            replay = (spark.read.parquet(out_path)
                      .filter((F.col("batch_id") == batch_id)
                              & (F.col("doc_id") >= 0)).select("fp"))
            idx = read_index_or_none(spark, fp_index_path)
            if idx is not None:
                replay = replay.join(idx.select("fp"), "fp", "left_anti")
            replay.distinct().write.mode("append").parquet(fp_index_path)

        def write() -> None:
            g = _gopher_metrics(F.col("text"))
            tr = batch_df.filter((F.col("doc_id") % 10 != 0)
                                 & g["gopher_pass"])
            best = (tr.groupBy(F.md5("text").alias("fp"))
                    .agg(F.min("doc_id").alias("doc_id"),
                         F.min_by("text", "doc_id").alias("text")))
            idx = read_index_or_none(spark, fp_index_path)
            fresh = (best if idx is None
                     else best.join(idx.select("fp"), "fp", "left_anti"))
            fresh = materialize(fresh, eager=True)  # grams + out + idx
            kg = (fresh.select("doc_id", tokens().alias("t"))
                  .select("doc_id", F.explode(F.array_distinct(
                      shingle_array("t", DECON_NGRAM))).alias("s")))
            contaminated = (_bloom_positive_grams(kg, bits)
                            .join(grams_all, "s", "left_semi")
                            .select("doc_id").distinct()
                            .withColumn("c", F.lit(True)))
            out = (fresh.select("doc_id", "fp",
                                n_tok_col().cast("bigint").alias("n_tok"))
                   .join(contaminated, "doc_id", "left")
                   .select("doc_id", "fp", "n_tok",
                           F.coalesce("c", F.lit(False))
                           .alias("contaminated")))
            sentinel = spark.createDataFrame(
                [(-1, "", 0, False)],
                "doc_id long, fp string, n_tok long, contaminated boolean")
            # batch_id-partitioned append (the shared canon): the
            # crash-replay repair and the exactly-once guard both
            # filter on batch_id — at scale the committed output is
            # corpus-sized, and without the partition layout each
            # replay reread everything (r16 verdict task 2).
            guarded_rows_append(out.unionByName(sentinel),
                                out_path, batch_id)
            fresh.select("fp").write.mode("append").parquet(fp_index_path)

        guarded_append(spark, out_path, batch_id, write, repair)

    return (docs.writeStream
            .foreachBatch(process_batch)
            .option("checkpointLocation", checkpoint_path)
            .start())


def curate_census_snapshot(spark: SparkSession, out_path: str) -> DataFrame:
    """The packed-sequence census of everything curated so far — the
    exact ``pipeline_e2e_curate`` output under the module's ordering
    contract.  Survivors = admitted rows that are not contaminated;
    the packer is the shared ``pack_census`` canon."""
    out = read_index_or_none(spark, out_path)
    assert out is not None, "stream has not curated any batch yet"
    surv = (out.distinct()
            .filter((F.col("doc_id") >= 0) & ~F.col("contaminated"))
            .select("doc_id", "n_tok"))
    return pack_census(spark, surv)


def curate_admission_log(spark: SparkSession, out_path: str) -> DataFrame:
    """(doc_id, contaminated) for every admitted doc — the audit view
    a curation team reads next to the census (what got through the
    gate+dedup, and which of those the decontamination screen cut)."""
    out = read_index_or_none(spark, out_path)
    assert out is not None, "stream has not curated any batch yet"
    return (out.distinct().filter(F.col("doc_id") >= 0)
            .select("doc_id", "contaminated"))
