"""Structured Streaming operators over the events stream (SURVEY §2B).

The reference has no streaming surface (SURVEY §1.6 — no streams exist in
it); this module is part of the driver-mandated extension inventory.
Each operator consumes a streaming DataFrame (file source here; Kafka in
production — same logical plan) and is the streaming twin of a batch
operator in ``operators/events.py``, which supplies the oracle-checked
semantics.  Tests drive them through a memory sink with
``processAllAvailable`` and compare against the batch results.

Watermarks bound state at scale: a 1000-executor deployment holds only
(watermark horizon × key cardinality) state rows per operator, and late
events beyond the horizon are dropped deterministically.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigarrays_jl_spark.checkpointing import materialize

_SCHEMA_CACHE: dict[tuple, T.StructType] = {}


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table.

    The raw schema is inferred from the batch file (readStream requires
    an explicit schema), so the stream tracks whatever parquet type the
    testdata ships `ts` as; the nanos→micros truncation is applied only
    when ts arrives as long — one behavior shared with the batch loader
    in sources/tables.py.  The inference (a parquet-footer read job) runs
    once per path and is cached, so repeated stream constructions over
    the same dataset cost no extra job and cannot race a concurrent
    rewrite of the file between footer read and stream start.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir.rstrip('/')}/events.parquet"
    # cache key includes the file's (mtime, size) so a dataset rewritten
    # in place with a different ts physical type re-infers instead of
    # serving the stale schema into the wrong conversion branch
    try:
        st = os.stat(path)
        ck = (path, st.st_mtime_ns, st.st_size)
    except OSError:
        ck = (path, None, None)
    raw_schema = _SCHEMA_CACHE.get(ck)
    if raw_schema is None:
        raw_schema = spark.read.parquet(path).schema
        # drop superseded entries for THIS path (schemas are tiny, but
        # a long-lived process rewriting the dataset shouldn't leak)
        for k in [k for k in _SCHEMA_CACHE if k[0] == path]:
            del _SCHEMA_CACHE[k]
        _SCHEMA_CACHE[ck] = raw_schema
    raw = (spark.readStream.schema(raw_schema)
           .option("pathGlobFilter", "events.parquet")
           .parquet(sf_dir))
    if isinstance(raw_schema["ts"].dataType, T.LongType):
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(raw_schema["ts"].dataType, T.TimestampNTZType):
        # watermarks require TIMESTAMP; session tz is UTC so this cast
        # preserves the naive value
        raw = raw.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return raw


def streaming_tumbling(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Tumbling 1-hour counts per event type with watermarked state —
    streaming twin of events_tumbling."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"),
                 # decimal partials, same as the batch twin (231cc96):
                 # a double fold is partition/trigger-order dependent
                 F.round(F.sum(F.col("value").cast("decimal(25,10)"))
                          .cast("double"), 2).alias("total_value"))
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n_events", "total_value"))


def streaming_sliding(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Sliding 1-hour/30-minute counts — streaming twin of events_sliding."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
            .agg(F.count("*").alias("n_events"))
            .select(F.col("w.start").alias("window_start"), "n_events"))


def streaming_session_window(events: DataFrame, gap: str = "30 minutes",
                             watermark: str = "1 hour") -> DataFrame:
    """Native session windows (gap-based) per user — the built-in
    streaming analog of the batch gaps-and-islands sessionization."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.session_window("ts", gap).alias("s"), "user_id")
            .agg(F.count("*").alias("n_events"))
            .select("user_id", F.col("s.start").alias("session_start"),
                    F.col("s.end").alias("session_end"), "n_events"))


def streaming_dedup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Exactly-once event delivery: drop duplicate event_ids within the
    watermark horizon (bounded state)."""
    return (events
            .withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(["event_id"]))


DOCS_RAW_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("source", T.StringType()),
    T.StructField("n_chars", T.LongType()),
])


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents table — the continuous-
    ingest shape of a training-data pipeline (object-store drops or
    Kafka in production; same logical plan)."""
    return (spark.readStream.schema(DOCS_RAW_SCHEMA)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir))


def streaming_corpus_dedup(docs: DataFrame,
                           watermark: str = "1 hour") -> DataFrame:
    """Ingest-time corpus dedup: drop documents whose normalized
    fingerprint was already admitted within the watermark horizon — the
    streaming twin of ``pipeline_clean_corpus``'s dedup stage (same
    fingerprint canon as ``dedup_fingerprint``).

    Documents carry no event time, so arrival time drives the watermark;
    state is bounded at (horizon × distinct fingerprints seen within
    it), and a re-crawled duplicate arriving after the horizon is
    re-admitted — the standard windowed-dedup trade at ingest scale.
    """
    from bigarrays_jl_spark.functions import fingerprint
    return (docs
            .withColumn("fp", fingerprint())
            .withColumn("arrival", F.current_timestamp())
            .withWatermark("arrival", watermark)
            .dropDuplicatesWithinWatermark(["fp"])
            .select("doc_id", "source", "fp"))


# the replay-safety primitives live in streaming/replay.py (ONE home
# since r15 — r14 verdict task 5); the underscore aliases are kept
# because every guarded bridge and its tests import them from here
from bigarrays_jl_spark.streaming.replay import (  # noqa: E402
    batch_already_in as _batch_already_in,
    guarded_append as _guarded_append,
    guarded_rows_append as _guarded_rows_append,
    read_index_or_none as _read_index_or_none)


def _repair_index(spark: SparkSession, out_path: str, index_path: str,
                  batch_id: int, key: str) -> None:
    """Replay repair of a guarded two-output bridge: the batch's out
    append committed on a previous attempt, so never recompute
    admission (it would re-admit and duplicate) — re-derive the
    admitted ``key`` values from the committed rows and append only the
    ones the index is missing (the crash-between-appends case)."""
    replay = (spark.read.parquet(out_path)
              .filter(F.col("batch_id") == batch_id).select(key))
    idx = _read_index_or_none(spark, index_path)
    if idx is not None:
        replay = replay.join(idx.select(key), key, "left_anti")
    replay.write.mode("append").parquet(index_path)


def streaming_incremental_dedup(docs: DataFrame, index_path: str,
                                out_path: str, checkpoint_path: str):
    """Production ingest-dedup bridge: foreachBatch + the
    dedup_incremental anti-join against a DURABLE fingerprint index.

    ``streaming_corpus_dedup`` bounds its memory by forgetting
    fingerprints past the watermark horizon; a real crawl pipeline
    instead keeps a PERSISTENT index (a parquet/Delta table of 16-byte
    fingerprints) so a document re-crawled months later is still
    rejected.  Each micro-batch:

      1. self-dedups (per-fingerprint min doc_id — the same keep rule
         as dedup_fingerprint),
      2. anti-joins the standing index (the dedup_incremental shape:
         the index holds DISTINCT fingerprints, never the corpus),
      3. appends admitted docs to ``out_path`` and their fingerprints
         to ``index_path``.

    Scale shape: the anti-join shuffles on the fingerprint hash (or
    broadcasts the micro-batch — Spark picks, the batch is the small
    side); index growth is one 16-byte row per ADMITTED doc, and no
    step ever rescans previously-deduped data.

    Replay safety is EXACTLY-ONCE on both outputs (r13 advice): a
    replayed micro-batch (foreachBatch is at-least-once after a crash)
    whose out append already committed is caught by the batch_id guard
    — the out write is skipped and the index is repaired from the
    committed rows, so neither a crash between the two appends nor a
    post-commit driver death can duplicate out rows or lose index
    hashes.

    Returns the started StreamingQuery (caller stops it).
    """
    from bigarrays_jl_spark.functions import fingerprint

    def process_batch(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession

        def write() -> None:
            best = (batch_df.withColumn("fp", fingerprint())
                    .groupBy("fp")
                    .agg(F.min("doc_id").alias("doc_id"),
                         F.min_by("source", "doc_id").alias("source")))
            # missing-path = first batch; any OTHER read error must FAIL
            # the batch (checkpoint retries it) — swallowing a transient
            # index read failure would skip the anti-join and silently
            # re-admit every already-seen doc in this micro-batch
            idx = _read_index_or_none(spark, index_path)
            if idx is not None:
                idx = idx.select("fp")
            fresh = (best if idx is None
                     else best.join(idx, "fp", "left_anti"))
            # one evaluation, two consumers: avoid recomputing the join
            fresh = materialize(fresh, eager=True)
            _guarded_rows_append(fresh.select("doc_id", "source", "fp"),
                                 out_path, batch_id)
            fresh.select("fp").write.mode("append").parquet(index_path)

        _guarded_append(spark, out_path, batch_id, write,
                        lambda: _repair_index(spark, out_path, index_path,
                                              batch_id, "fp"))

    return (docs.writeStream
            .foreachBatch(process_batch)
            .option("checkpointLocation", checkpoint_path)
            .start())


def streaming_minhash_neardup(docs: DataFrame, index_path: str,
                              out_path: str, checkpoint_path: str,
                              threshold: float = 0.5):
    """Near-dup screening at ingest: foreachBatch + a DURABLE band-
    signature index — the LSH analog of ``streaming_incremental_dedup``
    (which catches exact/normalized duplicates only).

    Each micro-batch computes minhash band signatures with the SAME
    map-side front-end as the batch operators
    (``operators.dedup.band_signatures`` — one canon, so streaming and
    batch can never disagree on what counts as similar), probes the
    standing index with a banded equi-join, emits (batch doc, corpus
    doc, est_jaccard ≥ threshold) matches, and appends the batch's own
    signatures to the index.

    Scale shape: probing costs O(batch × bands) rows against the index
    join — never corpus × corpus — and the index grows by bands-per-doc
    compact rows per batch; this is ``dedup_incremental_minhash``'s
    plan run continuously.  Matches carry ``batch_id``, and replay is
    EXACTLY-ONCE on both outputs (r13 advice): a replayed batch whose
    match append already committed skips the match write (batch_id
    guard); the probe excludes the batch's OWN (doc_id, b, band) rows
    from the index side (a replayed batch whose index append committed
    would otherwise find its own signatures and emit spurious
    self-matches — exact-row exclusion, not doc_id-wide, so a corpus
    doc's EARLIER version stays probeable by other batch docs, r14
    advice; same-id (X, X) drift pairs are structurally out of scope —
    see the probe comment); and the index append anti-joins the
    standing index on (doc_id, b, band) so re-appended signatures can
    never duplicate rows.

    Returns the started StreamingQuery (caller stops it).
    """
    from bigarrays_jl_spark.operators.dedup import (N_HASHES,
                                                    band_signatures)

    def process_batch(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        bands = materialize(            # one signature pass
            band_signatures(batch_df.select("doc_id", "text")), eager=True)
        # missing-path only; real I/O errors fail the batch for retry
        # (see streaming_incremental_dedup)
        idx = _read_index_or_none(spark, index_path)

        def write_matches() -> None:
            # probe only the PRE-batch signatures: a replayed batch
            # whose index append committed must not match against its
            # own rows.  The exclusion is keyed on the FULL row
            # identity (doc_id, b, band) — minhash recompute is
            # deterministic, so a replay's signatures are exactly the
            # rows the crashed attempt appended and all of them drop
            # out — NOT on doc_id alone (r14 advice): under the broad
            # exclusion, a batch containing doc_id X silently removed
            # X's EARLIER version's rows from everyone's probe, so a
            # different batch doc Y near-dup to old-X went unreported.
            # Exact-row exclusion keeps old-X probeable by Y while
            # still covering every row a replay could self-match.
            # (A same-id (X, X) drift pair remains out of scope by
            # construction, not by exclusion: band-equality LSH only
            # surfaces candidates whose (b, band) rows are EQUAL, and
            # an equal same-id row is indistinguishable from a replay's
            # own append — drifted bands produce no candidate at all.)
            probe = idx.join(
                bands.select("doc_id", "b", "band").distinct(),
                ["doc_id", "b", "band"], "left_anti")
            shared = F.size(F.filter(
                F.zip_with(F.col("a.sig"), F.col("i.sig"),
                           lambda x, y: x == y), lambda m: m))
            matches = (bands.alias("a")
             .join(probe.alias("i"), (F.col("a.b") == F.col("i.b"))
                   & (F.col("a.band") == F.col("i.band")))
             .select(F.col("a.doc_id").alias("batch_doc"),
                     F.col("i.doc_id").alias("corpus_doc"),
                     shared.alias("shared"))
             .groupBy("batch_doc", "corpus_doc")
             .agg(F.round(F.max("shared") / F.lit(float(N_HASHES)), 4)
                   .alias("est_jaccard"))
             .filter(F.col("est_jaccard") >= threshold))
            _guarded_rows_append(matches, out_path, batch_id)

        if idx is not None:     # nothing to probe on the first batch
            _guarded_append(spark, out_path, batch_id, write_matches)
        # append only the signatures the index is missing — keyed on the
        # FULL row identity (doc_id, b, band) so a replayed batch (or a
        # crash between the two appends) cannot duplicate index rows,
        # while a doc RE-INGESTED under the same doc_id with changed
        # text (different band hashes) still gets its new signatures
        # indexed; the old version's rows remain, as they always did —
        # the index accumulates, compact offline
        new_bands = bands if idx is None else bands.join(
            idx.select("doc_id", "b", "band"), ["doc_id", "b", "band"],
            "left_anti")
        # the anti-join puts its keys first: select back to the
        # signature order so every index part file has one schema
        new_bands.select(*bands.columns).write.mode("append").parquet(
            index_path)

    return (docs.writeStream
            .foreachBatch(process_batch)
            .option("checkpointLocation", checkpoint_path)
            .start())


def streaming_paragraph_dedup(docs: DataFrame, index_path: str,
                              out_path: str, checkpoint_path: str):
    """Paragraph-level ingest dedup: foreachBatch + a DURABLE
    paragraph-hash index — the streaming twin of
    ``text_paragraph_dedup`` (operators/dedup.py), the C4-style
    pipeline step that strips boilerplate paragraphs repeated across
    documents, and the step most likely to run continuously on a crawl.

    Same canon as the batch operator: paragraphs split on ``". "``,
    blank-trimmed, hashed as ``md5(trim(lower(para)))``.  Each
    micro-batch:

      1. explodes docs to paragraphs and self-dedups per hash (keep =
         min ``(doc_id, pidx)`` — the batch operator's keep rule),
      2. anti-joins the standing paragraph-hash index,
      3. appends admitted paragraph instances to ``out_path`` and their
         hashes to ``index_path``.

    Scale shape: the per-batch state is (paragraphs in the batch), the
    index holds one 16-byte hash per DISTINCT paragraph ever admitted,
    and the anti-join shuffles on the hash (or broadcasts the batch —
    Spark picks).  Nothing rescans previously-deduped data.

    Replay safety is EXACTLY-ONCE on both outputs (r13 advice): a
    replayed micro-batch whose out append already committed is caught
    by the batch_id guard — the out write is skipped and the index is
    repaired from the committed rows — so neither a crash between the
    two appends nor a post-commit driver death can duplicate out rows
    or lose index hashes.  Returns the started StreamingQuery.
    """
    def process_batch(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession

        def write() -> None:
            paras = (batch_df
                     .select("doc_id", "source",
                             F.posexplode(F.split(F.col("text"), r"\. "))
                              .alias("pidx", "para"))
                     .filter(F.trim(F.col("para")) != "")
                     .withColumn("ph",
                                 F.md5(F.trim(F.lower(F.col("para"))))))
            best = (paras.groupBy("ph")
                    .agg(F.min(F.struct("doc_id", "pidx", "source"))
                          .alias("k")))
            # missing-path = first batch; other read errors fail the
            # batch so the checkpoint retries it
            idx = _read_index_or_none(spark, index_path)
            if idx is not None:
                best = best.join(idx.select("ph"), "ph", "left_anti")
            fresh = materialize(best, eager=True)  # two consumers
            _guarded_rows_append(
                fresh.select(F.col("k.doc_id").alias("doc_id"),
                             F.col("k.pidx").alias("pidx"),
                             F.col("k.source").alias("source"), "ph"),
                out_path, batch_id)
            fresh.select("ph").write.mode("append").parquet(index_path)

        _guarded_append(spark, out_path, batch_id, write,
                        lambda: _repair_index(spark, out_path, index_path,
                                              batch_id, "ph"))

    return (docs.writeStream
            .foreachBatch(process_batch)
            .option("checkpointLocation", checkpoint_path)
            .start())


def streaming_source_leakage(docs: DataFrame, index_path: str,
                             out_path: str, checkpoint_path: str):
    """Incremental contamination monitor: foreachBatch + a DURABLE
    (source, 8-gram hash) index — the streaming twin of
    ``cross_source_leakage`` (operators/pipeline.py).  A crawl pipeline
    wants the train/test contamination matrix to update as documents
    arrive, not in a nightly O(corpus) recompute.

    Each micro-batch:

      1. explodes its docs to DISTINCT (source, gram-hash) pairs with
         the batch operator's own front-end (``pipeline.doc_shingles`` —
         one canon, so streaming and batch can never disagree on what
         counts as a gram),
      2. anti-joins the standing index on (source, ph) and appends only
         the NEW pairs — the index stays a compact distinct-pair set,
      3. recomputes the leakage matrix FROM THE INDEX (never from the
         corpus) and appends it under this ``batch_id``.

    Scale shape: per batch the work is (batch grams) + one index-sized
    matrix refresh — the index holds one 16-byte hash per distinct
    (source, gram), orders of magnitude smaller than the corpus, and
    nothing ever rescans previously-processed documents.

    Replay safety is EXACTLY-ONCE on the matrix output (r13 advice):
    the matrix append is last and guarded by batch_id, so a replayed
    micro-batch (at-least-once foreachBatch) whose matrix row already
    committed returns without appending a duplicate; index re-appends
    from a partially-committed attempt are collapsed by the anti-join
    and the matrix's ``distinct()`` read.
    Returns the started StreamingQuery (caller stops it).
    """
    from bigarrays_jl_spark.operators.pipeline import (doc_shingles,
                                                       leakage_matrix)

    def process_batch(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession

        def write() -> None:
            # the matrix append is the LAST write, so a guard hit means
            # the whole batch committed — no repair hook needed
            sp = doc_shingles(batch_df.select("source", "text"))
            # missing-path = first batch; other read errors fail the
            # batch so the checkpoint retries it
            idx = _read_index_or_none(spark, index_path)
            if idx is not None:
                sp = sp.join(idx.select("source", "ph"),
                             ["source", "ph"], "left_anti")
            sp.write.mode("append").parquet(index_path)
            full = spark.read.parquet(index_path).distinct()  # replay-safe
            _guarded_rows_append(leakage_matrix(full), out_path,
                                 batch_id)

        _guarded_append(spark, out_path, batch_id, write)

    return (docs.writeStream
            .foreachBatch(process_batch)
            .option("checkpointLocation", checkpoint_path)
            .start())


def streaming_anomaly_stats(events: DataFrame, stats_path: str,
                            checkpoint_path: str):
    """Durable per-type moment statistics for z-score anomaly flagging —
    the streaming feed of ``events_anomaly_zscore``'s stats stage.

    Each micro-batch appends its per-type partials ``(n, Σx, Σx²)`` as
    DECIMAL-exact sums keyed by ``batch_id``.  Decimal addition is
    associative, so folding the partials reproduces the batch
    operator's statistics BIT-EXACTLY regardless of how the stream was
    chopped into batches — the exactly-mergeable-sufficient-statistics
    pattern.  Replay safety is structural: a replayed batch appends
    duplicate ``(event_type, batch_id)`` rows, which the reader
    (``anomaly_stats_from_partials``) drops by key before folding.

    At scale the partials table grows |types| rows per batch (tiny);
    compact it by folding old batch ranges offline if horizons are
    long.  Returns the started StreamingQuery (caller stops it)."""
    from bigarrays_jl_spark.functions import moment_partials

    def process_batch(batch_df, batch_id: int) -> None:
        (batch_df.groupBy("event_type")
         .agg(*moment_partials(F.col("value")))
         .withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(stats_path))

    return (events.writeStream
            .foreachBatch(process_batch)
            .option("checkpointLocation", checkpoint_path)
            .start())


def anomaly_stats_from_partials(spark: SparkSession,
                                stats_path: str) -> DataFrame:
    """(event_type, mean, std) folded from the durable partials —
    bit-identical to the batch operator's stats stage (decimal partials
    merge exactly; replayed batches dedup by (event_type, batch_id)).
    Uses the shared moment canon (functions.moment_stats) so the fold
    can never drift from the batch operator's math.  A not-yet-written
    ``stats_path`` (stream started, no batch committed) yields an EMPTY
    stats frame rather than a raised path error — the same
    missing-vs-broken classification as the durable-index readers."""
    from bigarrays_jl_spark.functions import moment_stats
    p = _read_index_or_none(spark, stats_path)
    if p is None:
        return spark.createDataFrame(
            [], "event_type string, mean double, std double")
    folded = (p.dropDuplicates(["event_type", "batch_id"])
               .groupBy("event_type")
               .agg(F.sum("n").alias("n"), F.sum("sx").alias("sx"),
                    F.sum("sxx").alias("sxx")))
    return folded.select("event_type", *moment_stats())


def streaming_partitioned_sink(events: DataFrame, path: str,
                               checkpoint_path: str):
    """Continuous ingest into the hive-partitioned lake layout — the
    streaming writer for the same ``event_date=…/`` directory scheme
    ``sources.layout.write_partitioned`` produces in batch, so batch
    readers get directory-level PartitionFilters pruning over a table
    that is being appended live.  File-sink + checkpoint gives
    exactly-once file commits (the sink's transaction log excludes
    uncommitted files from reads).  At scale, pair with a periodic
    compaction of small files inside cold partitions; the partition
    column derives map-side from the event time.

    Returns the started StreamingQuery (caller stops it)."""
    return (events
            .withColumn("event_date", F.to_date("ts"))
            .writeStream
            .partitionBy("event_date")
            .option("checkpointLocation", checkpoint_path)
            .format("parquet")
            .option("path", path)
            .start())


def read_merged_table(spark: SparkSession, root: str,
                      before_batch: int | None = None) -> DataFrame | None:
    """Latest COMPLETE snapshot of a versioned merge table (see
    ``streaming_apply_changes``): highest ``v…`` directory carrying the
    parquet commit marker.  Incomplete writes (no _SUCCESS) and the
    not-yet-created root both read as the previous state — None when no
    snapshot exists yet.

    ``before_batch`` restricts resolution to snapshots from EARLIER
    batches — the merge loop passes its own batch_id here so a REPLAYED
    batch (crash after v{N}/_SUCCESS committed but before the stream
    checkpoint) re-merges against v{N-1} instead of reading v{N} while
    overwriting it, which Spark rejects (UNSUPPORTED_OVERWRITE.PATH)
    and which would wedge every restart until v{N} was hand-deleted."""
    import os
    if not os.path.isdir(root):
        return None
    versions = sorted(
        v for v in os.listdir(root)
        if v.startswith("v")
        and os.path.exists(os.path.join(root, v, "_SUCCESS"))
        and (before_batch is None or int(v[1:]) < before_batch))
    if not versions:
        return None
    return spark.read.parquet(os.path.join(root, versions[-1]))


def compact_merged_table(table_root: str, keep_last: int = 2) -> list[str]:
    """Snapshot retention for the versioned merge table: delete every
    snapshot directory STRICTLY OLDER than the oldest of the newest
    ``keep_last`` complete (_SUCCESS-marked) snapshots.  Returns the
    removed directory names.

    Safety contract (why this is the exact rule and not "keep newest"):

    - ``keep_last`` must be ≥ 2 — a REPLAYED micro-batch resolves its
      base with ``before_batch`` (the snapshot BELOW its own), so the
      previous snapshot must survive GC or a crash-replay after
      compaction would bootstrap from empty and lose the table.
    - Only directories below the OLDEST KEPT complete snapshot are
      touched: a markerless directory NEWER than that may be a write
      in flight right now; a markerless directory OLDER than it is a
      dead crash artifact (its batch must have completed later or the
      checkpoint could not have advanced) and is removed with the
      superseded snapshots.
    - Removal order is oldest-first and readers resolve the HIGHEST
      marked snapshot, so a concurrent ``read_merged_table`` never
      observes a gap.

    Run it offline or from the maintenance cadence; it is idempotent.
    """
    import os
    import shutil

    if keep_last < 2:
        raise ValueError(
            "keep_last must be >= 2: replayed batches read the snapshot "
            "below their own (read_merged_table(before_batch=...))")
    if not os.path.isdir(table_root):
        return []
    complete = sorted(
        v for v in os.listdir(table_root)
        if v.startswith("v")
        and os.path.exists(os.path.join(table_root, v, "_SUCCESS")))
    if len(complete) <= keep_last:
        return []
    floor = complete[-keep_last]     # v%09d: lexicographic == numeric
    removed = []
    for v in sorted(os.listdir(table_root)):
        if v.startswith("v") and v < floor:
            shutil.rmtree(os.path.join(table_root, v))
            removed.append(v)
    return removed


def streaming_apply_changes(changes: DataFrame, table_root: str,
                            checkpoint_path: str):
    """Continuous MERGE INTO: each micro-batch of the CDC feed
    ``(doc_id, op, c_lang, c_source, c_n_chars)`` is applied to the
    table through the SAME merge core as the batch operator
    (``operators.mutation.merge_changes`` — one canon, so batch and
    streaming can never disagree on merge semantics), producing a new
    IMMUTABLE snapshot directory ``v<batch_id>`` under ``table_root``.

    Snapshot-per-batch is the object-store-safe MVCC scheme (the
    rename-swap trick ``Volume._swap_mip_dir`` uses is atomic only on
    real filesystems): readers resolve the highest snapshot whose
    _SUCCESS marker exists, a crash mid-write leaves a markerless
    directory that no reader sees, and a REPLAYED micro-batch
    (foreachBatch is at-least-once after restart) rewrites its own
    version directory idempotently.  ``compact_merged_table`` is the
    retention op (run offline or on a maintenance cadence; keeps ≥ 2
    snapshots so replay stays safe) — production would put
    Delta/Iceberg here; this is the same log-structured idea with
    parquet primitives.

    Scale shape: one key-partitioned full-outer join per batch — the
    MERGE INTO physical plan — and the rewrite cost is the table size,
    which is MERGE's floor without a log-structured format underneath.

    Returns the started StreamingQuery (caller stops it)."""
    import os

    from bigarrays_jl_spark.operators.mutation import merge_changes

    def process_batch(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # before_batch=batch_id: a replayed batch merges against the
        # PREVIOUS snapshot, not the one it is about to overwrite
        base = read_merged_table(spark, table_root, before_batch=batch_id)
        if base is not None:
            base = base.select("doc_id", "lang", "source", "n_chars")
        else:   # first batch bootstraps from an empty base
            base = spark.createDataFrame(
                [], "doc_id long, lang string, source string, n_chars long")
        # enforce merge_changes' one-change-per-key contract: micro-batch
        # composition is engine-chosen (file arrivals can fold into one
        # trigger), so collapse multi-change keys.  If the feed carries
        # a log sequence number (a ``seq`` column), CDC semantics are
        # latest-wins: order by seq first, op precedence
        # delete > update > insert only breaks exact seq ties.  Without
        # one, precedence leads and the lexicographic struct max is the
        # deterministic (if arbitrary) same-precedence tiebreak.
        # The struct carries whatever change columns the feed has, so
        # the flagged NULL-capable dialect (c_X_set booleans,
        # mutation.merge_changes) rides the same bridge unchanged.
        pri = (F.when(F.col("op") == "delete", 3)
                .when(F.col("op") == "update", 2).otherwise(1))
        order = (["seq"] if "seq" in batch_df.columns else []) + ["pri"]
        feed_cols = [c for c in batch_df.columns
                     if c not in ("doc_id", "seq")]
        latest = (batch_df.withColumn("pri", pri)
                  .groupBy("doc_id")
                  .agg(F.max(F.struct(*order, *feed_cols)).alias("c"))
                  .select("doc_id", *[F.col(f"c.{c}") for c in feed_cols]))
        merged = merge_changes(base, latest)
        merged.write.mode("overwrite").parquet(
            os.path.join(table_root, f"v{batch_id:09d}"))

    return (changes.writeStream
            .foreachBatch(process_batch)
            .option("checkpointLocation", checkpoint_path)
            .start())


def streaming_append_inserts(inserts: DataFrame, table_root: str,
                             checkpoint_path: str):
    """Append-optimized fast path of the continuous MERGE for
    INSERT-ONLY feeds (the corpus-growth case — by far the dominant CDC
    shape for a training-data pipeline): each micro-batch lands as an
    immutable DELTA directory ``deltas/d<batch_id>`` at cost ∝ batch
    size, never the O(table) snapshot rewrite the general
    ``streaming_apply_changes`` pays.  Rows whose op is not ``insert``
    are REJECTED (the batch raises) — routing an update/delete through
    the append path would silently corrupt the table; mixed feeds
    belong on the general bridge.

    Read path: ``read_appended_table`` unions the latest folded
    snapshot (which covers every delta with id ≤ its version) with the
    complete deltas above it.  ``fold_inserts`` compacts: it pushes all
    complete deltas through the SAME shared merge core into the next
    snapshot ``v<max_delta_id>`` — so the append path can never drift
    from MERGE semantics — after which the folded deltas are dead and
    ``compact_appended_table`` may remove them.

    Replay safety mirrors the snapshot bridge: a replayed batch
    rewrites its own delta dir idempotently; a delta that was already
    folded (id ≤ snapshot version) is ignored by readers, so replay
    after a fold is harmless.  Caller contract: insert keys are unique
    across the feed (the upstream dedup gate's guarantee — this IS the
    post-dedup corpus-append pattern), and ONE stream owns the table —
    micro-batches are serial within a stream, which is what makes "a
    complete delta implies every lower-id delta completed (or will be
    replayed below the fold line)" hold, the invariant
    ``fold_inserts``/``compact_appended_table`` rely on.

    Returns the started StreamingQuery (caller stops it)."""
    import os

    def process_batch(batch_df, batch_id: int) -> None:
        # validate INSIDE the single write pass: a non-insert row raises
        # from within the scan (raise_error), so the batch source is
        # evaluated exactly once per micro-batch — the earlier separate
        # count() job re-evaluated the source a second time before every
        # delta write
        guard = (F.when(F.col("op") == "insert", F.lit("insert"))
                  .otherwise(F.raise_error(F.concat(
                      F.lit(f"streaming_append_inserts: batch {batch_id} "
                            "carries non-insert op '"), F.col("op"),
                      F.lit("' — use streaming_apply_changes for mixed "
                            "CDC feeds")))))
        (batch_df.select("doc_id",
                         F.col("c_lang").alias("lang"),
                         F.col("c_source").alias("source"),
                         F.col("c_n_chars").alias("n_chars"),
                         guard.alias("last_op"))
         .write.mode("overwrite")
         .parquet(os.path.join(table_root, "deltas", f"d{batch_id:09d}")))

    return (inserts.writeStream
            .foreachBatch(process_batch)
            .option("checkpointLocation", checkpoint_path)
            .start())


def _complete_deltas(root: str, above: int = -1) -> list[str]:
    import os
    ddir = os.path.join(root, "deltas")
    if not os.path.isdir(ddir):
        return []
    return sorted(
        d for d in os.listdir(ddir)
        if d.startswith("d") and int(d[1:]) > above
        and os.path.exists(os.path.join(ddir, d, "_SUCCESS")))


def _snapshot_version(root: str) -> int:
    """Highest complete snapshot's numeric version, -1 if none."""
    import os
    if not os.path.isdir(root):
        return -1
    versions = [int(v[1:]) for v in os.listdir(root)
                if v.startswith("v")
                and os.path.exists(os.path.join(root, v, "_SUCCESS"))]
    return max(versions, default=-1)


def read_appended_table(spark: SparkSession, root: str) -> DataFrame | None:
    """Latest folded snapshot ∪ complete unfolded deltas — the
    append-path reader.  None when nothing has ever been written."""
    import os
    base = read_merged_table(spark, root)
    deltas = _complete_deltas(root, above=_snapshot_version(root))
    if not deltas:
        return base
    d = spark.read.parquet(*[os.path.join(root, "deltas", x)
                             for x in deltas])
    return d if base is None else base.unionByName(d)


def fold_inserts(spark: SparkSession, root: str) -> int | None:
    """Compact every complete delta above the current snapshot into the
    next snapshot ``v<max_delta_id>`` through the shared merge core.
    Returns the new snapshot id, or None when there was nothing to
    fold.  Idempotent; crash-safe (a half-written snapshot has no
    _SUCCESS and the deltas remain)."""
    import os

    from bigarrays_jl_spark.operators.mutation import merge_changes

    ver = _snapshot_version(root)
    deltas = _complete_deltas(root, above=ver)
    if not deltas:
        return None
    base = read_merged_table(spark, root)
    if base is not None:
        base = base.select("doc_id", "lang", "source", "n_chars")
    else:
        base = spark.createDataFrame(
            [], "doc_id long, lang string, source string, n_chars long")
    changes = (spark.read.parquet(*[os.path.join(root, "deltas", x)
                                    for x in deltas])
               .select("doc_id", F.lit("insert").alias("op"),
                       F.col("lang").alias("c_lang"),
                       F.col("source").alias("c_source"),
                       F.col("n_chars").alias("c_n_chars")))
    new_id = max(int(d[1:]) for d in deltas)
    merge_changes(base, changes).write.mode("overwrite").parquet(
        os.path.join(root, f"v{new_id:09d}"))
    return new_id


def compact_appended_table(root: str, keep_last: int = 2) -> list[str]:
    """Retention for the append path: superseded snapshots GC through
    ``compact_merged_table``; folded deltas (id ≤ the OLDEST KEPT
    snapshot's version, so any batch that could still replay folds or
    reads above the floor) are removed as well.  Returns removed
    names."""
    import os
    import shutil

    removed = compact_merged_table(root, keep_last=keep_last)
    complete = sorted(
        int(v[1:]) for v in os.listdir(root)
        if v.startswith("v")
        and os.path.exists(os.path.join(root, v, "_SUCCESS")))
    if not complete:
        return removed
    floor = complete[0]      # oldest snapshot surviving the GC
    ddir = os.path.join(root, "deltas")
    if os.path.isdir(ddir):
        for d in sorted(os.listdir(ddir)):
            if d.startswith("d") and int(d[1:]) <= floor:
                shutil.rmtree(os.path.join(ddir, d))
                removed.append(f"deltas/{d}")
    return removed


def streaming_ingest_chunks(chunks: DataFrame, vol, checkpoint_path: str):
    """Continuous chunk ingest into a Volume — the acquisition bridge
    (microscopes emit sections continuously; the reference's answer is
    re-running its batch ingest script, `ref README.md:40-55`).  Each
    micro-batch of staged chunk rows ``(cx,cy,cz int, key string,
    payload binary)`` — raw Fortran-order bytes, the
    ``Volume.ingest_chunks`` contract — flows through THE SAME
    distributed ingest path (executor-side encode, no driver data).

    Replay safety rides the volume's epoch MVCC: a replayed batch
    re-ingests under a NEWER epoch and reads resolve the latest epoch
    per chunk, so duplicate delivery converges to the same voxels;
    ``compact()`` folds the superseded rows on the maintenance cadence.
    Returns the started StreamingQuery (caller stops it)."""
    def process_batch(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        vol.ingest_chunks(batch_df)

    return (chunks.writeStream
            .foreachBatch(process_batch)
            .option("checkpointLocation", checkpoint_path)
            .start())


def streaming_interval_join(events: DataFrame, horizon: str = "10 minutes",
                            watermark: str = "1 hour") -> DataFrame:
    """Stream-stream inner join: each view matched to the same user's
    clicks within ``horizon`` after it — the attribution/funnel join.

    Both sides carry watermarks and the join condition bounds the time
    range, so Spark can expire buffered state: per executor the state is
    (watermark + horizon) × per-user event rate, independent of total
    stream length — the property that makes this run forever at scale.
    """
    views = (events.filter(F.col("event_type") == "view")
             .select(F.col("user_id").alias("v_user"),
                     F.col("event_id").alias("view_id"),
                     F.col("ts").alias("v_ts"))
             .withWatermark("v_ts", watermark))
    clicks = (events.filter(F.col("event_type") == "click")
              .select(F.col("user_id").alias("c_user"),
                      F.col("event_id").alias("click_id"),
                      F.col("ts").alias("c_ts"))
              .withWatermark("c_ts", watermark))
    return (views.join(
        clicks,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr(f"INTERVAL {horizon}")))
        .select(F.col("v_user").alias("user_id"), "view_id", "click_id",
                "v_ts", "c_ts"))


def streaming_running_count(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user cumulative event count via
    applyInPandasWithState — the extension point for operators the
    built-in aggregations can't express (update-mode output)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ])
    state_schema = T.StructType([T.StructField("n", T.LongType())])

    def update(key, pdfs, state: GroupState):
        import pandas as pd
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    return (events.groupBy("user_id")
            .applyInPandasWithState(update, out_schema, state_schema,
                                    "update", GroupStateTimeout.NoTimeout))


ROCKSDB_PROVIDER = ("org.apache.spark.sql.execution.streaming.state."
                    "RocksDBStateStoreProvider")


def use_rocksdb_state(spark: SparkSession, enabled: bool = True) -> None:
    """Switch streaming state to the RocksDB provider (or back to the
    default in-memory HDFS-backed one).

    At 100 TB-scale key cardinality the default provider holds every
    state row on the executor JVM heap; RocksDB spills state to local
    disk with bounded memory and changelog checkpointing, which is the
    production configuration for large stateful queries (high-cardinality
    dedup horizons, million-user session windows).  The conf is captured
    per-query at start, so set it before ``start()``.
    """
    if enabled:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
                       ROCKSDB_PROVIDER)
    else:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def run_to_memory(sdf: DataFrame, name: str, output_mode: str = "append"):
    """Drive a streaming DataFrame to completion against a memory sink
    (synchronous; for tests and smoke checks)."""
    q = (sdf.writeStream.outputMode(output_mode)
         .format("memory").queryName(name).start())
    q.processAllAvailable()
    q.stop()
    return q
