"""Streaming twins of the r13 engagement/curation analytics (r13
verdict task 4): both run continuously in production, and both follow
the proven durable-index + foreachBatch pattern (streaming/windows.py
paragraph dedup, contamination monitor) with the r14 exactly-once
replay guard.

- ``streaming_session_bounce`` — continuous per-entry-type bounce
  rate, the twin of ``session_bounce_rate`` (operators/events.py).
  Sessions SPAN micro-batches, so the bridge keeps a durable
  open-session state table (one row per user: entry type, event count,
  last event epoch-second) and merges each batch's first session into
  it with the exact ``sessionized`` gap canon (> 30 min of epoch
  seconds splits).  Closed sessions fold to per-entry partials
  appended under ``batch_id``; the snapshot (closed partials + open
  state) equals the batch operator over everything seen — pinned by
  tests on full, prefix-split, and restarted feeds.

  Ordering contract: micro-batches must arrive in event-time order per
  user (a replayed log or a watermarked upstream provides this); the
  state merge looks only at the gap between a batch's first event and
  the open session's last, so late data older than the open session
  would need the batch operator's full recompute instead.  Since r15
  the contract is ENFORCED, not assumed: a batch carrying events older
  than any user's open session raises before writing anything (the
  checkpoint retries the batch), so a shuffled feed is an error, never
  a silently-wrong bounce rate.

- ``streaming_boilerplate`` — continuous boilerplate-prefix monitor,
  the twin of ``boilerplate_prefixes``.  The durable index holds
  per-batch (prefix-hash, source, n) partials — compact, corpus-
  independent — and each batch appends the refreshed top-20 under its
  ``batch_id``, recomputed FROM THE INDEX (never the corpus).

Scale shape: session state is one row per user with an open session
(users-sized, not events-sized) and is rewritten per batch into a
VERSIONED directory (``state/v<batch_id>``) — the rewrite is the price
of exact replay (recompute batch N from state v<N) and is how a real
pipeline would checkpoint dimension-sized state; the bridge GCs
superseded versions itself after each commit (``_prune_state_versions``
keeps the newest 2 committed — everything older is unreachable by the
replay rule).  The boilerplate index grows |distinct (prefix,
source) per batch| rows per batch; the monitor refresh is index-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigarrays_jl_spark.checkpointing import materialize
from bigarrays_jl_spark.operators.events import SESSION_GAP_MIN, sessionized
from bigarrays_jl_spark.operators.text import BOILER_K, BOILER_TOPK
from bigarrays_jl_spark.streaming.replay import (
    batch_already_in as _batch_already_in,
    commit_marked,
    guarded_append as _guarded_append,
    guarded_rows_append as _guarded_rows_append,
    read_index_or_none as _read_index_or_none)

_GAP_S = SESSION_GAP_MIN * 60

_STATE_SCHEMA = "user_id long, entry string, n_ev bigint, last_sec bigint"


def _state_version_path(state_path: str, batch_id: int) -> str:
    return f"{state_path.rstrip('/')}/v{batch_id}"


# a COMPLETE job-committed state version = the shared _SUCCESS-marker
# check (streaming/replay.py since r15); a readable-but-markerless
# v(N) is a crash artifact and must not be adopted (r14 review)
_state_committed = commit_marked


def _prune_state_versions(spark: SparkSession, state_path: str,
                          keep_last: int = 2) -> list[str]:
    """Retention GC for the versioned session state (r14 verdict task
    2): delete every ``v<id>`` directory STRICTLY OLDER than the oldest
    of the newest ``keep_last`` COMMITTED (``_SUCCESS``-marked)
    versions.  Returns the removed directory names.

    Safety: a replayed batch N reads the newest committed version
    STRICTLY BELOW N (``_latest_state_before``), so after batch N
    commits v(N), only v(N) and the version it was computed from can
    ever be read again — ``keep_last=2`` preserves exactly those, and
    anything older is unreachable.  Markerless directories older than
    the retention floor are dead crash artifacts (their batch must have
    completed in a later attempt or the stream checkpoint could not
    have advanced past it) and are removed too; markerless directories
    NEWER than the floor are left alone (they may be a write in
    flight).  Uses the Hadoop FS API so the same code runs on object
    stores, where this state would live in production; mirrors
    ``windows.compact_merged_table``'s contract for the merge table."""
    if keep_last < 2:
        raise ValueError(
            "keep_last must be >= 2: a replayed batch reads the "
            "committed version below its own")
    from py4j.protocol import Py4JJavaError
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(state_path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    try:
        entries = fs.listStatus(jpath)
    except Py4JJavaError as e:
        if "FileNotFoundException" in str(e.java_exception):
            return []
        raise
    versions = sorted(
        int(st.getPath().getName()[1:]) for st in entries
        if st.getPath().getName().startswith("v")
        and st.getPath().getName()[1:].isdigit())
    committed = [v for v in versions if _state_committed(
        spark, _state_version_path(state_path, v))]
    if len(committed) <= keep_last:
        return []
    floor = committed[-keep_last]
    removed = []
    for v in versions:
        if v < floor:
            fs.delete(jvm.org.apache.hadoop.fs.Path(
                _state_version_path(state_path, v)), True)
            removed.append(f"v{v}")
    return removed


def _latest_state_before(spark: SparkSession, state_path: str,
                         batch_id: int) -> DataFrame | None:
    """The newest COMMITTED (``_SUCCESS``-marked) state version STRICTLY
    BEFORE ``batch_id`` — the input a (re)computation of batch N must
    read, regardless of whether a half-finished attempt already wrote
    v(N)."""
    from py4j.protocol import Py4JJavaError
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(state_path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    try:
        entries = fs.listStatus(jpath)
    except Py4JJavaError as e:
        if "FileNotFoundException" in str(e.java_exception):
            return None
        raise
    best = -1
    for st in entries:
        name = st.getPath().getName()
        if name.startswith("v") and name[1:].isdigit():
            v = int(name[1:])
            if v < batch_id and v > best and _state_committed(
                    spark, _state_version_path(state_path, v)):
                best = v
    if best < 0:
        return None
    return spark.read.parquet(_state_version_path(state_path, best))


def streaming_session_bounce(events: DataFrame, state_path: str,
                             out_path: str, checkpoint_path: str):
    """See module docstring.  ``events`` needs user_id, ts, event_id,
    event_type.  Appends per-entry closed-session partials
    ``(entry_type, n_sessions, n_bounces, batch_id)`` to ``out_path``;
    ``session_bounce_snapshot`` folds them with the open state.

    Write order & replay: partials first (guarded by batch_id), state
    version v(batch_id) second.  A replay after the partial append
    committed recomputes ONLY the state — deterministic from
    state v<N plus the batch — so neither side can double-count.
    Returns the started StreamingQuery (caller stops it)."""

    def process_batch(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        vN = _state_version_path(state_path, batch_id)
        partials_done = _batch_already_in(spark, out_path, batch_id)
        if partials_done and _state_committed(spark, vN):
            return                              # fully committed
        prev = _latest_state_before(spark, state_path, batch_id)

        sess = sessionized(batch_df.select("user_id", "ts", "event_id",
                                           "event_type"))
        per = (sess.groupBy("user_id", "session_id")
               .agg(F.count("*").alias("n_ev"),
                    F.min_by("event_type", F.struct("ts", "event_id"))
                     .alias("entry"),
                    F.min(F.col("ts").cast("long")).alias("first_sec"),
                    F.max(F.col("ts").cast("long")).alias("last_sec")))
        bounds = per.groupBy("user_id").agg(
            F.min("session_id").alias("min_sid"),
            F.max("session_id").alias("max_sid"))
        per = per.join(bounds, "user_id")
        if prev is not None:
            pv = prev.select("user_id", F.col("entry").alias("p_entry"),
                             F.col("n_ev").alias("p_n"),
                             F.col("last_sec").alias("p_last"))
            per = per.join(pv, "user_id", "left")
        else:
            per = (per.withColumn("p_entry", F.lit(None).cast("string"))
                      .withColumn("p_n", F.lit(None).cast("bigint"))
                      .withColumn("p_last", F.lit(None).cast("bigint")))
        # the batch's FIRST session merges into the user's open session
        # iff the gap is within the canon (<= 1800 s of epoch seconds —
        # the exact complement of sessionized's `> 1800` split)
        is_first = F.col("session_id") == F.col("min_sid")
        merged = (is_first & F.col("p_last").isNotNull()
                  & (F.col("first_sec") - F.col("p_last") <= _GAP_S))
        per = (per.withColumn("m_entry",
                              F.when(merged, F.col("p_entry"))
                               .otherwise(F.col("entry")))
                  .withColumn("m_n",
                              F.when(merged, F.col("n_ev") + F.col("p_n"))
                               .otherwise(F.col("n_ev"))))
        per = materialize(per, eager=True)  # four consumers below

        # ordering-contract guard (r14 verdict task 2): the state merge
        # assumes per-user event-time-ordered micro-batches (module
        # docstring) — a batch carrying events OLDER than a user's open
        # session would silently mis-merge (wrong entry type, split
        # counts), so detect it and FAIL the micro-batch instead.  One
        # user-sized count on the already-checkpointed frame; the raise
        # happens before any write, so the checkpoint retries cleanly
        # once the feed is fixed (or the operator is rerun in batch
        # mode, which has no ordering precondition).
        n_late = per.filter(is_first & F.col("p_last").isNotNull()
                            & (F.col("first_sec") < F.col("p_last"))
                            ).count()
        if n_late > 0:
            raise ValueError(
                f"out-of-order micro-batch: {n_late} user(s) have "
                f"events older than their open session "
                f"(batch first_sec < open-state last_sec); "
                f"streaming_session_bounce requires per-user "
                f"event-time-ordered batches — recompute in batch mode "
                f"(session_bounce_rate) for late data")

        # open sessions that the batch did NOT merge close now
        closed_prev = (per.filter(is_first & F.col("p_last").isNotNull()
                                  & (F.col("first_sec") - F.col("p_last")
                                     > _GAP_S))
                       .select(F.col("p_entry").alias("entry"),
                               F.col("p_n").alias("n")))
        # every batch session except the user's last closes too
        closed_batch = (per.filter(F.col("session_id") != F.col("max_sid"))
                        .select(F.col("m_entry").alias("entry"),
                                F.col("m_n").alias("n")))
        closed = closed_prev.unionByName(closed_batch)
        if not partials_done:
            (closed.groupBy(F.col("entry").alias("entry_type"))
             .agg(F.count("*").cast("bigint").alias("n_sessions"),
                  F.sum((F.col("n") == 1).cast("int")).cast("bigint")
                   .alias("n_bounces"))
             .withColumn("batch_id", F.lit(batch_id))
             .write.mode("append").parquet(out_path))

        # new state: the user's last batch session stays open; users
        # not in this batch carry their open session forward untouched
        new_open = (per.filter(F.col("session_id") == F.col("max_sid"))
                    .select("user_id", F.col("m_entry").alias("entry"),
                            F.col("m_n").cast("bigint").alias("n_ev"),
                            F.col("last_sec").cast("bigint")
                             .alias("last_sec")))
        if prev is not None:
            carried = prev.join(per.select("user_id").distinct(),
                                "user_id", "left_anti")
            new_open = new_open.unionByName(
                carried.select("user_id", "entry",
                               F.col("n_ev").cast("bigint").alias("n_ev"),
                               F.col("last_sec").cast("bigint")
                                .alias("last_sec")))
        new_open.write.mode("overwrite").parquet(vN)
        # retention GC (r14 verdict task 2): with v(batch_id) committed,
        # only it and its input version remain reachable — prune the
        # rest so a long-running stream holds O(2 × users) state, not
        # O(batches × users)
        _prune_state_versions(spark, state_path, keep_last=2)

    return (events.writeStream
            .foreachBatch(process_batch)
            .option("checkpointLocation", checkpoint_path)
            .start())


def session_bounce_snapshot(spark: SparkSession, out_path: str,
                            state_path: str) -> DataFrame:
    """Closed-session partials + open-session state → the exact
    ``session_bounce_rate`` output (entry_type, n_sessions, n_bounces,
    bounce_rate) over everything the stream has seen.  Partials are
    read ``distinct()`` (exact-duplicate rows could only come from a
    replayed append, which the guard already prevents — belt and
    suspenders); open sessions each contribute one session whose
    bounce flag is ``n_ev == 1``."""
    parts = _read_index_or_none(spark, out_path)
    pieces = []
    if parts is not None:
        pieces.append(parts.distinct()
                      .select("entry_type", "n_sessions", "n_bounces"))
    # materialize NOW: the snapshot may be consumed lazily while the
    # stream keeps committing batches, and the in-batch GC
    # (_prune_state_versions) deletes superseded versions — a lazy
    # reference to v<K> could dangle by action time (r15 review); the
    # state is users-sized, so the eager copy is cheap.  Between the
    # version listing and the eager checkpoint there is still a small
    # TOCTOU window (two further batches committing, each pruning with
    # keep_last=2, can delete v<K> mid-materialization — r15 advice):
    # on a vanished-file failure, re-resolve the latest version and
    # retry; each retry lands on a strictly newer committed version, so
    # the loop terminates unless versions vanish faster than a
    # users-sized read, which no real batch cadence approaches.
    latest = None
    for attempt in range(5):
        cand = _latest_state_before(spark, state_path, 1 << 62)
        if cand is None:
            break
        try:
            latest = materialize(cand, eager=True)
            break
        except Exception as e:                      # noqa: BLE001
            if "FileNotFound" not in str(e) and \
                    "does not exist" not in str(e):
                raise
            if attempt == 4:
                raise RuntimeError(
                    "session state versions vanished under the snapshot "
                    "5 times in a row — silently dropping open sessions "
                    "would under-count; raise keep_last or quiesce the "
                    "stream") from e
    if latest is not None:
        pieces.append(latest.groupBy(F.col("entry").alias("entry_type"))
                      .agg(F.count("*").cast("bigint").alias("n_sessions"),
                           F.sum((F.col("n_ev") == 1).cast("int"))
                            .cast("bigint").alias("n_bounces")))
    assert pieces, "stream has not processed any batch yet"
    allp = pieces[0]
    for p in pieces[1:]:
        allp = allp.unionByName(p)
    return (allp.groupBy("entry_type")
            .agg(F.sum("n_sessions").cast("bigint").alias("n_sessions"),
                 F.sum("n_bounces").cast("bigint").alias("n_bounces"))
            .select("entry_type", "n_sessions", "n_bounces",
                    F.round(F.col("n_bounces").cast("double")
                            / F.col("n_sessions").cast("double"), 6)
                    .alias("bounce_rate")))


def streaming_boilerplate(docs: DataFrame, index_path: str, out_path: str,
                          checkpoint_path: str):
    """Continuous boilerplate-prefix monitor — the streaming twin of
    ``boilerplate_prefixes`` (operators/text.py).  Each micro-batch
    appends its per-(prefix-hash, source) counts to the durable index
    (compact partials, one row per distinct pair per batch), then
    appends the refreshed top-20 FROM THE INDEX under ``batch_id``.

    Replay safety: the monitor append is last and guarded by batch_id;
    index partials carry batch_id, so a replayed partial append (crash
    between the two writes) produces exact-duplicate rows that the
    ``distinct()`` fold collapses.  Returns the started
    StreamingQuery."""

    def process_batch(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession

        def write() -> None:
            # the monitor append is LAST, so a guard hit means the whole
            # batch committed; a replayed index append (crash between
            # the two writes) re-appends exact-duplicate partial rows,
            # which the snapshot's distinct() fold collapses — no
            # repair hook needed
            d = batch_df.select("source",
                                F.split(F.col("text"), " ").alias("ws"))
            prefix = F.md5(F.concat_ws(
                " ", *[F.element_at("ws", i + 1) for i in range(BOILER_K)]))
            (d.filter(F.size("ws") >= BOILER_K)
             .select(prefix.alias("ph"), "source")
             .groupBy("ph", "source").agg(F.count("*").alias("n"))
             .withColumn("batch_id", F.lit(batch_id))
             .write.mode("append").parquet(index_path))
            _guarded_rows_append(boilerplate_snapshot(spark, index_path),
                                 out_path, batch_id)

        _guarded_append(spark, out_path, batch_id, write)

    return (docs.writeStream
            .foreachBatch(process_batch)
            .option("checkpointLocation", checkpoint_path)
            .start())


def boilerplate_snapshot(spark: SparkSession, index_path: str) -> DataFrame:
    """Fold the partial index into the exact ``boilerplate_prefixes``
    output (ph, n_docs, n_sources) — top-20 by (n_docs desc, ph)."""
    idx = spark.read.parquet(index_path).distinct()   # replay-safe fold
    return (idx.groupBy("ph")
            .agg(F.sum("n").cast("bigint").alias("n_docs"),
                 F.countDistinct("source").cast("bigint")
                  .alias("n_sources"))
            .filter(F.col("n_docs") > 1)
            .orderBy(F.col("n_docs").desc(), F.col("ph"))
            .limit(BOILER_TOPK)
            .select("ph", "n_docs", "n_sources"))


def streaming_quality_funnel(docs: DataFrame, out_path: str,
                             checkpoint_path: str):
    """Continuous Gopher-cascade retention monitor — the streaming twin
    of ``quality_filter_funnel`` (operators/pipeline.py).  The funnel is
    pure counting, so the durable state IS the output: each micro-batch
    appends one row of exactly-mergeable counter partials
    ``(n, s1, s2, s3, s4, batch_id)`` and ``quality_funnel_snapshot``
    folds them into the 4-stage funnel.  Replay safety: one guarded
    append (batch_id), integer partials, nothing else to repair.

    Scale shape: per batch the work is the same map-side flag pass as
    the batch operator folding to ONE row; the partials table grows one
    row per batch."""
    from bigarrays_jl_spark.operators.extensions import _gopher_metrics

    def process_batch(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession

        def write() -> None:
            g = _gopher_metrics(F.col("text"))
            c1 = g["ok_words"]
            c2 = c1 & g["ok_word_len"]
            c3 = c2 & g["ok_alpha"]
            c4 = g["gopher_pass"]
            counts = (batch_df.agg(
                F.count("*").cast("bigint").alias("n"),
                *[F.sum(F.when(c, 1).otherwise(0)).cast("bigint").alias(k)
                  for k, c in (("s1", c1), ("s2", c2), ("s3", c3),
                               ("s4", c4))]))
            _guarded_rows_append(counts, out_path, batch_id)

        _guarded_append(spark, out_path, batch_id, write)

    return (docs.writeStream
            .foreachBatch(process_batch)
            .option("checkpointLocation", checkpoint_path)
            .start())


def quality_funnel_snapshot(spark: SparkSession, out_path: str) -> DataFrame:
    """Fold the counter partials into the exact quality_filter_funnel
    output (stage, rule, n_in, n_out, retained_frac)."""
    from bigarrays_jl_spark.operators.pipeline import FUNNEL_STAGES
    tot = (spark.read.parquet(out_path).distinct()    # replay-safe fold
           .agg(*[F.sum(c).cast("bigint").alias(c)
                  for c in ("n", "s1", "s2", "s3", "s4")]))
    stages = [
        F.struct(F.lit(i + 1).cast("bigint").alias("stage"),
                 F.lit(FUNNEL_STAGES[i]).alias("rule"),
                 F.col(n_in).alias("n_in"), F.col(n_out).alias("n_out"))
        for i, (n_in, n_out) in enumerate(
            (("n", "s1"), ("s1", "s2"), ("s2", "s3"), ("s3", "s4")))]
    return (tot.select(F.explode(F.array(*stages)).alias("r"))
            .select("r.stage", "r.rule", "r.n_in", "r.n_out",
                    F.when(F.col("r.n_in") > 0,
                           F.round(F.col("r.n_out").cast("double")
                                   / F.col("r.n_in"), 6))
                    .alias("retained_frac")))
