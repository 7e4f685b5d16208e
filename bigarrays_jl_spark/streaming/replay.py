"""The ONE replay-safety toolkit for every foreachBatch bridge (r14
verdict task 5: windows.py and curation.py had grown two idioms for
the same crash-replay problem — batch_id-guarded appends with index
repair, and ``_SUCCESS``-gated versioned state — this module is the
single home for both primitives, and every streaming module routes
through it).

Structured Streaming's foreachBatch is AT-LEAST-ONCE after a crash:
the failed micro-batch replays under the SAME batch_id.  Exactly-once
output therefore reduces to three primitives:

- ``batch_already_in``: "did this batch's guarded append commit?" —
  one parquet read with the batch_id predicate pushed down.
- ``guarded_append``: the canonical control flow — if the guarded
  write already committed, run only the ``repair`` hook (fix up any
  SECONDARY table the crash may have left behind, e.g. re-derive
  index rows from the committed output); otherwise run ``write``.
- ``commit_marked``: "is this directory a COMPLETE job commit?" — the
  ``_SUCCESS`` marker check versioned-snapshot state uses (a readable
  but markerless directory is a half-written crash artifact).

Modules that DON'T need a guard are structurally replay-safe instead
and say so in place: streaming/ann.py (assignment is deterministic,
the reader dropDuplicates on vec_id), streaming/pyramid.py (chunk-
store writes are idempotent per key), streaming/rag.py (per-part
epochs supersede; the snapshot reads only each part's max batch_id),
streaming/windows.py's anomaly stats (partials dedup by (key,
batch_id) at fold time) and its versioned merge tables
(``read_merged_table`` resolves only _SUCCESS-marked snapshots).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_index_or_none(spark: SparkSession, path: str) -> DataFrame | None:
    """Read a durable-index parquet dir, returning None when the path
    does not exist yet (legitimate first batch) OR holds no committed
    footers (a crashed first append left only ``_temporary`` — the
    committed state is genuinely empty, and treating it as an error
    would wedge the stream: the replay hits the same exception forever,
    r14 review).  Any other failure (throttling, corrupt file,
    permissions) propagates so foreachBatch fails the micro-batch and
    the checkpoint retries it — treating those as "no index" would
    silently disable dedup for the batch.

    The schema-inference failure is NOT taken at face value (r14
    advice): a durable index whose data files were LOST (directory and
    ``_SUCCESS`` survive, part files gone) raises the same
    UNABLE_TO_INFER_SCHEMA as the genuinely-empty case, and classifying
    it as "no index yet" would silently re-admit every previously
    deduped document.  So the handler lists the directory and returns
    None only when it holds no visible data file AND no commit marker —
    the crashed-first-append shape; a marker with no data (or any
    visible file Spark nonetheless could not read) is corruption and
    propagates."""
    from pyspark.errors import AnalysisException
    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        msg = str(e)
        if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
            return None
        if ("UNABLE_TO_INFER_SCHEMA" in msg
                or "Unable to infer schema" in msg):
            from py4j.protocol import Py4JJavaError
            jvm = spark._jvm
            jpath = jvm.org.apache.hadoop.fs.Path(path)
            fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
            try:
                entries = fs.listStatus(jpath)
            except Py4JJavaError as le:
                if "FileNotFoundException" in str(le.java_exception):
                    return None         # raced a concurrent cleanup
                raise
            names = [st.getPath().getName() for st in entries]
            visible = [n for n in names
                       if not n.startswith(("_", "."))]
            if not visible and "_SUCCESS" not in names:
                return None             # only _temporary/: never committed
            raise RuntimeError(
                f"durable index at {path} is corrupt: committed "
                f"marker/files present but unreadable as parquet "
                f"(visible={visible[:5]}, marker="
                f"{'_SUCCESS' in names}); refusing to treat as empty "
                f"— that would re-admit previously deduped rows"
            ) from e
        raise


def batch_already_in(spark: SparkSession, path: str,
                     batch_id: int) -> bool:
    """True when ``path`` already holds rows for ``batch_id`` — the
    foreachBatch exactly-once guard.  Structured Streaming replays a
    failed micro-batch under the SAME batch_id, so "this batch_id is
    already committed to the output" means exactly "the output append
    happened; don't append it again".  One parquet read with the
    batch_id predicate pushed down; costs a footer scan per batch."""
    df = read_index_or_none(spark, path)
    return (df is not None and
            df.filter(F.col("batch_id") == batch_id).limit(1).count() > 0)


def guarded_append(spark: SparkSession, out_path: str, batch_id: int,
                   write: Callable[[], None],
                   repair: Callable[[], None] | None = None) -> bool:
    """The canonical exactly-once micro-batch shape: if this batch's
    guarded write to ``out_path`` already committed (a replay after a
    crash), skip ``write`` and run only ``repair`` — the hook that
    fixes up any SECONDARY table the crashed attempt may have left
    behind (e.g. re-deriving index rows from the committed output);
    otherwise run ``write``.  The ``write`` callback must append its
    rows to ``out_path`` tagged with this ``batch_id`` (that tag IS
    the commit record the guard reads) and must order multi-table
    writes so the guarded append is the one whose absence implies the
    others are repairable.  Returns True when ``write`` ran."""
    if batch_already_in(spark, out_path, batch_id):
        if repair is not None:
            repair()
        return False
    write()
    return True


def guarded_rows_append(df: DataFrame, out_path: str,
                        batch_id: int) -> None:
    """The guarded write's ONE physical layout: tag ``df`` with this
    ``batch_id`` and append it PARTITIONED BY batch_id.  The partition
    layout is what keeps the guard and every crash-replay repair
    O(one batch): both filter on batch_id, and without it each
    micro-batch's ``batch_already_in`` footer-scans (and each repair
    rereads) the whole corpus-sized output (r16 verdict task 2 — first
    applied to streaming_curate, then adopted by every guarded
    bridge).  Layout note: partitioned and unpartitioned appends must
    not mix in one directory — migrate a stream output created before
    this layout with ``migrate_to_partitioned`` (stream stopped)
    before appending to it."""
    (df.withColumn("batch_id", F.lit(batch_id))
     .write.mode("append").partitionBy("batch_id").parquet(out_path))


def migrate_to_partitioned(spark: SparkSession, path: str) -> int:
    """One-time migration of a pre-partitioning guarded output (flat
    parquet with a ``batch_id`` column) to the ``batch_id=N`` layout
    ``guarded_rows_append`` writes.  Rewrites into a sibling temp dir
    then swaps via two renames (the ``_swap_mip_dir`` idiom: the crash
    window leaves either the old dir or a complete new dir, never a
    half state — ``.old`` is removed last).  Run it ONCE, with the
    stream stopped.  Returns the number of rows migrated; no-op (0)
    when the directory already has partition subdirs or does not
    exist."""
    from py4j.protocol import Py4JJavaError
    df = read_index_or_none(spark, path)
    if df is None:
        return 0
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(conf)
    try:
        entries = fs.listStatus(jpath)
    except Py4JJavaError:
        return 0
    if any(st.getPath().getName().startswith("batch_id=")
           for st in entries):
        return 0                        # already migrated
    if "batch_id" not in df.columns:
        raise ValueError(
            f"{path} has no batch_id column — not a guarded output")
    n = df.count()
    tmp = path.rstrip("/") + ".migrating"
    old = path.rstrip("/") + ".old"
    (df.write.mode("overwrite").partitionBy("batch_id").parquet(tmp))
    jtmp = jvm.org.apache.hadoop.fs.Path(tmp)
    jold = jvm.org.apache.hadoop.fs.Path(old)
    fs.delete(jold, True)
    if not fs.rename(jpath, jold):
        raise RuntimeError(f"rename {path} -> {old} failed")
    if not fs.rename(jtmp, jpath):
        # roll back so the reader never sees a missing dir
        fs.rename(jold, jpath)
        raise RuntimeError(f"rename {tmp} -> {path} failed; rolled back")
    fs.delete(jold, True)
    return n


def merged_partials(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Union the partial tables of several independent streams for a
    cross-sketch merge fold: each table dedups on its own FULL rows
    first (replay safety is per-stream — two streams legitimately
    carry identical partial rows, which must both survive), then the
    union is returned for the caller's own fold (bucket-count
    addition, bit-set distinct, …).  The shared front half of every
    mergeable-sketch snapshot (CM, HDR, Bloom) — one home so the
    per-stream-distinct-then-merge semantics cannot drift between
    copies (r15 review)."""
    if not paths:
        raise ValueError("merged_partials requires at least one path")
    pieces = [spark.read.parquet(p).distinct() for p in paths]
    allp = pieces[0]
    for p in pieces[1:]:
        allp = allp.unionByName(p)
    return allp


def commit_marked(spark: SparkSession, dir_path: str) -> bool:
    """True only for a COMPLETE job-committed directory — the
    ``_SUCCESS`` marker, not mere readability: a crash during an
    overwrite can leave the directory readable-but-partial (v2
    committers commit task files directly) or ``_temporary``-only,
    and treating either as committed would silently adopt partial
    state (r14 review).  Hadoop FS API, so the same check runs on
    object stores."""
    from py4j.protocol import Py4JJavaError
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(
        dir_path.rstrip("/") + "/_SUCCESS")
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    try:
        return bool(fs.exists(jpath))
    except Py4JJavaError:
        return False
