"""Materialization switch: executor-local vs reliable checkpointing.

Every lineage cut in the package is a call to ``materialize(df,
eager=...)``.  The cuts that remain are the ones a measurement showed
to pay (the audit table is in CHANGES.md; each call in ``operators/``
carries a one-line comment with what it saves, as
``tools/profile_query.py`` counts it):

- the global-ordering primitives (``operators/ordering.py``), whose
  driver-side probes read the materialized input;
- the per-session k-NN edge table (``graph._knn_edges_cached``) that
  four registry queries share;
- tables that several legs consume where Catalyst does not reuse the
  duplicate subplans (pruned to other columns, or under separate
  subtrees): LSH signature, token and shingle tables, histograms that
  feed several quantile picks, the brute-force ground truth of the ANN
  audits, the decoded ``map_cuts`` streams of the volume operators;
- the self-join inputs whose map work sits above the reused exchange,
  so both join sides would run it: the LSH bucket keys
  (``similarity.sim_lsh_pairs``) and the perceptual hashes
  (``multimodal.mm_phash_neardup``);
- cuts without which a consumer's optimized plan more than doubles;
- the edge and label tables of the bounded-round loops, and one cut per
  round: connected components (``dedup.py``,
  ``volume_components.py``), agglomeration, label propagation, shortest
  paths and hop counts, entity resolution;
- the micro-batch tables of the ``foreachBatch`` bridges in
  ``streaming/``.

A cut that saves no scan, job or measurable CPU and keeps no plan from
doubling is deleted: when both sides of a self-join are one plan,
Spark's exchange reuse already computes its input once.

``tests/test_single_decode_site.py`` fails on a ``.localCheckpoint(``
or ``.checkpoint(`` call anywhere else in the package.

Default: executor-local (``localCheckpoint``), the right default on a
stable cluster because it costs no storage write.  But those blocks
live ON the executors that computed them: with dynamic allocation (or
any executor loss) they vanish and, lineage having been truncated, the
job dies with no way to recompute.  On a long-lived 1000-executor
cluster that is the steady state, not a corner case.  Opt in to
reliable checkpointing with

    spark.sparkContext.setCheckpointDir("hdfs://.../ckpt")
    spark.conf.set("sparkgraft.checkpoint.reliable", "true")

and every call writes its blocks to the checkpoint directory
(``DataFrame.checkpoint``: one extra write, survives any executor
loss).  A long-running stream in reliable mode writes new checkpoint
files every micro-batch; set
``spark.cleaner.referenceTracking.cleanCheckpoints=true`` so Spark
deletes each batch's files once its DataFrames are garbage-collected.

Results are bit-identical in both modes (the switch changes WHERE the
truncated-lineage blocks live, never their content), and
``tests/test_reliable_checkpoint.py`` pins that for a consumer of every
module that calls ``materialize``.  ``eager`` means the same in
both modes: ``eager=True`` materializes at construction (the ordering
primitives run driver-side probes right after), ``eager=False`` defers
only the last stage to the first action: the call itself runs one job
per shuffle stage of its input (Spark executes the adaptive plan up to
its result stage to build the RDD it cuts), so a lazy cut still costs
build-time jobs.

The first call per Spark application and mode logs one INFO record on
this module's logger, naming the mode and the checkpoint directory.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame

RELIABLE_CONF = "sparkgraft.checkpoint.reliable"

log = logging.getLogger(__name__)
_logged: set[tuple[str, str]] = set()   # (application id, mode)


def reliable_enabled(spark) -> bool:
    return str(spark.conf.get(RELIABLE_CONF, "false")).lower() == "true"


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Truncate ``df``'s lineage by materializing it — executor-local by
    default, reliable storage when ``sparkgraft.checkpoint.reliable`` is
    true (requires ``setCheckpointDir``; raises a clear error instead of
    Spark's late NPE if the directory is missing).

    A lazy cut is not free: under adaptive execution,
    ``eager=False`` still runs every shuffle stage of ``df`` when it is
    called, one Spark job each, and defers only the result stage to the
    first action, so building a query, or asking it for its schema or
    plan, already runs those jobs.  ``tests/test_reliable_checkpoint.py``
    pins 0, 1 and 2 jobs at the call for inputs with 0, 1 and 2
    shuffles, in both modes."""
    spark = df.sparkSession
    sc = spark.sparkContext
    reliable = reliable_enabled(spark)
    if reliable and sc.getCheckpointDir() is None:
        raise RuntimeError(
            f"{RELIABLE_CONF}=true but no checkpoint directory is "
            "set; call spark.sparkContext.setCheckpointDir(...) with "
            "a fault-tolerant path (HDFS/S3) before running queries")
    key = (sc.applicationId, "reliable" if reliable else "local")
    if key not in _logged:
        _logged.add(key)
        log.info("checkpoint mode %s for application %s, checkpoint "
                 "directory %s", key[1], key[0], sc.getCheckpointDir())
    if reliable:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
