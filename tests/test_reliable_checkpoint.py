"""Reliable-checkpoint mode: with ``sparkgraft.checkpoint.reliable=true``
+ ``setCheckpointDir``, every lineage cut in the package (each one a
``checkpointing.materialize`` call, pinned by
``tests/test_single_decode_site.py``) swaps executor-local
``localCheckpoint`` for a reliable ``DataFrame.checkpoint``, so on a
real cluster with dynamic allocation a lost executor recovers from
storage instead of killing the job.

The switch must change WHERE blocks live and nothing else: these tests
run consumers in both modes and require bit-identical row sets.  Each
consumer stands for a group of ``materialize`` calls: the ordering
primitives, the dedup LSH tables, at least one consumer for every other
``operators/`` module that calls it (several for a module that gathers
code which shipped apart, such as ``statistics``), and five modules of
``streaming/``.  Under reliable mode a spy on the DataFrame class
counts the calls: no ``localCheckpoint`` at all, and at least one
``checkpoint`` made by a ``materialize`` call in the module the
consumer stands for.  Registry queries cover ``operators/``; each
``foreachBatch`` bridge in ``streaming/`` runs two micro-batches.
Queries that make no cut of their own (``CUT_FREE``) still run in both
modes: bit-identical, and no ``localCheckpoint`` under reliable mode.
"""

import contextlib
import logging
import sys

import pytest
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from bigarrays_jl_spark import checkpointing
from bigarrays_jl_spark.sources.tables import load
from bigarrays_jl_spark.streaming.bloom import streaming_bloom_screen
from bigarrays_jl_spark.streaming.curate import streaming_curate
from bigarrays_jl_spark.streaming.curation import (session_bounce_snapshot,
                                                   streaming_session_bounce)
from bigarrays_jl_spark.streaming.span import streaming_span_excise
from bigarrays_jl_spark.streaming.windows import streaming_minhash_neardup

RELIABLE_CONF = "sparkgraft.checkpoint.reliable"

# registry query -> the operators module whose materialize calls it must
# reach (the first six are the ordering primitives' and the LSH tables'
# consumers)
CONSUMERS = {
    "q84_rfm_segments": "ordering",
    "text_quality_buckets": "ordering",
    "q70_mad_outliers": "statistics",
    "lorenz_curve": "statistics",
    "dedup_minhash_pairs": "dedup",
    "dedup_components": "dedup",
    "events_rolling_dau": "extensions",
    "graph_triangles_lsh": "graph",
    "mm_phash_neardup": "multimodal",
    "pipeline_decontaminate": "pipeline",
    "text_bm25": "retrieval",
    "q62_hierarchy_depth": "graph",
    "basket_pairs": "statistics",
    "phrase_search": "retrieval",
    "q72_winsorized_mean": "statistics",
    "graph_sssp_lsh": "graph",
    "q79_mutual_info": "statistics",
    "entity_res_golden": "retrieval",
    "q87_autocorr": "statistics",
    "ks_two_sample": "statistics",
    "text_tfidf_topk": "text",
    "basket_triples": "statistics",
    "sketch_jaccard": "estimation",
    "pipeline_e2e_curate": "pipeline",
    "ann_pq_recall_knee": "similarity",
    "sim_lsh_pairs": "similarity",
    "customer_reorder_gaps": "temporal",
    "text_unigram_logprob": "text",
    "q51_top_supplier": "tpch_deep",
    "q53_important_parts": "tpch_more",
    "volume_agglomerate": "volume_agglo",
    "volume_components": "volume_components",
    "volume_slice_qc": "volume_qc",
    "volume_rag": "volume_rag",
    "volume_stencil_smooth": "volume_stencil",
}

# registry queries that make no cut of their own (graph_triangle_stats
# reaches the shared k-NN edge cut only while that cache is cold); each
# module above keeps a consumer that reaches one of its cuts
CUT_FREE = ("graph_triangle_stats", "q81_cuped", "cm_heavyhitters")


def test_reliable_without_dir_raises(spark):
    """Misconfiguration (reliable=true, no checkpoint dir) must fail
    fast with an actionable message, not a late executor-side NPE.
    Spark has no way to UNSET a checkpoint dir, so this must run before
    the ckpt_dir fixture fires (it is defined first in this module) —
    skip defensively if some earlier test set one."""
    if spark.sparkContext.getCheckpointDir() is not None:
        pytest.skip("checkpoint dir already set in this session")
    from bigarrays_jl_spark.checkpointing import materialize
    spark.conf.set(RELIABLE_CONF, "true")
    try:
        with pytest.raises(RuntimeError, match="setCheckpointDir"):
            materialize(spark.range(5).toDF("id"))
    finally:
        spark.conf.set(RELIABLE_CONF, "false")


@pytest.fixture(scope="module")
def ckpt_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("reliable_ckpt"))
    spark.sparkContext.setCheckpointDir(d)
    return d


@contextlib.contextmanager
def _reliable(spark):
    """Reliable mode on; yields the modules that called
    ``DataFrame.checkpoint`` / ``localCheckpoint`` through
    ``materialize``, one entry per call, from any thread."""
    calls = {"checkpoint": [], "localCheckpoint": []}

    def spy(name):
        orig = getattr(ClassicDataFrame, name)

        def counted(self, *args, **kwargs):
            # frame 1 is materialize, frame 2 the lineage cut
            calls[name].append(sys._getframe(2).f_globals["__name__"])
            return orig(self, *args, **kwargs)
        return counted

    spark.conf.set(RELIABLE_CONF, "true")
    try:
        with pytest.MonkeyPatch.context() as mp:
            for name in calls:
                mp.setattr(ClassicDataFrame, name, spy(name))
            yield calls
    finally:
        spark.conf.set(RELIABLE_CONF, "false")


def _assert_switched(calls, module):
    assert calls["localCheckpoint"] == [], calls
    assert module in calls["checkpoint"], calls


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.mark.parametrize("qname", [*CONSUMERS, *CUT_FREE])
def test_reliable_mode_bit_identical(spark, sf_dir, ckpt_dir, qname):
    from bigarrays_jl_spark.operators import ALL_QUERIES
    fn = ALL_QUERIES[qname]
    base = _rows(fn(spark, sf_dir))
    assert base, qname
    with _reliable(spark) as calls:
        reliable = _rows(fn(spark, sf_dir))
    assert base == reliable, \
        f"{qname} output changed under reliable checkpointing"
    if qname in CUT_FREE:
        assert calls["localCheckpoint"] == [], calls
    else:
        _assert_switched(calls,
                         f"bigarrays_jl_spark.operators.{CONSUMERS[qname]}")


def _docs(spark, sf):
    return load(spark, sf, "documents").select("doc_id", "text")


def _events(spark, sf):
    return load(spark, sf, "events").select("user_id", "ts", "event_id",
                                            "event_type")


def _tables(spark, *paths):
    # compared by column name: the appends to one table may order their
    # columns differently
    dfs = [spark.read.parquet(p) for p in paths]
    return [df.select(*sorted(df.columns)) for df in dfs]


def _bounce(spark, state, out):
    # the open-session state is versioned; the snapshot folds it in
    return [session_bounce_snapshot(spark, out, state)]


# bridge -> (source, key that splits it into two micro-batches, number
# of tables it writes before its checkpoint path, reader of its results
# from those tables)
STREAM_CONSUMERS = {
    streaming_bloom_screen: (_docs, "doc_id", 2, _tables),
    streaming_curate: (_docs, "doc_id", 4, _tables),
    streaming_session_bounce: (_events, "ts", 2, _bounce),
    streaming_span_excise: (_docs, "doc_id", 2, _tables),
    streaming_minhash_neardup: (_docs, "doc_id", 2, _tables),
}


def _stream_tables(spark, sf_dir, root, bridge):
    """Feed the bridge two micro-batches (rows at or below the median
    key, then the rest) and return the sorted rows of its results."""
    source, key, n_tables, results = STREAM_CONSUMERS[bridge]
    df = source(spark, sf_dir)
    mid = df.agg(F.percentile_approx(key, 0.5)).first()[0]
    src = str(root / "src")
    tables = [str(root / f"t{i}") for i in range(n_tables)]
    for part in (F.col(key) <= mid, F.col(key) > mid):
        df.filter(part).coalesce(1).write.mode("append").parquet(src)
        q = bridge(spark.readStream.schema(df.schema).parquet(src), *tables,
                   str(root / "ckpt"))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return [_rows(df) for df in results(spark, *tables)]


@pytest.mark.parametrize("bridge", list(STREAM_CONSUMERS),
                         ids=lambda b: b.__module__.rsplit(".", 1)[1])
def test_reliable_mode_stream_bit_identical(spark, sf_dir, ckpt_dir,
                                            tmp_path, bridge):
    base = _stream_tables(spark, sf_dir, tmp_path / "local", bridge)
    assert any(base), bridge.__name__
    with _reliable(spark) as calls:
        reliable = _stream_tables(spark, sf_dir, tmp_path / "reliable",
                                  bridge)
    assert base == reliable, \
        f"{bridge.__name__} output changed under reliable checkpointing"
    _assert_switched(calls, bridge.__module__)


def test_mode_is_logged_once_per_application(spark, ckpt_dir, caplog,
                                             monkeypatch):
    monkeypatch.setattr(checkpointing, "_logged", set())
    caplog.set_level(logging.INFO, logger=checkpointing.__name__)

    def records():
        return [r.getMessage() for r in caplog.records
                if r.name == checkpointing.__name__]

    for _ in range(2):
        checkpointing.materialize(spark.range(3), eager=False)
    assert len(records()) == 1 and "mode local" in records()[0], records()
    spark.conf.set(RELIABLE_CONF, "true")
    try:
        for _ in range(2):
            checkpointing.materialize(spark.range(3), eager=False)
    finally:
        spark.conf.set(RELIABLE_CONF, "false")
    assert len(records()) == 2, records()
    assert "mode reliable" in records()[1] and ckpt_dir in records()[1]


def test_materialize_default_is_local(spark):
    """Default mode must not require a checkpoint dir and must still
    truncate lineage (the checkpointed plan is a scan, not the original
    range→filter tree)."""
    from bigarrays_jl_spark.checkpointing import materialize
    df = materialize(spark.range(10).filter("id > 3"))
    assert df.count() == 6
    # a checkpointed DataFrame's logical plan is a leaf scan
    assert "ExistingRDD" in df._jdf.queryExecution().optimizedPlan().toString() \
        or "LogicalRDD" in df._jdf.queryExecution().optimizedPlan().toString() \
        or "Scan" in df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize("reliable", [False, True],
                         ids=["local", "reliable"])
def test_lazy_cut_runs_its_shuffle_stages_at_the_call(spark, ckpt_dir,
                                                      reliable):
    """``materialize(df, eager=False)`` runs one job per shuffle stage
    of ``df`` at the call (adaptive execution builds the RDD it cuts by
    running every stage below the result stage) and defers only the
    result stage, in both modes: 0, 1 and 2 jobs for inputs with 0, 1
    and 2 shuffles."""
    sc = spark.sparkContext
    base = spark.range(0, 1000, numPartitions=4)
    one = base.groupBy((F.col("id") % 7).alias("k")).count()
    two = one.groupBy("count").agg(F.sum("k").alias("s"))
    spark.conf.set(RELIABLE_CONF, str(reliable).lower())
    try:
        jobs = []
        for i, df in enumerate([base.filter("id > 3"), one, two]):
            gid = f"lazy-cut-{reliable}-{i}"
            sc.setJobGroup(gid, gid)
            try:
                out = checkpointing.materialize(df, eager=False)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(gid)))
            assert sorted(map(tuple, out.collect())) \
                == sorted(map(tuple, df.collect()))
    finally:
        spark.conf.set(RELIABLE_CONF, "false")
    assert jobs == [0, 1, 2]
