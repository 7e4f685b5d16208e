"""Physical-plan regression tests: pin the plan shapes that keep the
engine viable at 100 TB (pushdown, broadcast, partial agg, heap top-k,
chunk pruning at the scan)."""

import glob
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from bigarrays_jl_spark.infos import Info
from bigarrays_jl_spark.operators.relational import (
    q01_pricing_summary, q02_filter_project, q03_join_revenue, q04_star_dims,
    q11_topk)
from bigarrays_jl_spark.plans.explain import (
    formatted_plan, has_broadcast_join, has_partial_aggregation,
    num_exchanges, pushed_filters, read_schemas, simple_plan,
    uses_take_ordered)
from bigarrays_jl_spark.volume import Volume


def test_filter_and_projection_pushdown(spark, sf_dir):
    df = q02_filter_project(spark, sf_dir)
    pf = " ".join(pushed_filters(df))
    assert "p_size" in pf and "p_type" in pf, f"filters not pushed: {pf}"
    rs = read_schemas(df)[0]
    # only the 4 needed source columns are read — not the whole table
    assert "p_retailprice" in rs and "p_brand" not in rs


def test_join_broadcasts_small_dim(spark, sf_dir):
    assert has_broadcast_join(q03_join_revenue(spark, sf_dir))
    assert has_broadcast_join(q04_star_dims(spark, sf_dir))


def test_star_join_single_shuffle(spark, sf_dir):
    # supplier⋈nation⋈region with both dims broadcast: the only exchange
    # should be the final tiny aggregation (plus AQE reads)
    df = q04_star_dims(spark, sf_dir)
    assert num_exchanges(df) <= 1, formatted_plan(df)


def test_aggregation_is_partial(spark, sf_dir):
    assert has_partial_aggregation(q01_pricing_summary(spark, sf_dir))


def test_topk_avoids_global_sort(spark, sf_dir):
    assert uses_take_ordered(q11_topk(spark, sf_dir))


def test_ivf_search_is_broadcast_pruned(spark, sf_dir):
    # the IVF probe side (10 routed queries) must broadcast into the
    # corpus scan — no full-corpus shuffle at search time
    from bigarrays_jl_spark.operators.similarity import ann_ivf_topk
    df = ann_ivf_topk(spark, sf_dir)
    assert has_broadcast_join(df)


def test_salted_agg_two_phase(spark, sf_dir):
    # both aggregation levels must have map-side partial aggregation
    from bigarrays_jl_spark.operators.advanced import q36_salted_agg
    assert has_partial_aggregation(q36_salted_agg(spark, sf_dir))


def test_ntile_avoids_global_window(spark, sf_dir):
    # the classic ntile-over-everything plan funnels the table through
    # one task (Exchange SinglePartition); the distributed-rank rewrite
    # must keep every exchange hash/range-partitioned
    from bigarrays_jl_spark.operators.advanced import q28_ntile
    plan = simple_plan(q28_ntile(spark, sf_dir))
    assert "SinglePartition" not in plan, plan


def test_partition_stats_salted_no_window(spark, sf_dir):
    # the per-class stats must come from a salted two-phase agg joined
    # back broadcast — NOT a window partitioned by the ~5-value class
    # key (whole-table funnel through 5 reducers)
    from bigarrays_jl_spark.operators.advanced import q35_window_partition_stats
    df = q35_window_partition_stats(spark, sf_dir)
    plan = simple_plan(df)
    assert "Window" not in plan, plan
    assert "SinglePartition" not in plan, plan
    assert has_broadcast_join(df)


def test_lsh_pairs_keyed_join_no_cartesian(spark, sf_dir):
    # the pair candidate generation must be an equi-join on the
    # (band, bucket-signature) key — never a cartesian/BNL pair blowup.
    # (Which keyed strategy wins is size-dependent: broadcast at test
    # scale, shuffle join at corpus scale — both are fine; a cartesian
    # product is not.)
    from bigarrays_jl_spark.operators.similarity import sim_lsh_pairs
    plan = simple_plan(sim_lsh_pairs(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Join" in plan, plan


def test_salted_join_spreads_hot_keys(spark, sf_dir):
    # the salted join must execute as a shuffled hash join on
    # (key, salt) — not a broadcast (which would make the salt demo
    # vacuous) and not a single-partition funnel
    from bigarrays_jl_spark.operators.advanced import q38_salted_join
    df = q38_salted_join(spark, sf_dir)
    plan = simple_plan(df)
    assert "ShuffledHashJoin" in plan, plan
    assert not has_broadcast_join(df)
    assert "SinglePartition" not in plan, plan


def test_bucketed_join_no_shuffle(spark, sf_dir):
    # bucketed+sorted layout pre-pays the join shuffle at write time:
    # the same orders⋈lineitem join needs 2 exchanges on plain parquet
    # and 0 on bucketed tables (the 100 TB fact⋈fact strategy)
    from bigarrays_jl_spark.sources.tables import load, write_bucketed
    write_bucketed(spark, sf_dir, "orders", "b_orders", ["o_orderkey"])
    write_bucketed(spark, sf_dir, "lineitem", "b_lineitem", ["l_orderkey"])
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plain = (load(spark, sf_dir, "orders")
                 .join(load(spark, sf_dir, "lineitem"),
                       F.col("o_orderkey") == F.col("l_orderkey"))
                 .groupBy("o_orderkey").count())
        bucketed = (spark.table("b_orders")
                    .join(spark.table("b_lineitem"),
                          F.col("o_orderkey") == F.col("l_orderkey"))
                    .groupBy("o_orderkey").count())
        assert num_exchanges(plain) == 2, formatted_plan(plain)
        assert num_exchanges(bucketed) == 0, formatted_plan(bucketed)
        # layout change must not change results
        assert bucketed.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_cutout_prunes_at_scan(spark, tmp_path):
    info = Info.from_dict({
        "num_channels": 1, "type": "image", "data_type": "uint8",
        "scales": [{"encoding": "gzip", "chunk_sizes": [[16, 16, 16]],
                    "key": "1_1_1", "resolution": [1, 1, 1],
                    "voxel_offset": [0, 0, 0], "size": [64, 64, 64]}]})
    vol = Volume.create(spark, str(tmp_path / "p"), info)
    vol.write(np.zeros((64, 64, 64), dtype=np.uint8), (0, 0, 0))
    pruned = vol._pruned(((0, 16), (0, 16), (0, 16)))
    pf = " ".join(pushed_filters(pruned))
    # chunk-id range predicates reach the parquet scan → row-group pruning
    assert "cx" in pf and "cy" in pf and "cz" in pf, pf


def test_global_order_ops_no_single_partition(spark, sf_dir):
    # the prefix-sum-backed operators must never plan the whole-table
    # Exchange SinglePartition that a bare ORDER BY window produces
    from bigarrays_jl_spark.operators.pipeline import (
        pipeline_global_ids, pipeline_pack_sequences)
    for op in (pipeline_global_ids, pipeline_pack_sequences):
        plan = simple_plan(op(spark, sf_dir))
        assert "SinglePartition" not in plan, plan


def test_decontaminate_broadcasts_eval_shingles(spark, sf_dir):
    # the eval split's shingle set must broadcast into the train-side
    # scan — one corpus pass, no corpus-sized shingle shuffle join
    from bigarrays_jl_spark.operators.pipeline import pipeline_decontaminate
    df = pipeline_decontaminate(spark, sf_dir)
    assert has_broadcast_join(df)
    plan = simple_plan(df)
    assert "CartesianProduct" not in plan, plan


def test_correlated_subquery_decorrelates(spark, sf_dir):
    # Catalyst must rewrite the per-row correlated scalar subquery into
    # one grouped aggregate + equi-join — never a nested-loop
    # re-execution of lineitem per outer row
    from bigarrays_jl_spark.operators.advanced import q40_correlated_scalar
    df = q40_correlated_scalar(spark, sf_dir)
    plan = simple_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert has_partial_aggregation(df)


def test_sq8_stats_and_queries_broadcast(spark, sf_dir):
    # both small sides (the 1-row min/max stats and the query set) are
    # keyless attaches, so they must plan as BROADCAST nested-loop
    # joins — one pass over the corpus, never a shuffled/cartesian join
    from bigarrays_jl_spark.operators.similarity import ann_sq8_topk
    plan = simple_plan(ann_sq8_topk(spark, sf_dir))
    assert plan.count("BroadcastNestedLoopJoin") == 2, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_quality_buckets_no_single_partition_window(spark, sf_dir):
    # the CCNet bucket split must never plan a whole-group window: an
    # Exchange SinglePartition (or a bare ntile over one partition)
    # would funnel the dominant language through one task at scale
    from bigarrays_jl_spark.operators.text import text_quality_buckets
    plan = text_quality_buckets(spark, sf_dir) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_prefix_sum_scans_source_once(spark, sf_dir):
    # distributed_prefix_sum materializes its input via an eager
    # localCheckpoint, so the percentile probe, per-bucket totals and
    # final window read the checkpointed blocks: the parquet source
    # appears ZERO times in the returned plan (it was scanned exactly
    # once, by the checkpoint) and the result is still correct
    from bigarrays_jl_spark.operators.ordering import distributed_prefix_sum
    from bigarrays_jl_spark.sources.tables import load
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("n"))
    out, total = distributed_prefix_sum(
        spark, docs, F.col("n"), value="n", tiebreak="doc_id")
    plan = simple_plan(out)
    assert "parquet" not in plan.lower(), plan      # no rescan of the source
    assert "SinglePartition" not in plan, plan
    rows = out.orderBy("cum").collect()
    assert total == sum(r.n for r in rows)
    assert rows[-1].cum == total                     # inclusive prefix sum
    running = 0
    for r in rows[:50]:
        running += r.n
        assert r.cum == running


def test_extension_ops_no_single_partition(spark, sf_dir):
    # retention / transitions / ngram-topk: every window partitions by a
    # bounded key (user_id, event_type, lang) — no whole-table funnel
    from bigarrays_jl_spark.operators.extensions import (
        events_anomaly_zscore, events_retention, events_transitions,
        events_windowed_topk, mine_bitext_pairs, text_bigram_logprob,
        text_dup_ngrams, text_ngram_topk, text_vocab_growth)
    for op in (events_retention, events_transitions, text_ngram_topk,
               events_windowed_topk, text_bigram_logprob,
               events_anomaly_zscore, text_vocab_growth, text_dup_ngrams,
               mine_bitext_pairs):
        plan = simple_plan(op(spark, sf_dir))
        assert "SinglePartition" not in plan, (op.__name__, plan)


def test_semdedup_broadcasts_seeds_no_cartesian(spark, sf_dir):
    # the k-seed assignment stage must broadcast the seed set into the
    # corpus scan (k ≪ n), and the in-cluster pairwise stage must be an
    # equi-join on the cluster key — a CartesianProduct anywhere means
    # the all-pairs trap SemDeDup exists to avoid
    from bigarrays_jl_spark.operators.extensions import semdedup_prune
    df = semdedup_prune(spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert has_broadcast_join(df)


def test_q44_decorrelates_and_broadcasts_brand_dim(spark, sf_dir):
    # TPC-H Q17 shape: per-part avg joins back as an aggregate (no
    # per-row subquery), and the brand-filtered part dim broadcasts
    from bigarrays_jl_spark.operators.extensions import q44_correlated_avg
    df = q44_correlated_avg(spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert has_broadcast_join(df)
    assert has_partial_aggregation(df)


def test_q45_top20_is_take_ordered(spark, sf_dir):
    from bigarrays_jl_spark.operators.extensions import q45_late_sole_supplier
    df = q45_late_sole_supplier(spark, sf_dir)
    assert uses_take_ordered(df)
    assert "CartesianProduct" not in formatted_plan(df)


def _scan_metrics(df):
    """Execute ``df`` and return the summed metrics of its parquet Scan
    nodes (numFiles / numOutputRows) from the EXECUTED plan — the
    reader-level truth about how much data the scan actually produced
    after row-group min/max pruning.  Recurses through the AQE wrappers
    (AdaptiveSparkPlan holds the final plan behind executedPlan();
    QueryStage nodes behind plan()) because collectLeaves() treats them
    as leaves."""
    df.collect()

    agg = {}

    def walk(node):
        name = node.nodeName()
        if name.startswith("Scan"):
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                agg[kv._1()] = agg.get(kv._1(), 0) + kv._2().value()
        if name == "AdaptiveSparkPlan":
            walk(node.executedPlan())
        elif "QueryStage" in name:
            walk(node.plan())
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return agg


def test_layout_zorder_scan_drops_row_groups(spark, sf_dir, tmp_path):
    # the clustered-layout CONSUMER proof: the same selective filter,
    # run over the recommended z-ordered lineitem layout vs an
    # arrival-order control, must produce identical answers while the
    # z-ordered SCAN emits strictly fewer rows from the reader
    # (row-group min/max pruning on the pushed range) — fewer rows out
    # of the scan node = row groups dropped before any CPU was spent
    from bigarrays_jl_spark.operators.extensions import (
        LAYOUT_SCAN_PART_HI, LAYOUT_SCAN_PART_LO, _clustered_lineitem_path)
    from bigarrays_jl_spark.plans.explain import pushed_filters
    from bigarrays_jl_spark.sources.tables import load

    zpath = _clustered_lineitem_path(spark, sf_dir)
    flat = str(tmp_path / "flat_lineitem")
    load(spark, sf_dir, "lineitem").repartition(8).write.parquet(flat)

    def q(path):
        return (spark.read.parquet(path)
                .filter(F.col("l_partkey").between(LAYOUT_SCAN_PART_LO,
                                                   LAYOUT_SCAN_PART_HI))
                .agg(F.count("*").alias("n"),
                     F.sum("l_quantity").alias("s")))

    # the range predicate must reach the parquet reader for stats
    # pruning to exist at all
    pf = " ".join(pushed_filters(q(zpath)))
    assert "l_partkey" in pf, f"range not pushed: {pf}"

    mz, mf = _scan_metrics(q(zpath)), _scan_metrics(q(flat))
    rz, rf = q(zpath).collect()[0], q(flat).collect()[0]
    assert (rz.n, rz.s) == (rf.n, rf.s) and rz.n > 0  # layout ≠ answer
    total = load(spark, sf_dir, "lineitem").count()
    assert mf["numOutputRows"] == total, (
        "control layout should prune nothing")
    assert mz["numOutputRows"] < mf["numOutputRows"] // 2, (
        f"z-ordered scan should drop most row groups: "
        f"{mz['numOutputRows']} vs control {mf['numOutputRows']}")


def test_new_curation_ops_plan_shapes(spark, sf_dir):
    # dsir: the B=512 bucket-ratio table must broadcast into the doc
    # scoring join; no stage may funnel to a single partition
    from bigarrays_jl_spark.operators.extensions import (dsir_importance,
                                                         text_dup_ngrams)
    df = dsir_importance(spark, sf_dir)
    assert has_broadcast_join(df)
    # exactly ONE SinglePartition is sanctioned: the global-totals fold
    # over the B=512-row bucket-stats table (bounded by the bucket
    # count, not the corpus) — the corpus-side path must have none
    assert simple_plan(df).count("SinglePartition") <= 1
    # dup-ngram filter is pure map-side: no SinglePartition anywhere
    assert "SinglePartition" not in simple_plan(text_dup_ngrams(spark, sf_dir))


def test_ann_ivf_pq_broadcasts_and_no_cartesian(spark, sf_dir):
    # IVF x PQ composition: routing pairs + ADC lookup table both
    # broadcast into the pruned code scan; a CartesianProduct anywhere
    # means the composition degenerated into an all-pairs scan
    from bigarrays_jl_spark.operators.similarity import ann_ivf_pq_topk
    df = ann_ivf_pq_topk(spark, sf_dir)
    assert has_broadcast_join(df)
    assert "CartesianProduct" not in formatted_plan(df)


def test_bitext_mining_cell_pruned_no_cartesian(spark, sf_dir):
    # candidate generation must be the label-cell equi-join — a
    # cartesian/BNL product means the mining degenerated to all-pairs
    from bigarrays_jl_spark.operators.extensions import mine_bitext_pairs
    plan = simple_plan(mine_bitext_pairs(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_mixture_report_single_scan_no_joins(spark, sf_dir):
    # the scorecard computes all three gate flags as map-side columns of
    # ONE documents scan — a Join anywhere means it regressed to the
    # gate-frame join form (4 scans + 3 corpus-wide shuffles at scale)
    from bigarrays_jl_spark.operators.extensions import pipeline_mixture_report
    plan = simple_plan(pipeline_mixture_report(spark, sf_dir))
    assert "Join" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan


def test_q46_broadcast_scalar_and_anti_join(spark, sf_dir):
    # Q22 shape: the scalar average broadcasts (tiny), the no-big-order
    # check plans as an anti join, nothing goes cartesian
    from bigarrays_jl_spark.operators.extensions import q46_missed_opportunities
    df = q46_missed_opportunities(spark, sf_dir)
    plan = simple_plan(df)
    assert has_broadcast_join(df)
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_canonical_pick_partial_agg_single_scan(spark, sf_dir):
    # same shape as dedup_fingerprint: fingerprint-keyed groupBy with
    # map-side partials (SortAggregate — the max_by struct buffer can't
    # hash), score computed in the same scan
    from bigarrays_jl_spark.operators.extensions import dedup_canonical_pick
    from bigarrays_jl_spark.plans.explain import has_two_phase_aggregation
    df = dedup_canonical_pick(spark, sf_dir)
    assert has_two_phase_aggregation(df)
    assert simple_plan(df).count("Scan parquet") == 1


def test_delete_plans_range_predicates(spark, tmp_path, monkeypatch):
    # delete of a box spanning ~100k lattice chunks must plan three
    # chunk-id NOT-BETWEENs, never a driver-enumerated In-list of keys
    # (r9 verdict W6: the old isin(doomed_keys) blew up plan size)
    info = Info.from_dict({
        "num_channels": 1, "type": "image", "data_type": "uint8",
        "scales": [{"encoding": "gzip", "chunk_sizes": [[10, 10, 4]],
                    "key": "1_1_1", "resolution": [1, 1, 1],
                    "voxel_offset": [0, 0, 0], "size": [1000, 1000, 400]}]})
    vol = Volume.create(spark, str(tmp_path / "bigdel"), info)
    vol.local_io = False        # the Spark rewrite; locally a numpy mask
    vol.write(np.full((10, 10, 4), 7, dtype=np.uint8), (0, 0, 0))       # doomed
    vol.write(np.full((10, 10, 4), 9, dtype=np.uint8), (990, 990, 396))  # kept
    captured = {}
    orig = vol._write_chunks

    def spy(df, mip=None, mode="append", path=None):
        captured[mode] = df
        return orig(df, mip, mode, path)

    monkeypatch.setattr(vol, "_write_chunks", spy)
    vol.delete(((0, 950), (0, 950), (0, 390)))  # 95*95*98 ≈ 884k doomed ids
    plan = simple_plan(captured["overwrite"])   # the frame _fold_mip writes
    assert "cx" in plan and "cy" in plan and "cz" in plan, plan
    # no In-expression proportional to the doomed chunk count
    assert len(plan) < 20_000, f"plan size {len(plan)} suggests an In-list"
    assert " IN (" not in plan, plan
    assert vol.keys() == ["990-1000_990-1000_396-400"]
    assert (vol[0:10, 0:10, 0:4] == 0).all()
    assert (vol[990:1000, 990:1000, 396:400] == 9).all()


def test_delete_empty_intersection_is_noop(spark, tmp_path, monkeypatch):
    info = Info.from_dict({
        "num_channels": 1, "type": "image", "data_type": "uint8",
        "scales": [{"encoding": "gzip", "chunk_sizes": [[10, 10, 4]],
                    "key": "1_1_1", "resolution": [1, 1, 1],
                    "voxel_offset": [0, 0, 0], "size": [20, 20, 8]}]})
    vol = Volume.create(spark, str(tmp_path / "noopdel"), info)
    vol.write(np.full((20, 20, 8), 3, dtype=np.uint8), (0, 0, 0))
    calls = []
    monkeypatch.setattr(vol, "_fold_mip", lambda *a, **kw: calls.append(a))

    def listing():
        return sorted((p, os.stat(p).st_mtime_ns)
                      for p in glob.glob(vol.root + "/**", recursive=True)
                      if os.path.isfile(p))

    before = listing()
    vol.delete(((500, 600), (0, 10), (0, 4)))  # outside the volume
    assert calls == []  # no rewrite triggered
    assert listing() == before                  # no file changed
    assert len(vol.keys()) == 8


def test_missing_chunks_df_distributed(spark, tmp_path):
    info = Info.from_dict({
        "num_channels": 1, "type": "image", "data_type": "uint8",
        "scales": [{"encoding": "gzip", "chunk_sizes": [[10, 10, 4]],
                    "key": "1_1_1", "resolution": [1, 1, 1],
                    "voxel_offset": [0, 0, 0], "size": [40, 20, 8]}]})
    vol = Volume.create(spark, str(tmp_path / "mdf"), info)
    vol.write(np.full((10, 20, 8), 1, dtype=np.uint8), (0, 0, 0))
    mdf = vol.missing_chunks_df()
    assert set(mdf.columns) == {"cx", "cy", "cz"}
    assert mdf.count() == 4 * 2 * 2 - 4  # lattice 4x2x2 minus 4 stored
    # list wrapper agrees with the DataFrame variant
    assert sorted((r.cx, r.cy, r.cz) for r in mdf.collect()) == \
        vol.list_missing_chunks()
    assert sorted(r.key for r in vol.keys_df().collect()) == vol.keys()


def test_q60_q9_shape_broadcasts_dims_one_shuffle_join(spark, sf_dir):
    from bigarrays_jl_spark.operators.tpch_final import q60_profit_by_nation_year
    df = q60_profit_by_nation_year(spark, sf_dir)
    plan = simple_plan(df)
    assert has_broadcast_join(df)          # part + supplier⋈nation broadcast
    assert "CartesianProduct" not in plan, plan


def test_q61_q16_not_in_plans_anti_join_no_cartesian(spark, sf_dir):
    from bigarrays_jl_spark.operators.tpch_final import q61_supplier_part_counts
    df = q61_supplier_part_counts(spark, sf_dir)
    plan = simple_plan(df)
    assert "LeftAnti" in plan, plan        # NOT IN → anti-join, never a filter-per-row
    assert has_broadcast_join(df)
    assert "CartesianProduct" not in plan, plan


def test_q92_q4_shape_semi_join_pushed_quarter(spark, sf_dir):
    from bigarrays_jl_spark.operators.tpch_canon import q92_priority_count
    df = q92_priority_count(spark, sf_dir)
    plan = simple_plan(df)
    assert "LeftSemi" in plan, plan        # EXISTS → semi join, never inner+distinct
    assert "CartesianProduct" not in plan, plan
    pf = " ".join(pushed_filters(df))
    assert "o_orderdate" in pf, f"quarter filter not pushed: {pf}"


def test_q93_q6_shape_all_filters_pushed_partial_agg(spark, sf_dir):
    from bigarrays_jl_spark.operators.tpch_canon import q93_revenue_delta
    df = q93_revenue_delta(spark, sf_dir)
    pf = " ".join(pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pf, f"{col} not pushed: {pf}"
    assert has_partial_aggregation(df)
    rs = read_schemas(df)[0]
    assert "l_returnflag" not in rs        # column pruning holds


def test_q94_q10_shape_take_ordered_broadcast_dims(spark, sf_dir):
    from bigarrays_jl_spark.operators.tpch_canon import q94_returned_item_top20
    df = q94_returned_item_top20(spark, sf_dir)
    assert uses_take_ordered(df)           # top-20, never a global sort
    assert has_broadcast_join(df)          # customer⋈nation broadcast
    pf = " ".join(pushed_filters(df))
    assert "l_returnflag" in pf and "o_orderdate" in pf, pf


def test_q96_q14_shape_single_fact_scan_broadcast_part(spark, sf_dir):
    from bigarrays_jl_spark.operators.tpch_canon import q96_promo_share
    df = q96_promo_share(spark, sf_dir)
    assert has_broadcast_join(df)
    plan = formatted_plan(df)
    # ONE lineitem scan: both conditional sums ride the same aggregation
    assert plan.count("lineitem") <= plan.count("part") + 2
    assert sum(1 for rs in read_schemas(df) if "l_extendedprice" in rs) == 1


def test_round11_plan_shapes(spark, sf_dir):
    from bigarrays_jl_spark.operators.estimation import sample_weighted_exact
    from bigarrays_jl_spark.operators.statistics import chi2_type_dow
    from bigarrays_jl_spark.operators.temporal import interval_overlap_join
    df = sample_weighted_exact(spark, sf_dir)
    plan = simple_plan(df)
    # A-RES top-k rides a heap, never a global sort of the corpus;
    # the only single-partition stage is the 50-row rank window
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("Exchange SinglePartition") <= 1, plan
    df2 = interval_overlap_join(spark, sf_dir)
    p2 = simple_plan(df2)
    # r12 rewrite: the overlap join is GRID-BUCKETED (equi join on the
    # day bucket + exact residual) — no nested-loop over a broadcast
    # burst table (which grows with the corpus), no cartesian, and the
    # island merge has no whole-table window (de-funnel pin)
    assert "BroadcastNestedLoopJoin" not in p2, p2
    assert "CartesianProduct" not in p2, p2
    from bigarrays_jl_spark.plans.explain import single_partition_windows
    assert not single_partition_windows(df2), p2
    df3 = chi2_type_dow(spark, sf_dir)
    assert has_broadcast_join(df3)         # marginals broadcast
    assert has_partial_aggregation(df3)


def test_volume_stencil_shuffles_surface_only(spark, sf_dir):
    """The halo exchange ships chunk-surface voxels, never the volume:
    interior voxels reduce inside the UDF to per-slice rows."""
    from bigarrays_jl_spark.operators.volume_stencil import (
        BOX, _stencil_stream)
    from bigarrays_jl_spark.operators.advanced import demo_volume
    vol = demo_volume(spark)
    stream = _stencil_stream(vol, BOX)
    kinds = {r["kind"]: r["n"] for r in
             stream.groupBy("kind").agg(F.count("*").alias("n")).collect()}
    # 64 chunks of 16³: surface 16³−14³ = 1352/chunk partials
    assert kinds[1] < 64 * (1352 + 6 * 256) + 1    # partials + 6 faces
    assert kinds[0] == 64 * 14                     # interior slice rows
    n_vox = 64 ** 3
    assert kinds[1] < n_vox, "halo traffic must be sub-volume"


def test_bucketed_quantile_pick_no_whole_domain_window(spark, sf_dir):
    """The q70/q72 quantile picks must never window a group's whole
    value domain through one task: every window is partitioned by
    (group, bucket) or (group) over ≤ n_buckets offset rows, and the
    answer is bit-identical to the naive single-window rule."""
    from bigarrays_jl_spark.operators.ordering import bucketed_quantile_pick
    from bigarrays_jl_spark.sources.tables import load
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
        .alias("cents"))
    hist = li.groupBy("l_returnflag", "cents").agg(F.count("*").alias("w"))
    got = bucketed_quantile_pick(hist, "l_returnflag", "cents", "w",
                                 1, 2, "q")
    plan = simple_plan(got)
    assert "Exchange SinglePartition" not in plan, plan
    from pyspark.sql import Window as SW
    w_cum = (SW.partitionBy("l_returnflag").orderBy("cents")
             .rowsBetween(SW.unboundedPreceding, 0))
    w_all = SW.partitionBy("l_returnflag")
    ref = (hist.withColumn("cum", F.sum("w").over(w_cum))
           .withColumn("tot", F.sum("w").over(w_all))
           .filter(2 * F.col("cum") >= F.col("tot"))
           .groupBy("l_returnflag").agg(F.min("cents").alias("q")))
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, ref.collect()))
