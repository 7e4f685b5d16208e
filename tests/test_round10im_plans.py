"""Plan pins for round-10 batches 9-13 — the scale-critical properties."""

from bigarrays_jl_spark.operators.statistics import (q80_welch_ttest,
                                                     q81_cuped, q82_gini,
                                                     q89_stratified_effect,
                                                     q90_benford,
                                                     q91_dow_seasonality)
from bigarrays_jl_spark.plans.explain import formatted_plan, simple_plan


def test_welch_is_one_conditional_pass(spark, sf_dir):
    """Both arms' moments come from ONE scan + ONE agg pair — never a
    per-arm scan or a self-join."""
    plan = simple_plan(q80_welch_ttest(spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1


def test_cuped_reads_rollup_not_facts_twice(spark, sf_dir):
    """The θ moments and the arm means must consume ONE per-user rollup;
    the single-row moment table broadcasts back."""
    df = q81_cuped(spark, sf_dir)
    df.collect()
    plan = simple_plan(df).split("== Initial Plan ==")[0]
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # the final adaptive plan scans the facts once; the second consumer
    # reads the rollup's exchange (a ReusedExchange), which only the
    # final plan shows
    assert plan.count("Scan parquet") <= 1
    assert "ReusedExchange" in plan
    assert "CartesianProduct" not in plan


def test_gini_window_runs_over_histogram(spark, sf_dir):
    """The cumulative window's input must be the (flag, cents)
    aggregate — HashAggregate BELOW Window in the tree — never raw
    rows."""
    plan = formatted_plan(q82_gini(spark, sf_dir))
    tree = plan.split("\n\n")[0].splitlines()
    wi = next(i for i, ln in enumerate(tree) if "Window" in ln)
    below = "\n".join(tree[wi + 1:])
    assert "HashAggregate" in below       # window input is the histogram
    assert "partial_count" in plan        # map-side combine on the fold


def test_stratified_effect_two_folds_no_join(spark, sf_dir):
    plan = simple_plan(q89_stratified_effect(spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1


def test_benford_broadcasts_total(spark, sf_dir):
    plan = simple_plan(q90_benford(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_dow_totals_broadcast_into_cells(spark, sf_dir):
    plan = simple_plan(q91_dow_seasonality(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
