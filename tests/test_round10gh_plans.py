"""Plan pins for the round-10 batch 7/8 operators — the properties
that matter at 100 TB, asserted so a regression can't hide."""

from bigarrays_jl_spark.operators.events import q76_attribution
from bigarrays_jl_spark.operators.statistics import (q77_regression_slope,
                                                     q78_kanonymity,
                                                     q79_mutual_info)
from bigarrays_jl_spark.operators.temporal import q73_ema_decay
from bigarrays_jl_spark.plans.explain import formatted_plan, simple_plan


def test_regression_is_pure_moment_fold(spark, sf_dir):
    """q77 must be ONE partial-agg pair over ONE scan: no join, no
    window, no second pass — the moments reduce map-side."""
    plan = simple_plan(q77_regression_slope(spark, sf_dir))
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("Scan parquet") == 1
    assert "HashAggregate" in plan
    # the moments fold map-side: partial sums appear below the exchange
    assert "partial_sum" in formatted_plan(
        q77_regression_slope(spark, sf_dir))


def test_ema_is_one_keyed_window_no_join(spark, sf_dir):
    plan = simple_plan(q73_ema_decay(spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1


def test_attribution_joins_on_user_key(spark, sf_dir):
    """The 24 h lookback must ride a USER-keyed equi-join (range as a
    post-join predicate) — never a nested-loop/cartesian time join."""
    plan = simple_plan(q76_attribution(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "p_user" in plan and "v_user" in plan


def test_kanonymity_is_two_aggregations_no_join(spark, sf_dir):
    plan = simple_plan(q78_kanonymity(spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1


def test_mutual_info_median_broadcasts(spark, sf_dir):
    """The per-dim medians (64 rows) must broadcast into the element
    stream — never the reverse."""
    plan = simple_plan(q79_mutual_info(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
