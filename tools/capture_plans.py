"""Capture ``explain('formatted')`` for a set of registry queries into
plans/<tag>/<query>_<suffix>.txt — the optimization round's evidence
artifacts (the judge reads these instead of running Spark).

Usage:
    python tools/capture_plans.py <tag> <suffix> [sf_dir] [query ...]

With no query list, captures the frozen HEADLINE set plus the queries
named in PLAN_SET below.  ``tag`` is the plans/ subdir (e.g. r17);
``suffix`` is ``before`` or ``after``.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402  (the one frozen copy)

# the queries this round's optimization work touches or inspects
PLAN_SET = [
    "events_hdr_quantiles", "events_hdr_merge", "leadtime_quantiles",
    "q70_mad_outliers", "q72_winsorized_mean", "q71_quantile_screen",
    "basket_triples", "dedup_audit_pr", "ann_ivfpq_recall_audit",
    "graph_pagerank_lsh", "bloom_decontaminate", "pipeline_e2e_curate",
    "set_sim_join", "ann_recall_audit", "ann_pq_recall_knee",
    "dedup_span_excise", "pipeline_temperature_mix",
]


def main() -> None:
    tag = sys.argv[1]
    suffix = sys.argv[2]
    rest = sys.argv[3:]
    sf_dir = rest[0] if rest else "/root/testdata/sf0.1"
    names = rest[1:] or (HEADLINE + PLAN_SET)

    from bigarrays_jl_spark.operators import ALL_QUERIES
    from bigarrays_jl_spark.session import get_spark
    spark = get_spark("capture_plans")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        fn = ALL_QUERIES[name]
        try:
            plan = fn(spark, sf_dir)._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution
                .ExplainMode.fromString("formatted"))
        except Exception as e:          # noqa: BLE001 — record, move on
            plan = f"PLAN CAPTURE FAILED: {e}"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(plan)
        print(f"captured {name}_{suffix}", file=sys.stderr)


if __name__ == "__main__":
    main()
