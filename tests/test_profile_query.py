"""``tools/profile_query.py``: per-phase Spark job counts, executed-plan
counts per SQL execution and the result signature of one registry
query."""

import json
import os
import subprocess
import sys

from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from bigarrays_jl_spark.plans.explain import formatted_plan
from tools.profile_query import plan_node_counts, profile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_profile_q01_jobs_plans_and_signature(spark, sf_dir):
    p = profile(spark, "q01_pricing_summary", sf_dir)
    # building q01 runs only the lineitem load's footer read; its one
    # SQL execution (the collect) scans lineitem once
    assert p["build_jobs"] == 1, p
    assert p["collect_jobs"] >= 1, p
    assert len(p["executions"]) == 1, p
    assert p["parquet_scans"] == p["executions"][0]["parquet_scans"] >= 1
    assert p["executions"][0]["plan_lines"] > 0
    assert p["optimized_plan_lines"] > 0
    assert p["signature"]["rows"] > 0
    assert len(p["signature"]["sha256"]) == 64
    # a second profile of the same query counts the same
    again = profile(spark, "q01_pricing_summary", sf_dir)
    assert again["signature"] == p["signature"]
    assert again["build_jobs"] == p["build_jobs"]


def test_profile_counts_eager_cuts_as_build_jobs(spark, sf_dir,
                                                 monkeypatch):
    eager = []
    orig = ClassicDataFrame.localCheckpoint

    def spy(self, *args, **kwargs):
        eager.append(kwargs.get("eager", args[0] if args else True))
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(ClassicDataFrame, "localCheckpoint", spy)
    p = profile(spark, "dedup_components", sf_dir)
    n_eager = sum(map(bool, eager))
    assert n_eager >= 2, eager
    # every eager cut runs at least one job before the query returns;
    # the loads and the per-round convergence probes add more
    assert p["build_jobs"] > n_eager, p
    assert p["collect_jobs"] >= 1, p
    # the eager cuts are SQL executions of the build phase
    assert len(p["executions"]) > n_eager, p


def test_plan_node_counts_sees_a_reused_exchange(spark, sf_dir):
    from bigarrays_jl_spark.sources.tables import load
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        d = load(spark, sf_dir, "documents").select("doc_id", "lang")
        keys = d.groupBy("lang").count()
        df = keys.alias("a").join(keys.alias("b"), "lang")
        df.collect()
        counts = plan_node_counts(formatted_plan(df))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
    assert counts["parquet_scans"] == 1, counts
    assert counts["reused_exchanges"] == 1, counts
    assert counts["exchanges"] >= 1 and counts["plan_lines"] > 0


def test_cli_prints_one_json_object(sf_dir):
    env = dict(os.environ, SPARK_GRAFT_CPUS="2",
               SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "profile_query.py"),
         "q01_pricing_summary", sf_dir],
        capture_output=True, text=True, env=env, timeout=600, check=True)
    p = json.loads(out.stdout.strip().splitlines()[-1])
    assert p["query"] == "q01_pricing_summary"
    assert p["build_jobs"] == 1 and p["signature"]["rows"] > 0
