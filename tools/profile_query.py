"""Profile one registry query: the Spark jobs it runs, the executed plan
of each SQL execution, and the result's signature.

    python tools/profile_query.py NAME SF_DIR

Builds ``ALL_QUERIES[NAME](spark, SF_DIR)`` under one job group and
collects it under another, then prints one JSON object:

- ``build_jobs`` / ``collect_jobs``: Spark jobs started while building
  (table loads, eager lineage cuts, driver-side probes) and while
  collecting;
- ``executions``: one entry per SQL execution either phase ran, in
  order, with the parquet scans, exchanges and reused exchanges of its
  final executed plan and that plan's line count
  (``plan_node_counts``); ``parquet_scans`` sums the scans over them;
- ``optimized_plan_lines``: the line count of the result's optimized
  logical plan;
- ``signature``: row count and sha256 of ``check_oracle.table_signature``
  (the value the oracle sweep compares).

SF_DIR is a directory of test tables (``TESTDATA.md`` lists them).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.check_oracle import table_signature  # noqa: E402

_NODE = re.compile(r"^[\s:|+-]*(?:\* )?([A-Za-z][A-Za-z ]*?) \(\d+\)")


def final_plan_tree(formatted: str) -> list[str]:
    """The node lines of a formatted plan (the text of
    ``plans.explain.formatted_plan`` or of a SQL execution's plan
    description), without the per-node detail blocks.  An adaptive plan
    keeps only its final plan once it has one."""
    lines = formatted.split("\n\n", 1)[0].splitlines()
    lines = [ln for ln in lines if ln.strip() != "== Physical Plan =="]
    for i, ln in enumerate(lines):
        if "== Final Plan ==" in ln:
            end = next((j for j in range(i + 1, len(lines))
                        if "== Initial Plan ==" in lines[j]), len(lines))
            return lines[i + 1:end]
    return lines


def plan_nodes(formatted: str) -> list[str]:
    """Node names of the final tree of a formatted plan, top down
    (``Scan parquet``, ``Exchange``, ``ReusedExchange``, ...)."""
    return [m.group(1).strip()
            for m in map(_NODE.match, final_plan_tree(formatted)) if m]


def plan_node_counts(formatted: str) -> dict[str, int]:
    """Parquet scans, exchanges (shuffle and broadcast) and reused
    exchanges in the final tree of a formatted plan, and its line count.
    A reused exchange is a leaf there, so the scans under the exchange
    it reuses are counted once."""
    names = plan_nodes(formatted)
    return {"parquet_scans": names.count("Scan parquet"),
            "exchanges": sum(n.endswith("Exchange")
                             and n != "ReusedExchange" for n in names),
            "reused_exchanges": names.count("ReusedExchange"),
            "plan_lines": len(final_plan_tree(formatted))}


def _execution_list(spark) -> list:
    """Every SQL execution in the status store, by id, once the listener
    bus has delivered every event so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    seq = spark._jsparkSession.sharedState().statusStore().executionsList()
    return sorted((seq.apply(i) for i in range(seq.size())),
                  key=lambda e: e.executionId())


def _executions(spark, after: int, timeout_s: float = 60.0) -> list:
    """SQL executions with an id above ``after``, each once the status
    store holds its final plan.  The store writes an ended execution's
    last record (final adaptive plan, metric values) asynchronously, so
    a read right after the action can still see the initial plan, and
    its ``== Current Plan ==`` and ``== Initial Plan ==`` halves would
    count every node twice; the metric values are set by that last
    write."""
    deadline = time.monotonic() + timeout_s
    while True:
        execs = [e for e in _execution_list(spark) if e.executionId() > after]
        if all(e.metricValues() is not None for e in execs):
            return execs
        if time.monotonic() > deadline:
            raise TimeoutError(
                f"SQL executions {[e.executionId() for e in execs]} did "
                f"not reach the status store within {timeout_s} s")
        time.sleep(0.05)


def _in_group(spark, gid: str, thunk):
    sc = spark.sparkContext
    sc.setJobGroup(gid, gid, False)
    try:
        return thunk()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def profile(spark, name: str, sf_dir: str) -> dict:
    from bigarrays_jl_spark.operators import ALL_QUERIES
    fn = ALL_QUERIES[name]
    sc = spark.sparkContext
    last = max((e.executionId() for e in _execution_list(spark)), default=-1)
    gid = f"profile-{name}-{last + 1}"
    df = _in_group(spark, f"{gid}-build", lambda: fn(spark, sf_dir))
    rows = _in_group(spark, f"{gid}-collect", df.collect)
    execs = [dict(id=e.executionId(), **plan_node_counts(
        e.physicalPlanDescription())) for e in _executions(spark, last)]
    jobs = sc.statusTracker().getJobIdsForGroup
    _, n_rows, digest, _ = table_signature(df.columns,
                                           [tuple(r) for r in rows])
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    return {"query": name, "sf_dir": sf_dir,
            "build_jobs": len(jobs(f"{gid}-build")),
            "collect_jobs": len(jobs(f"{gid}-collect")),
            "parquet_scans": sum(e["parquet_scans"] for e in execs),
            "executions": execs,
            "optimized_plan_lines": len(optimized.splitlines()),
            "signature": {"rows": n_rows, "sha256": digest}}


def main() -> None:
    import argparse
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("name")
    ap.add_argument("sf_dir")
    ns = ap.parse_args()
    from bigarrays_jl_spark.session import get_spark
    spark = get_spark("profile-query")
    print(json.dumps(profile(spark, ns.name, ns.sf_dir), sort_keys=True))


if __name__ == "__main__":
    main()
