"""Physical-plan inspection helpers.

The reference has no optimizer (SURVEY §3/§4) — its one physical trick is
chunk pruning.  Here Catalyst owns planning, and these helpers make plan
properties *assertable*: tests pin that filters reach the parquet scan,
small dims broadcast, aggregates are partial (map-side), and top-k avoids
a global sort.  This is the engine's guard-rail against plan regressions
that would only surface at cluster scale.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The formatted physical plan as a string (same text as
    df.explain("formatted"), but returned instead of printed)."""
    jdf = df._jdf
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return jdf.queryExecution().explainString(mode)


def simple_plan(df: DataFrame) -> str:
    jdf = df._jdf
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    return jdf.queryExecution().explainString(mode)


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across the plan's parquet scans."""
    plan = formatted_plan(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[(.*?)\](?:,|$)", plan, re.M):
        body = m.group(1).strip()
        # split on TOP-LEVEL commas only: a nested filter such as
        # In(l_shipmode, [MAIL,SHIP]) must stay one entry
        depth, cur = 0, []
        for ch in body:
            if ch in "([":
                depth += 1
            elif ch in ")]":
                depth -= 1
            if ch == "," and depth == 0:
                if "".join(cur).strip():
                    out.append("".join(cur).strip())
                cur = []
            else:
                cur.append(ch)
        if "".join(cur).strip():
            out.append("".join(cur).strip())
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema (post-column-pruning) of each scan."""
    plan = formatted_plan(df)
    return [m.group(1) for m in re.finditer(r"ReadSchema: (\S+)", plan)]


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in simple_plan(df)


def has_partial_aggregation(df: DataFrame) -> bool:
    """Map-side partial + final HASH aggregation present.

    Detection is by the ``partial_`` function markers in the plan's
    detail blocks, NOT by counting aggregate node names — formatted
    plans print every node twice (tree line + detail header), so a
    node-count >= 2 is satisfied by a single complete-mode aggregate
    and detects nothing.  The HashAggregate requirement additionally
    pins the hash implementation: a silent flip to SortAggregate
    (sort-per-partition at cluster scale) fails this predicate — use
    ``has_two_phase_aggregation`` where the aggregate buffer is
    legitimately non-hashable (e.g. max_by over a struct)."""
    plan = formatted_plan(df)
    return "HashAggregate" in plan and "partial_" in plan


def has_two_phase_aggregation(df: DataFrame) -> bool:
    """Two-phase (partial + final) aggregation by ANY implementation —
    Hash, ObjectHash, or Sort.  The relaxation of
    ``has_partial_aggregation`` for aggregates whose buffer can't hash."""
    plan = formatted_plan(df)
    return (bool(re.search(r"(?:Hash|Sort)Aggregate", plan))
            and "partial_" in plan)


def num_exchanges(df: DataFrame) -> int:
    """Shuffle count in the plan (each Exchange is a full data movement —
    the number to minimize)."""
    return len(re.findall(r"\bExchange\b", simple_plan(df)))


def uses_take_ordered(df: DataFrame) -> bool:
    """Top-k via per-partition heap + driver merge instead of global sort."""
    return "TakeOrderedAndProject" in simple_plan(df)


def single_partition_windows(df: DataFrame) -> list[str]:
    """Window nodes fed by an ``Exchange SinglePartition`` — the
    one-task whole-table funnel that is correct at test scale and dead
    at 100 TB (operators/ordering.py exists to eliminate it).

    Walks the simple plan tree: for each ``Window``/``WindowGroupLimit``
    node, follows its input chain (the Sort/Exchange nodes Spark inserts
    to satisfy the window's required ordering/distribution) and reports
    the window line when that chain contains a SinglePartition exchange.
    Deeper SinglePartition exchanges (e.g. a global agg below a join
    under the window) are NOT attributed to the window — only the
    exchange that actually feeds it.

    Recognized-bounded by construction: a window fed directly by a
    ``TakeOrderedAndProject``/limit (the post-``limit(k)`` re-rank
    pattern, e.g. ``sample_weighted_exact``) ends the chain at that
    node — its single task sees at most k rows regardless of corpus
    size, so it is not a funnel and needs no allowlist entry.
    """
    lines = simple_plan(df).splitlines()

    def node(ln: str) -> tuple[int, str] | None:
        # ':-' is the first child of a binary node (join/union branch) —
        # a Window there is still a funnel and must be recognized too.
        m = re.search(r"(?:\+-|:-) (?:\*\(\d+\) )?([A-Za-z]+)", ln)
        if m:
            return m.start(1), m.group(1)
        m = re.match(r"(?:\*\(\d+\) )?([A-Za-z]+)", ln)  # root node
        return (0, m.group(1)) if m else None

    out: list[str] = []
    for i, ln in enumerate(lines):
        n = node(ln)
        if n is None or not n[1].startswith("Window"):
            continue
        d = n[0]
        for nxt in lines[i + 1:]:
            m = node(nxt)
            if m is None:
                continue                      # vertical connector line
            nd, name = m
            if nd <= d:
                break                         # left the window's subtree
            if name not in ("Sort", "Exchange"):
                break          # real input operator reached — chain ends
            if name == "Exchange" and "SinglePartition" in nxt:
                out.append(ln.strip())
                break
    return out
