"""Round-9 operator tests: TPC-H Q2/Q15/Q18 shapes, LSH-composed graph,
NULL-capable CDC, snapshot GC, 4D channel volume analytics."""

import os

import pytest
from pyspark.sql import functions as F

from bigarrays_jl_spark.operators.tpch_deep import (
    Q52_MIN_QTY, q50_min_cost_supplier, q51_top_supplier, q52_large_orders)
from bigarrays_jl_spark.plans.explain import (formatted_plan,
                                              has_broadcast_join,
                                              has_partial_aggregation)


def test_q50_rows_hold_the_group_min(spark, sf_dir):
    rows = q50_min_cost_supplier(spark, sf_dir).collect()
    assert rows
    by_part = {}
    for r in rows:
        by_part.setdefault(r["p_partkey"], []).append(r["unit_cost"])
    # every winner row carries the same (minimal) cost for its part
    for costs in by_part.values():
        assert len(set(costs)) == 1


def test_q51_winner_is_global_max(spark, sf_dir):
    from bigarrays_jl_spark.operators.relational import _dsum2
    from bigarrays_jl_spark.sources.tables import load
    rows = q51_top_supplier(spark, sf_dir).collect()
    assert rows
    rev = (load(spark, sf_dir, "lineitem")
           .filter((F.col("l_shipdate") >= "1996-01-01")
                   & (F.col("l_shipdate") < "1996-04-01"))
           .groupBy("l_suppkey")
           .agg(_dsum2(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .alias("tr")))
    mx = rev.agg(F.max("tr")).collect()[0][0]
    assert all(r["total_revenue"] == mx for r in rows)


def test_q52_orders_exceed_threshold(spark, sf_dir):
    rows = q52_large_orders(spark, sf_dir).collect()
    for r in rows:
        assert r["sum_qty"] > Q52_MIN_QTY
    # distinct orders: the grouped threshold table is keyed by order
    keys = [r["o_orderkey"] for r in rows]
    assert len(keys) == len(set(keys))


def test_pagerank_lsh_matches_reference_iteration(spark, sf_dir):
    """The composed LSH→PageRank path must agree with a plain Python
    power iteration over the same discovered edges (float tolerance —
    the operator's own cross-engine exactness is the oracle's job)."""
    from bigarrays_jl_spark.operators.graph import DAMPING, N_ITER
    from bigarrays_jl_spark.operators.graph import graph_pagerank_lsh
    from bigarrays_jl_spark.operators.similarity import sim_lsh_pairs

    pairs = [(r["vec_a"], r["vec_b"])
             for r in sim_lsh_pairs(spark, sf_dir).collect()]
    assert pairs, "testdata corpus must yield LSH pairs"
    out = {r["vec_id"]: r["pagerank"]
           for r in graph_pagerank_lsh(spark, sf_dir).collect()}

    adj = {}
    for a, b in pairs:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    n = len(adj)
    rank = {v: 1.0 / n for v in adj}
    for _ in range(N_ITER):
        contrib = {v: 0.0 for v in adj}
        for v, outs in adj.items():
            for w in outs:
                contrib[w] += rank[v] / len(outs)
        rank = {v: (1.0 - DAMPING) / n + DAMPING * c
                for v, c in contrib.items()}
    assert set(out) == set(rank)
    for v in rank:
        assert abs(out[v] - rank[v]) < 1e-6
    # symmetric graph, no dangling mass: total rank stays ≈ 1
    assert abs(sum(out.values()) - 1.0) < 1e-6


def test_triangles_lsh_match_bruteforce(spark, sf_dir):
    from bigarrays_jl_spark.operators.graph import graph_triangles_lsh
    from bigarrays_jl_spark.operators.similarity import sim_lsh_pairs
    und = {(r["vec_a"], r["vec_b"])
           for r in sim_lsh_pairs(spark, sf_dir).collect()}
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri = sum(1 for a, b in und for c in (adj[a] & adj[b]) if c > b)
    wedges = sum(d * (d - 1) // 2 for d in map(len, adj.values()))
    row = graph_triangles_lsh(spark, sf_dir).collect()[0]
    assert row["n_triangles"] == tri
    assert row["n_wedges"] == wedges
    if wedges:
        assert abs(row["global_clustering"] - 3 * tri / wedges) < 1e-12


def test_graph_lsh_plans_never_cartesian(spark, sf_dir):
    from bigarrays_jl_spark.operators.graph import (graph_pagerank_lsh,
                                                    graph_triangles_lsh)
    for op in (graph_pagerank_lsh, graph_triangles_lsh):
        assert "CartesianProduct" not in formatted_plan(op(spark, sf_dir))


def test_merge_changes_flagged_dialect_can_null_a_column(spark):
    from bigarrays_jl_spark.operators.mutation import merge_changes
    base = spark.createDataFrame(
        [(1, "en", "web", 10), (2, "de", "web", 20), (3, "fr", "web", 30)],
        "doc_id long, lang string, source string, n_chars long")
    changes = spark.createDataFrame(
        [(2, "update", None, False, None, True, None, False),
         (3, "delete", None, False, None, False, None, False),
         (9, "insert", "it", True, "feed", True, 9, True)],
        "doc_id long, op string, c_lang string, c_lang_set boolean, "
        "c_source string, c_source_set boolean, "
        "c_n_chars long, c_n_chars_set boolean")
    out = {r["doc_id"]: r for r in merge_changes(base, changes).collect()}
    assert set(out) == {1, 2, 9}
    # the NULL-ing update: source cleared, unflagged columns kept
    assert out[2]["source"] is None
    assert out[2]["lang"] == "de" and out[2]["n_chars"] == 20
    assert out[1]["source"] == "web" and out[1]["last_op"] == "keep"
    assert out[9]["lang"] == "it" and out[9]["last_op"] == "insert"


def test_merge_changes_legacy_dialect_unchanged(spark):
    # the 5-column feed keeps coalesce semantics: NULL change = keep
    from bigarrays_jl_spark.operators.mutation import merge_changes
    base = spark.createDataFrame(
        [(1, "en", "web", 10)],
        "doc_id long, lang string, source string, n_chars long")
    changes = spark.createDataFrame(
        [(1, "update", None, "curated", None)],
        "doc_id long, op string, c_lang string, c_source string, "
        "c_n_chars long")
    row = merge_changes(base, changes).collect()[0]
    assert row["lang"] == "en" and row["n_chars"] == 10
    assert row["source"] == "curated"


def test_insert_offset_precondition(spark, sf_dir):
    # the synthetic feed's insert keys are doc_id + INSERT_OFFSET; a
    # corpus whose doc_ids reach the offset would silently turn inserts
    # into updates — pin the margin on the largest test corpus, the
    # sf0.1 sibling of the default test data
    from bigarrays_jl_spark.operators.mutation import INSERT_OFFSET
    from bigarrays_jl_spark.sources.tables import load
    largest = os.path.join(os.path.dirname(sf_dir), "sf0.1")
    mx = (load(spark, largest, "documents")
          .agg(F.max("doc_id")).collect()[0][0])
    assert mx < INSERT_OFFSET


def test_volume4d_channel_axis_end_to_end(spark, sf_dir):
    # the 4D scratch volume round-trips the channel axis: numpy cutout
    # matches the closed form, and the distributed voxel bridge
    # aggregates per channel
    import numpy as np
    from bigarrays_jl_spark.operators.volume_channels import (
        N_CH, demo_volume4d, volume_channel_histogram)
    vol = demo_volume4d(spark)
    out = vol[4:12, 0:8, 8:16]
    assert out.shape == (8, 8, 8, N_CH)
    x, y, z, ch = np.meshgrid(np.arange(4, 12), np.arange(0, 8),
                              np.arange(8, 16), np.arange(N_CH),
                              indexing="ij")
    np.testing.assert_array_equal(out, ((x * 31 + y * 7 + z * 5 + ch * 11)
                                        % 256).astype(np.uint8))
    rows = volume_channel_histogram(spark, sf_dir).collect()
    chans = {r["channel"] for r in rows}
    assert chans == set(range(N_CH))
    # every channel covers the same voxel count (same box per channel)
    per_ch = {}
    for r in rows:
        per_ch[r["channel"]] = per_ch.get(r["channel"], 0) + r["n_voxels"]
    assert len(set(per_ch.values())) == 1


def test_q53_q54_shapes_and_semantics(spark, sf_dir):
    from bigarrays_jl_spark.operators.tpch_more import (
        Q53_FACTOR, q53_important_parts, q54_idle_rich_customers)
    rows = q53_important_parts(spark, sf_dir).collect()
    assert rows
    vals = [r["value"] for r in rows]
    # every kept part exceeds FACTOR x the mean of the FULL relation,
    # so in particular it exceeds FACTOR x min of the kept set... the
    # real invariant: recompute the mean over all parts and compare
    from bigarrays_jl_spark.sources.tables import load
    all_v = (load(spark, sf_dir, "lineitem")
             .join(load(spark, sf_dir, "supplier")
                   .filter(F.col("s_nationkey") % 2 == 1)
                   .select("s_suppkey"),
                   F.col("l_suppkey") == F.col("s_suppkey"))
             .groupBy("l_partkey")
             .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,6)"))
                  .cast("double").alias("v")))
    stats = all_v.agg(F.sum("v").alias("t"), F.count("*").alias("n")) \
                 .collect()[0]
    mean = stats["t"] / stats["n"]
    assert all(v > Q53_FACTOR * mean * 0.999 for v in vals)
    assert len(rows) < stats["n"]   # a real threshold, not a pass-through
    # q54: plan must keep the anti join (no trace of a row blowup) and
    # every emitted nation aggregates >= 1 churned customer
    q54 = q54_idle_rich_customers(spark, sf_dir)
    assert all(r["n_custs"] >= 1 for r in q54.collect())
    plan = formatted_plan(q54)
    assert "LeftAnti" in plan and "CartesianProduct" not in plan


def test_volume_label_sizes_matches_closed_form(spark, sf_dir):
    import numpy as np
    from bigarrays_jl_spark.operators.volume_seg import (
        SEG_BLOCK, demo_seg_volume, volume_label_sizes)
    # the distributed label stats equal a numpy groupby on the cutout
    vol = demo_seg_volume(spark)
    arr = vol[0:64, 0:64, 8:56]
    got = {r["label"]: r for r in volume_label_sizes(spark, sf_dir).collect()}
    labels, counts = np.unique(arr, return_counts=True)
    assert set(got) == set(int(x) for x in labels)
    for lab, cnt in zip(labels, counts):
        r = got[int(lab)]
        assert r["n_voxels"] == int(cnt)
        xs, ys, zs = np.nonzero(arr == lab)
        assert (r["x0"], r["x1"]) == (xs.min(), xs.max())
        assert (r["y0"], r["y1"]) == (ys.min(), ys.max())
        assert (r["z0"], r["z1"]) == (zs.min() + 8, zs.max() + 8)
    # segmentation dtype flows as integers end-to-end
    assert all(isinstance(r["label"], int) for r in got.values())
    assert SEG_BLOCK == 16


def test_events_pattern_match_vs_python_scan(spark, sf_dir):
    from bigarrays_jl_spark.operators.events_cep import (PATTERN,
                                                         PATTERN_GAP_S,
                                                         events_pattern_match)
    from bigarrays_jl_spark.sources.tables import load
    rows = (load(spark, sf_dir, "events")
            .select("user_id", "event_id", "event_type",
                    F.col("ts").cast("long").alias("sec")).collect())
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    want = {}
    for u, es in by_user.items():
        es.sort(key=lambda r: (r["sec"], r["event_id"]))
        hits = [es[i]["event_id"] for i in range(len(es) - 2)
                if (es[i]["event_type"], es[i + 1]["event_type"],
                    es[i + 2]["event_type"]) == PATTERN
                and es[i + 1]["sec"] - es[i]["sec"] <= PATTERN_GAP_S
                and es[i + 2]["sec"] - es[i + 1]["sec"] <= PATTERN_GAP_S]
        if hits:
            want[u] = (len(hits), min(hits))
    got = {r["user_id"]: (r["n_matches"], r["first_match_event"])
           for r in events_pattern_match(spark, sf_dir).collect()}
    assert got == want
    assert want, "testdata must contain pattern instances"


def test_events_absence_match_vs_python_scan(spark, sf_dir):
    from bigarrays_jl_spark.operators.events_cep import (ABSENCE_T_S,
                                                         events_absence_match)
    from bigarrays_jl_spark.sources.tables import load
    rows = (load(spark, sf_dir, "events")
            .select("user_id", "event_id", "event_type",
                    F.col("ts").cast("long").alias("sec")).collect())
    views = [r for r in rows if r["event_type"] == "view"]
    purch = {}
    for r in rows:
        if r["event_type"] == "purchase":
            purch.setdefault(r["user_id"], []).append(r["sec"])
    want = {}
    for r in views:
        hit = any(r["sec"] < p <= r["sec"] + ABSENCE_T_S
                  for p in purch.get(r["user_id"], []))
        if not hit:
            n, first = want.get(r["user_id"], (0, None))
            want[r["user_id"]] = (n + 1, r["event_id"] if first is None
                                  else min(first, r["event_id"]))
    got = {r["user_id"]: (r["n_abandoned"], r["first_abandoned"])
           for r in events_absence_match(spark, sf_dir).collect()}
    assert got == want and want
    # scale pin: no nested-loop product anywhere — the range-anti is
    # expressed as bucketed equi joins
    plan = formatted_plan(events_absence_match(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_tpch_deep_plan_shapes(spark, sf_dir):
    # Q2: dim chain broadcasts into the cost-relation scan; the
    # decorrelated min joins per-part — never a cartesian
    q50 = q50_min_cost_supplier(spark, sf_dir)
    assert has_broadcast_join(q50)
    assert "CartesianProduct" not in formatted_plan(q50)
    # Q15: revenue view aggregates map-side; winners broadcast
    q51 = q51_top_supplier(spark, sf_dir)
    assert has_partial_aggregation(q51)
    assert has_broadcast_join(q51)
    assert "CartesianProduct" not in formatted_plan(q51)
    # Q18: the grouped-threshold side grows with the fact table, so it
    # must NEVER be the broadcast build side (Catalyst may legitimately
    # broadcast the small dims at test SF — that choice is stats-driven
    # and flips to shuffle joins at scale; broadcasting the AGGREGATE
    # would be a plan bug at any stats).  Scan each BroadcastExchange
    # subtree for an aggregate.
    from bigarrays_jl_spark.plans.explain import simple_plan
    q52 = q52_large_orders(spark, sf_dir)
    plan = simple_plan(q52)
    assert "CartesianProduct" not in plan
    assert has_partial_aggregation(q52)
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "BroadcastExchange" not in line:
            continue
        indent = len(line) - len(line.lstrip(" :+-"))
        for sub in lines[i + 1:]:
            if len(sub) - len(sub.lstrip(" :+-")) <= indent:
                break
            assert "HashAggregate" not in sub, plan


def test_tpch_shapes_plans_and_semantics(spark, sf_dir):
    from bigarrays_jl_spark.operators.tpch_shapes import (
        q55_order_count_dist, q56_bracket_revenue,
        q57_excess_stock_suppliers)
    # Q13: the join-condition filter must preserve zero-order
    # customers — total custdist mass == |customers|
    from bigarrays_jl_spark.sources.tables import load
    dist = q55_order_count_dist(spark, sf_dir)
    n_cust = load(spark, sf_dir, "customer").count()
    assert sum(r["custdist"] for r in dist.collect()) == n_cust
    assert dist.filter(F.col("c_count") == 0).count() >= 0  # bucket legal
    # Q19: the disjunctive join must stay HASH — Catalyst extracts the
    # common equi conjunct; a nested loop here is the classic Q19 bug
    q56 = q56_bracket_revenue(spark, sf_dir)
    p56 = formatted_plan(q56)
    assert "BroadcastNestedLoopJoin" not in p56, p56
    assert "CartesianProduct" not in p56, p56
    assert has_broadcast_join(q56)
    # Q20: semi-join chain — supplier side is a semi join, no cartesian
    q57 = q57_excess_stock_suppliers(spark, sf_dir)
    p57 = formatted_plan(q57)
    assert "CartesianProduct" not in p57, p57
    assert "LeftSemi" in p57, p57


def test_connected_components_vs_python_bfs(spark, tmp_path):
    # adversarial noise volume: interleaved labels, many components
    # spanning chunk boundaries, same-label disconnected regions
    import numpy as np

    from bigarrays_jl_spark.infos import Info
    from bigarrays_jl_spark.operators.volume_components import (
        connected_components)
    from bigarrays_jl_spark.volume import Volume

    side = 32
    info = Info.from_dict({
        "num_channels": 1, "type": "segmentation", "data_type": "uint32",
        "scales": [{"encoding": "gzip", "chunk_sizes": [[16, 16, 16]],
                    "key": "1_1_1", "resolution": [1, 1, 1],
                    "voxel_offset": [0, 0, 0], "size": [side] * 3}]})
    vol = Volume.create(spark, str(tmp_path / "vol"), info)
    x, y, z = np.meshgrid(*([np.arange(side)] * 3), indexing="ij")
    v = (3 * x + 5 * y + 7 * z) % 11
    labels = np.where(v < 4, v % 2 + 1, 0).astype(np.uint32)
    vol.write(labels, (0, 0, 0))

    got = {(r["component_id"], r["label"], r["n_voxels"])
           for r in connected_components(vol).collect()}

    # pure-Python BFS oracle
    from collections import deque
    seen = np.zeros(labels.shape, dtype=bool)
    want = set()
    for sx in range(side):
        for sy in range(side):
            for sz in range(side):
                if labels[sx, sy, sz] == 0 or seen[sx, sy, sz]:
                    continue
                lab = labels[sx, sy, sz]
                q = deque([(sx, sy, sz)])
                seen[sx, sy, sz] = True
                n, mn = 0, None
                while q:
                    cx, cy, cz = q.popleft()
                    n += 1
                    lin = cx * side * side + cy * side + cz
                    mn = lin if mn is None else min(mn, lin)
                    for dx, dy, dz in ((1, 0, 0), (-1, 0, 0), (0, 1, 0),
                                       (0, -1, 0), (0, 0, 1), (0, 0, -1)):
                        nx, ny, nz = cx + dx, cy + dy, cz + dz
                        if (0 <= nx < side and 0 <= ny < side
                                and 0 <= nz < side and not seen[nx, ny, nz]
                                and labels[nx, ny, nz] == lab):
                            seen[nx, ny, nz] = True
                            q.append((nx, ny, nz))
                want.add((mn, int(lab), n))
    assert len(want) > 50, "oracle volume must be adversarial"
    assert got == want


def test_events_kleene_match_vs_python_scan(spark, sf_dir):
    from bigarrays_jl_spark.operators.events_cep import (KLEENE_MIN_VIEWS,
                                                         PATTERN_GAP_S,
                                                         events_kleene_match)
    from bigarrays_jl_spark.sources.tables import load
    rows = (load(spark, sf_dir, "events")
            .select("user_id", "event_id", "event_type",
                    F.col("ts").cast("long").alias("sec")).collect())
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(
            (r["sec"], r["event_id"], r["event_type"]))
    want = {}
    for uid, evs in by_user.items():
        evs.sort()
        runs = []
        i = 0
        while i < len(evs):
            if evs[i][2] != "view":
                i += 1
                continue
            j = i
            while (j + 1 < len(evs) and evs[j + 1][2] == "view"
                   and evs[j + 1][0] - evs[j][0] <= PATTERN_GAP_S):
                j += 1
            # maximal view run evs[i..j]; next event must be a click
            # within the gap bound
            n = j - i + 1
            if (n >= KLEENE_MIN_VIEWS and j + 1 < len(evs)
                    and evs[j + 1][2] == "click"
                    and evs[j + 1][0] - evs[j][0] <= PATTERN_GAP_S):
                runs.append((n, min(e[1] for e in evs[i:j + 1])))
            i = j + 1
        if runs:
            want[uid] = (len(runs), sum(n for n, _ in runs),
                         min(s for _, s in runs))
    got = {r["user_id"]: (r["n_runs"], r["views_in_runs"],
                          r["first_run_event"])
           for r in events_kleene_match(spark, sf_dir).collect()}
    assert got == want and want


def test_asof_nearest_tie_breaks_backward(spark, tmp_path):
    # exact tie (clicks 10 s before AND after) must pick the EARLIER
    # click — the pandas merge_asof 'nearest' convention the module
    # pins; also: forward ignores past clicks, backward-only user gets
    # NULL forward
    import datetime as dt

    from bigarrays_jl_spark.operators.asof_directions import (
        q58_asof_forward, q59_asof_nearest)
    t0 = dt.datetime(2020, 1, 1)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    rows = [
        (1, 10, "click", ts(90)), (1, 11, "purchase", ts(100)),
        (1, 12, "click", ts(110)),                   # exact tie
        (2, 20, "click", ts(50)), (2, 21, "purchase", ts(100)),  # past only
        (3, 30, "purchase", ts(100)), (3, 31, "click", ts(130)),  # next only
    ]
    (spark.createDataFrame(
        rows, "user_id long, event_id long, event_type string, ts timestamp")
     .coalesce(1).write.parquet(str(tmp_path / "events.parquet")))
    sf = str(tmp_path)
    near = {r["event_id"]: (r["nearest_click"], r["gap_seconds"])
            for r in q59_asof_nearest(spark, sf).collect()}
    t0s = int(t0.timestamp())
    assert near[11] == (t0s + 90, 10)      # tie -> backward
    assert near[21] == (t0s + 50, 50)
    assert near[30] == (t0s + 130, 30)
    fwd = {r["event_id"]: r["next_click"]
           for r in q58_asof_forward(spark, sf).collect()}
    assert fwd[11] == t0s + 110
    assert fwd[21] is None
    assert fwd[30] == t0s + 130
