"""Verdict arithmetic of tools/ab_perfbench.py on synthetic numbers (no
Spark, no benchmark run)."""

import json
import os

from tools.ab_perfbench import compare, failures, quartiles, render, summarize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_quartiles():
    assert quartiles([1.0, 2.0, 3.0, 4.0, 5.0]) == (2.0, 3.0, 4.0)
    assert quartiles([7.0]) == (7.0, 7.0, 7.0)


def test_claim_needs_nine_tenths_of_the_pairs_and_a_gap_wider_than_the_iqr():
    parent = [100.0, 101, 102, 103, 104, 105, 106, 107, 108, 109]
    # 10/10 wins, medians 104.5 → 84.5, parent IQR 4.5
    c = compare([(p, p - 20) for p in parent], "lower", 0.25)
    assert (c["wins"], c["pairs"], c["claim"]) == (10, 10, True)
    assert c["parent_iqr"] == 4.5 and c["regression"] == "ok"
    # 9/10 wins still claims; 8/10 does not
    nine = [(p, p - 20) for p in parent[:9]] + [(109.0, 130.0)]
    assert compare(nine, "lower", 0.25)["claim"]
    eight = [(p, p - 20) for p in parent[:8]] + [(108.0, 130.0),
                                                 (109.0, 130.0)]
    assert not compare(eight, "lower", 0.25)["claim"]
    # every pair won, but by less than the parent's spread
    small = compare([(p, p - 1) for p in parent], "lower", 0.25)
    assert small["wins"] == 10 and not small["claim"]


def test_ties_count_for_neither_side():
    c = compare([(5.0, 5.0)] * 10, "lower", 0.25)
    assert c["wins"] == 0 and not c["claim"] and c["regression"] == "ok"


def test_higher_is_better_metrics_flip_the_direction():
    up = compare([(10.0, 20.0)] * 10, "higher", 0.25)
    assert up["wins"] == 10 and up["claim"]
    down = compare([(20.0, 10.0)] * 10, "higher", 0.25)
    assert down["wins"] == 0 and down["regression"] == "REGRESSED"


def test_regression_against_the_bound():
    assert compare([(100.0, 124.0)] * 6, "lower", 0.25)["regression"] == "ok"
    assert compare([(100.0, 126.0)] * 6, "lower", 0.25)["regression"] \
        == "REGRESSED"
    # parent spread (IQR 40 over median 100) wider than the bound: a
    # median within the bound is unresolved, not unchanged ...
    wide = [60.0, 80.0, 100.0, 120.0, 140.0]
    c = compare([(p, p + 5) for p in wide], "lower", 0.25)
    assert c["parent_iqr"] == 40.0 and c["regression"] == "unresolved"
    # ... unless every change run reads better than every parent run
    c = compare([(p, 50.0) for p in wide], "lower", 0.25)
    assert c["regression"] == "ok"


def _run(side, failed=0, correct=True):
    return {"side": side, "result": {"failed": failed, "attempted": 10,
                                     "correct": correct}}


def test_failed_share_and_runs_without_a_result():
    runs = [_run("parent"), _run("change")]
    assert not failures(runs)["regressed"]
    worse = runs + [{"side": "change", "result": None}]
    f = failures(worse)
    assert f["change"] == {"failed": 1, "attempted": 11, "incorrect": 1,
                           "runs": 2} and f["regressed"]


def test_a_run_that_drifted_regresses_with_no_failed_operation():
    # correct is false with 0 failed operations when a run's results
    # drift between repeated seeds
    drift = [_run("parent"), _run("parent"),
             _run("change"), _run("change", correct=False)]
    f = failures(drift)
    assert f["change"]["failed"] == f["parent"]["failed"] == 0
    assert (f["parent"]["incorrect"], f["change"]["incorrect"]) == (0, 1)
    assert f["regressed"]
    assert "runs not correct: parent 0/2, change 1/2; REGRESSED" in render(
        {"w": {"metrics": {}, "failures": f}}, {"end_to_end": []})
    # as many incorrect runs on the parent's side is no regression
    even = drift[1:] + [_run("parent", correct=False)]
    assert not failures(even)["regressed"]


def test_summarize_pairs_sides_by_pair_and_renders_every_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["end_to_end"]]

    def result(v):
        return {"correct": True, "failed": 0, "attempted": 4,
                "metrics": {n: {"value": v} for n in names}}

    runs = []
    for i in range(4):
        runs.append({"workload": "w", "pair": i, "side": "parent",
                     "result": result(10.0 + i)})
        runs.append({"workload": "w", "pair": i, "side": "change",
                     "result": result(20.0 + i) if i < 3 else None})
    s = summarize(runs, spec)["w"]
    # the pair whose change run printed nothing is left out
    assert {n: c["pairs"] for n, c in s["metrics"].items()} \
        == {n: 3 for n in names}
    assert all(c["regression"] == "REGRESSED" for c in s["metrics"].values())
    assert s["failures"]["regressed"]
    text = render({"w": s}, spec)
    assert all(f"w {n} " in text for n in names)
