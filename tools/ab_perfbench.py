"""Alternating parent/change runs of the benchmark, judged by the
simplicity-review rules.

    python tools/ab_perfbench.py --parent REV --pairs N --seeds 21 22 23 \\
        [--out RUNS.jsonl]
    python tools/ab_perfbench.py --summarize RUNS.jsonl

Runs the command of ``BENCHMARK.json`` (``perfbench/run.py``) with
``--trace 0`` on two copies made under ``--work``: a ``git archive`` of
``--parent`` and the working tree (tracked and untracked files that git
does not ignore), for every workload and the run length
(``run_seconds``) that ``BENCHMARK.json`` sets.  Pair ``i`` of each
workload uses seed
``seeds[i % len(seeds)]`` on both sides and runs the parent first when
``i`` is even, the change first when it is odd.  Each run appends one
JSON line to ``--out``; ``--summarize`` reads such a file again.

For each workload and end-to-end metric of ``BENCHMARK.json`` it prints
each side's quartiles and median, the pairs the change wins (ties count
for neither side) and the parent's interquartile range, then two
verdicts:

- ``claim``: the change wins at least nine tenths of the pairs and its
  median is better than the parent's by more than the parent's
  interquartile range;
- ``no regression``: ``ok`` when the change's median is no worse than
  the parent's by more than the metric's bound; ``REGRESSED`` when it
  is; ``unresolved`` when the parent's own spread (interquartile range
  over median) is wider than the bound, unless every change run reads
  better than every parent run.

Last it prints the failed and attempted operations of each side and
the runs of each side that were not ``correct`` (the run failed an
operation or its results drifted between repeated seeds, or it printed
no result); a change that fails a larger share of operations, or has
more runs that were not correct, regresses.  Nothing under
``perfbench/`` is edited.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SIDES = ("parent", "change")


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(lower quartile, median, upper quartile) of ``xs``."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def _gain(parent: float, change: float, better: str) -> float:
    """How much better ``change`` reads than ``parent`` (negative when
    worse), in the metric's unit."""
    return parent - change if better == "lower" else change - parent


def compare(pairs: list[tuple[float, float]], better: str,
            bound: float) -> dict:
    """Verdicts on one metric of one workload from its ``(parent,
    change)`` value pairs; ``bound`` is the worsening of the median,
    as a fraction of the parent's, that counts as a regression."""
    par = [p for p, _ in pairs]
    chg = [c for _, c in pairs]
    pq, cq = quartiles(par), quartiles(chg)
    iqr = pq[2] - pq[0]
    wins = sum(_gain(p, c, better) > 0 for p, c in pairs)
    gain = _gain(pq[1], cq[1], better)
    claim = 10 * wins >= 9 * len(pairs) and gain > iqr
    if pq[1]:
        worse, spread = -gain / abs(pq[1]), iqr / abs(pq[1])
    else:
        worse = 0.0 if gain >= 0 else float("inf")
        spread = 0.0 if iqr == 0 else float("inf")
    every_run_better = all(_gain(p, c, better) > 0 for p in par for c in chg)
    if worse > bound:
        verdict = "REGRESSED"
    elif spread > bound and not every_run_better:
        verdict = "unresolved"
    else:
        verdict = "ok"
    return {"parent": pq, "change": cq, "parent_iqr": iqr, "wins": wins,
            "pairs": len(pairs), "claim": claim, "regression": verdict}


def failures(runs: list[dict]) -> dict:
    """Failed and attempted operations and runs not ``correct`` per
    side, and whether the change fails a larger share of operations or
    has more incorrect runs than the parent (a run that printed no
    result counts as one failed operation and as an incorrect run)."""
    out = {}
    for side in SIDES:
        mine = [r.get("result") for r in runs if r["side"] == side]
        out[side] = {
            "failed": sum(1 if r is None else r["failed"] for r in mine),
            "attempted": sum(1 if r is None else r["attempted"]
                             for r in mine),
            "incorrect": sum(r is None or not r["correct"] for r in mine),
            "runs": len(mine)}
    share = {s: out[s]["failed"] / max(1, out[s]["attempted"]) for s in SIDES}
    out["regressed"] = (share["change"] > share["parent"]
                        or out["change"]["incorrect"]
                        > out["parent"]["incorrect"])
    return out


def summarize(runs: list[dict], spec: dict) -> dict:
    """Per workload: ``compare`` of every end-to-end metric over the
    pairs both sides completed, and ``failures``."""
    out = {}
    for w in dict.fromkeys(r["workload"] for r in runs):
        mine = [r for r in runs if r["workload"] == w]
        by_pair = {}
        for r in mine:
            if r.get("result") is not None:
                by_pair.setdefault(r["pair"], {})[r["side"]] = \
                    r["result"]["metrics"]
        done = [v for _, v in sorted(by_pair.items()) if len(v) == 2]
        metrics = {}
        for m in spec["end_to_end"]:
            name = m["name"]
            pairs = [(v["parent"][name]["value"], v["change"][name]["value"])
                     for v in done if name in v["parent"]]
            if pairs:
                metrics[name] = compare(pairs, m["better"], m["bound"])
        out[w] = {"metrics": metrics, "failures": failures(mine)}
    return out


def render(summary: dict, spec: dict) -> str:
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}

    def q(t):
        return "/".join(f"{x:.4g}" for x in t)

    lines = []
    for w, s in summary.items():
        for name, c in s["metrics"].items():
            lines.append(
                f"{w} {name} ({units[name]}): parent q1/med/q3 "
                f"{q(c['parent'])}, change {q(c['change'])}; change wins "
                f"{c['wins']}/{c['pairs']}, parent IQR "
                f"{c['parent_iqr']:.4g}; claim "
                f"{'met' if c['claim'] else 'not met'}; no regression: "
                f"{c['regression']}")
        f = s["failures"]
        lines.append(
            f"{w} failed operations: parent {f['parent']['failed']}/"
            f"{f['parent']['attempted']}, change {f['change']['failed']}/"
            f"{f['change']['attempted']}; runs not correct: parent "
            f"{f['parent']['incorrect']}/{f['parent']['runs']}, change "
            f"{f['change']['incorrect']}/{f['change']['runs']}"
            + ("; REGRESSED" if f["regressed"] else ""))
    return "\n".join(lines)


def _parent_tree(rev: str, dest: str) -> None:
    tar = subprocess.run(["git", "archive", rev], cwd=ROOT, check=True,
                         capture_output=True).stdout
    with tarfile.open(fileobj=io.BytesIO(tar)) as t:
        t.extractall(dest, filter="data")


def _working_tree(dest: str) -> None:
    names = subprocess.run(
        ["git", "ls-files", "-z", "-co", "--exclude-standard"], cwd=ROOT,
        check=True, capture_output=True, text=True).stdout.split("\0")
    for name in filter(None, names):
        src = os.path.join(ROOT, name)
        if os.path.isfile(src):
            os.makedirs(os.path.dirname(os.path.join(dest, name)),
                        exist_ok=True)
            shutil.copy2(src, os.path.join(dest, name))


def run_once(command: list[str], tree: str, workload: str, seed: int,
             seconds: float) -> dict | None:
    """The last JSON line one benchmark run prints, or None (its stderr
    tail goes to ours) when it prints none."""
    proc = subprocess.run(
        [*command, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, capture_output=True, text=True)
    for line in reversed(proc.stdout.splitlines()):
        try:
            return json.loads(line)
        except json.JSONDecodeError:
            continue
    sys.stderr.write(proc.stderr[-2000:])
    return None


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", default="HEAD",
                    help="revision the working tree is compared with")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seeds", type=int, nargs="+", default=[21])
    ap.add_argument("--work", help="where the two copies go "
                                   "(a new temporary directory by default)")
    ap.add_argument("--out", help="JSON lines of every run")
    ap.add_argument("--summarize", metavar="RUNS.jsonl",
                    help="print the verdicts of earlier runs and exit")
    ns = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if ns.summarize:
        with open(ns.summarize) as f:
            runs = [json.loads(line) for line in f if line.strip()]
        print(render(summarize(runs, spec), spec))
        return
    work = ns.work or tempfile.mkdtemp(prefix="ab_perfbench_")
    trees = {s: os.path.join(work, s) for s in SIDES}
    for tree in trees.values():
        shutil.rmtree(tree, ignore_errors=True)
    _parent_tree(ns.parent, trees["parent"])
    _working_tree(trees["change"])
    workloads = [w["name"] for w in spec["workloads"]]
    runs = []
    for i in range(ns.pairs):
        seed = ns.seeds[i % len(ns.seeds)]
        order = SIDES if i % 2 == 0 else SIDES[::-1]
        for w in workloads:
            for side in order:
                rec = {"workload": w, "pair": i, "side": side, "seed": seed,
                       "first": order[0],
                       "result": run_once(spec["command"], trees[side], w,
                                          seed, spec["run_seconds"])}
                runs.append(rec)
                if ns.out:
                    with open(ns.out, "a") as f:
                        f.write(json.dumps(rec, sort_keys=True) + "\n")
                print(f"pair {i} {w} {side} seed {seed}: "
                      + ("no result" if rec["result"] is None else
                         json.dumps(rec["result"]["metrics"])),
                      file=sys.stderr, flush=True)
    print(render(summarize(runs, spec), spec))


if __name__ == "__main__":
    main()
