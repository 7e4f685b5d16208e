"""Same-window A/B of the driver-local cutout and write for two source trees.

Each run is a fresh child process that imports the engine from one
tree and replays the ``array_rw`` benchmark plan for a seed
(``perfbench/array_rw.py``: a 256x256x320 uint8 gzip volume, cycles of
85 unaligned cutouts and 15 chunk-aligned overwrites, auto-compaction
at 16 epochs).  It stages the volume, warms up the way ``array_rw``
does, then runs whole cycle pairs, checking every cutout against a
numpy mirror.  For each pair it reports the mean driver CPU per cutout
(process CPU of the driver Python process, all threads), split into:

- scan:   CPU inside ``Volume._read_latest_local``, which finds the
          chunks' rows and reads their payloads;
- decode: thread CPU inside codec ``decode`` calls, summed over the
          decode pool's threads;
- place:  the rest (key parsing, reshape, copies into the output,
          thread-pool overhead).

It also reports the mean process-tree CPU (``perfbench/common.TreeCPU``:
the driver, the Spark JVM and its Python workers) per plain write and
per compacting write, the write that reaches the auto-compaction
threshold and runs ``Volume.compact``.

The parent alternates the two trees, rotating which goes first on each
repetition, keeps each tree's cheapest pair over all its runs
(best-of-N over whole pairs, the least disturbed by other guests on a
shared host) and prints it with the B/A ratio: the cutout split comes
from the pair with the cheapest cutouts, each write figure is its own
minimum over pairs.

Usage::

    python tools/ab_cutout.py TREE_A TREE_B [--reps 3] [--pairs 3]
                              [--seed 301] [--cores 4]

TREE_A and TREE_B are source checkouts holding ``bigarrays_jl_spark``
(for example a ``git archive`` of the parent commit and this tree).
The ``array_rw`` plan is always taken from this tree's ``perfbench``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import threading
import time
import types

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPLIT = ("cutout_ms", "scan_ms", "decode_ms", "place_ms")
WRITES = ("write_ms", "compact_write_ms")


def child(tree: str, seed: int, pairs: int, work: str) -> dict:
    """One run in this process: engine from ``tree``; per-pair split."""
    sys.path.insert(0, os.path.abspath(tree))
    sys.path.insert(1, os.path.join(HERE, "perfbench"))
    import numpy as np

    import array_rw as aw
    from common import TreeCPU

    from bigarrays_jl_spark import codecs
    from bigarrays_jl_spark.session import get_spark
    from bigarrays_jl_spark.volume import Volume

    lock = threading.Lock()
    acc = {"scan": 0.0, "decode": 0.0}

    class TimedCodec:
        def __init__(self, codec):
            self._codec = codec

        def __getattr__(self, attr):
            return getattr(self._codec, attr)

        def decode(self, data, **kw):
            t0 = time.thread_time()
            out = self._codec.decode(data, **kw)
            dt = time.thread_time() - t0
            with lock:
                acc["decode"] += dt
            return out

    get_codec = codecs.get_codec
    codecs.get_codec = lambda enc: TimedCodec(get_codec(enc))
    read_latest = Volume._read_latest_local

    def timed_read(self, *a, **kw):
        t0 = time.process_time()
        out = read_latest(self, *a, **kw)
        acc["scan"] += time.process_time() - t0
        return out

    Volume._read_latest_local = timed_read
    compact = Volume.compact
    compactions = [0]

    def counted_compact(self, *a, **kw):
        compactions[0] += 1
        return compact(self, *a, **kw)

    Volume.compact = counted_compact
    tree = TreeCPU()

    spark = get_spark("ab_cutout")
    try:
        rng = np.random.default_rng(seed)
        original = np.zeros(aw.SHAPE, dtype=np.uint8)
        original[:, :, :aw.FILLED_Z] = aw.content(
            rng, ((0, aw.SHAPE[0]), (0, aw.SHAPE[1]), (0, aw.FILLED_Z)),
            phase=0)
        pair = aw.plan_pair(rng, original)
        vol = aw.stage(types.SimpleNamespace(spark=spark),
                       os.path.join(work, "vol"), original)
        cutouts = [op[1] for op in pair if op[0] == "cutout"]
        for op in [op for op in pair if op[0] == "write"][
                aw.WRITES_PER_CYCLE:]:
            vol.write(op[2], op[1])
        for box in cutouts[:20]:
            vol.cutout(box)

        mirror, out, failed = original.copy(), [], 0
        for _ in range(pairs):
            tot = scan = dec = 0.0
            writes = {"write_ms": [], "compact_write_ms": []}
            for op in pair:
                if op[0] == "write":
                    _, off, arr = op
                    n0 = compactions[0]
                    c0 = tree.now(opening=True)
                    vol.write(arr, off)
                    dc = tree.now(opening=False) - c0
                    kind = ("compact_write_ms" if compactions[0] > n0
                            else "write_ms")
                    writes[kind].append(dc * 1e3)
                    mirror[tuple(slice(o, o + s)
                                 for o, s in zip(off, arr.shape))] = arr
                    continue
                acc["scan"] = acc["decode"] = 0.0
                t0 = time.process_time()
                arr, _ = vol.cutout(op[1])
                tot += time.process_time() - t0
                scan += acc["scan"]
                dec += acc["decode"]
                failed += not np.array_equal(
                    arr, aw.expected_cutout(mirror, op[1]))
            n = len(cutouts)
            out.append({"cutout_ms": tot / n * 1e3, "scan_ms": scan / n * 1e3,
                        "decode_ms": dec / n * 1e3,
                        "place_ms": (tot - scan - dec) / n * 1e3,
                        **{k: sum(v) / len(v) for k, v in writes.items()}})
        return {"pairs": out, "failed_cutouts": failed}
    finally:
        spark.stop()


def run_child(tree: str, args) -> dict:
    work = tempfile.mkdtemp(prefix="ab_cutout_")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(args.cores),
               SPARK_GRAFT_DRIVER_MEM=os.environ.get(
                   "SPARK_GRAFT_DRIVER_MEM", "2g"),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
               TMPDIR=work)
    try:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--child", tree,
             "--seed", str(args.seed), "--pairs", str(args.pairs),
             "--work", work],
            env=env, capture_output=True, text=True, check=False)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"run of {tree} failed ({proc.returncode})")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def fmt(rec: dict) -> str:
    return "  ".join(f"{rec[k]:8.2f}" for k in SPLIT)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("trees", nargs="*")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--seed", type=int, default=301)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--child")
    ap.add_argument("--work")
    args = ap.parse_args(argv)

    if args.child:
        real_stdout, sys.stdout = sys.stdout, sys.stderr
        res = child(args.child, args.seed, args.pairs, args.work)
        print(json.dumps(res), file=real_stdout)
        return 0

    if len(args.trees) != 2:
        ap.error("give two source trees")
    names = {"A": args.trees[0], "B": args.trees[1]}
    best: dict[str, dict] = {}
    wbest: dict[str, dict] = {"A": {}, "B": {}}
    for rep in range(args.reps):
        for name in ("AB" if rep % 2 == 0 else "BA"):
            res = run_child(names[name], args)
            if res["failed_cutouts"]:
                raise SystemExit(f"{names[name]}: {res['failed_cutouts']} "
                                 "cutouts differ from the mirror")
            for p in res["pairs"]:
                if name not in best or p["cutout_ms"] < best[name]["cutout_ms"]:
                    best[name] = p
                for k in WRITES:
                    wbest[name][k] = min(wbest[name].get(k, p[k]), p[k])
            print(f"rep {rep} {name}: " + " ".join(
                f"{p['cutout_ms']:.2f}/{p['write_ms']:.1f}/"
                f"{p['compact_write_ms']:.1f}" for p in res["pairs"])
                + " ms per cutout/write/compacting write, per pair",
                file=sys.stderr, flush=True)

    print(f"driver CPU per cutout, best pair of {args.reps} runs x "
          f"{args.pairs} pairs, seed {args.seed}, local[{args.cores}]")
    print("tree  " + "  ".join(f"{k:>8}" for k in SPLIT))
    for name in "AB":
        print(f"{name}     {fmt(best[name])}   {names[name]}")
    ratio = best["B"]["cutout_ms"] / best["A"]["cutout_ms"]
    print(f"B/A cutout CPU: {ratio:.3f}")
    print("process-tree CPU per write (ms), best pair")
    print("tree  " + "  ".join(f"{k:>16}" for k in WRITES))
    for name in "AB":
        print(f"{name}     " + "  ".join(f"{wbest[name][k]:16.1f}"
                                        for k in WRITES))
    print("B/A  " + "  ".join(
        f"{wbest['B'][k] / wbest['A'][k]:17.3f}" for k in WRITES))
    return 0


if __name__ == "__main__":
    sys.exit(main())
