"""Benchmark of the bigarrays_jl_spark engine.

Usage (from the root of a source checkout):

    python3 perfbench/run.py --workload array_rw --seed 1 --seconds 30 --trace 0

Workloads (see ``BENCHMARK.json`` for why each exists):

- ``array_rw``: driver-array cutouts and chunk-aligned overwrites on a
  local gzip volume, with auto-compaction;
- ``spark_jobs``: the 16 headline registry queries on tables generated
  from the seed, with ``voxels()`` scans through the epoch dedupe and
  Spark-path cutouts on a volume staged by ``ingest_chunks``.

Each run starts Spark ``local[4]``, generates its inputs from ``--seed``,
warms up, runs its closed loop (one client, one operation at a time)
for ``--seconds`` (``METRICS.md`` says where each workload stops),
checks every output, and prints one JSON line last on stdout.  With
``--trace 0`` it holds the end-to-end metrics of ``BENCHMARK.json``,
CPU seconds of the whole process tree (see ``METRICS.md`` for why);
with ``--trace 1`` the per-layer metrics, measured by wrapping each
layer's public functions and reading Spark's status stores.  The line
before it holds the workload's own named metrics, the exact counts of
the determinism self-check and the run environment.

Everything the run writes stays under ``.bench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import platform
import shutil
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("array_rw", "spark_jobs")
# the engine sources the benchmark drives; without them there is nothing
# to measure and the run fails before printing a result
REQUIRED = ("bigarrays_jl_spark/__init__.py", "bigarrays_jl_spark/volume.py",
            "bench.py", "tools/check_oracle.py", "tools/gen_scale_data.py")
CORES = "4"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(work: str) -> None:
    """Point every temp and scratch location of Python, the JVM, Spark
    and DuckDB into ``work`` before any of them starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = CORES
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")


def code_hash() -> str:
    """Digest of the engine and benchmark sources: determinism records
    are only compared between runs of identical code."""
    h = hashlib.sha256()
    paths = []
    for top in ("bigarrays_jl_spark", "perfbench", "tools"):
        for d, dirs, names in os.walk(os.path.join(ROOT, top)):
            dirs[:] = sorted(x for x in dirs if x != "__pycache__")
            paths += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith(".py")]
    for p in paths + [os.path.join(ROOT, "BENCHMARK.json")]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def environment(spark) -> dict:
    import numpy
    import pyarrow
    import pyspark
    return {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_memory": spark.sparkContext.getConf().get(
            "spark.driver.memory", None),
        "master": spark.sparkContext.master,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        with contextlib.suppress(Exception):
            gw.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort, never leave it running
            proc.kill()
            proc.wait(timeout=30)


def load_state() -> dict:
    """Records earlier runs in this checkout left under ``.bench_work``."""
    path = os.path.join(ROOT, ".bench_work", "state.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def save_state(state: dict) -> None:
    path = os.path.join(ROOT, ".bench_work", "state.json")
    with open(path + ".tmp", "w") as f:
        json.dump(state, f, sort_keys=True)
    os.replace(path + ".tmp", path)


def check_determinism(state: dict, key: str, units: list[dict]) -> list[str]:
    """The exact counts of every repeated unit must equal the first
    unit's, and the first unit's must equal what an earlier run of the
    same code, workload, seed and trace mode recorded."""
    drift = [f"unit {i}: {u} != {units[0]}"
             for i, u in enumerate(units[1:], 1) if u != units[0]]
    if units:
        first = json.loads(json.dumps(units[0]))
        seen = state.setdefault("determinism", {})
        if key in seen and seen[key] != first:
            drift.append(f"earlier run: {seen[key]} != {first}")
        seen.setdefault(key, first)
    return drift


def tracing_overhead(state: dict, key: str, traced: dict, trace: int):
    """Untraced runs record their end-to-end values; a traced run of the
    same code and seed reports its own next to them and the relative
    difference, which is the cost of tracing."""
    runs = state.setdefault("untraced_e2e", {})
    if not trace:
        runs[key] = traced
        return None
    base = runs.get(key)
    if base is None:
        return {"traced": traced, "untraced": None}
    return {"traced": traced, "untraced": base,
            "overhead": {k: v / base[k] - 1 for k, v in traced.items()
                         if isinstance(v, float) and base.get(k)}}


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops the JVM it started (see the finally
    # below); Python's default action on SIGTERM skips it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"error: engine sources not found under {ROOT}: {missing}",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    isolate(work)
    sys.path.insert(0, ROOT)
    # keep stdout for the result lines: engine and generator chatter
    # goes to stderr
    real_stdout = sys.stdout
    sys.stdout = sys.stderr
    spark = None
    try:
        import importlib

        from common import Context, Stopwatch, TreeCPU, layer_metrics, part
        from tracing import SparkProbe, Tracer

        cpu = TreeCPU()
        with Stopwatch(cpu) as session:
            from bigarrays_jl_spark.session import get_spark
            spark = get_spark(f"perfbench-{args.workload}")
            spark.range(1).count()
        env = environment(spark)

        tracer = probe = None
        if args.trace:
            tracer, probe = Tracer(), SparkProbe(spark)
            tracer.install(probe)
        ctx = Context(spark, args.seed, args.seconds, work, ROOT, tracer, probe,
                      cpu)
        mod = importlib.import_module(args.workload)
        res = mod.run(ctx)
        setup = dict(session=part(session), **res["setup"])
        setup_s = sum(p["cpu_s"] for p in setup.values())
        layers = None
        if args.trace:
            ctx.collect_spark()
            layers = layer_metrics(ctx, res["units"])
            layers.update(res.get("layers", {}))
            layers["session.start_s"] = session.wall_s
            tracer.unpatch_all()
        state = load_state()
        key = f"{code_hash()}/{args.workload}/{args.seed}"
        drift = check_determinism(state, f"{key}/{args.trace}", ctx.units)
        overhead = tracing_overhead(
            state, key, dict(res["e2e"], setup_s=setup_s, **res["named"]),
            args.trace)
        save_state(state)
        for d in drift:
            print(f"DETERMINISM DRIFT ({args.workload}, seed {args.seed}): {d}",
                  file=sys.stderr)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        sys.stdout = real_stdout

    source = layers if args.trace else res["e2e"]
    source = dict(source, setup_s=setup_s)
    metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in wanted}
    detail = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "units": res["units"],
              "setup_wall_s": sum(p["wall_s"] for p in setup.values()),
              "setup": setup,
              "named": res["named"], "determinism": ctx.units[:1],
              "determinism_ok": not drift, "env": env}
    if overhead is not None:
        detail["tracing"] = overhead
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps({"correct": ctx.failed == 0 and not drift,
                      "attempted": max(1, ctx.attempted),
                      "failed": ctx.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
