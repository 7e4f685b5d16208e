"""spark_jobs: work that Spark does end to end, with no driver-local IO.

Set-up generates the registry tables with ``tools/gen_scale_data.py``
(its seed taken from the benchmark's), computes every headline query's
DuckDB oracle signature, and stages a uint8 gzip volume through the
distributed write path: ``ingest_chunks`` of a raw-chunk parquet, then
a second ``ingest_chunks`` overwriting a seeded quarter of the chunks,
so that reads go through the ``_latest`` epoch dedupe.  Generating the
tables and ingesting the volume warm the session up.

A timed pass runs the 16 ``bench.HEADLINE`` queries, each built (eager
checkpoints run here) and collected, with the volume operations
between them: ``voxels().agg(sum(value))``, ``voxels(sub_box)`` summing
``x+y+z+value``, and two Spark-path cutouts (``local_io`` off, the path
of every s3a or gs dataset).  Outside the timed windows each query's
table signature is checked against its oracle, each scan sum against
numpy and each cutout against the numpy volume.  Passes repeat until
the run's time is up; the end-to-end metrics come from the first pass,
each operation's first run in the session, so that they mean the same
whether a host fits one pass in the run or several.
"""

from __future__ import annotations

import contextlib
import importlib.util
import os
import shutil
import sys
import time

import numpy as np

from array_rw import content, expected_cutout, random_boxes
from common import median, median_part, part

GEN_MULT = 0.02  # multiple of sf1 row counts handed to the generator
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
SHAPE = (128, 128, 128)
CHUNK = 64
STAGINGS = 3
# volume operations run after every 4th query
VOLUME_OPS = ("voxels_full", "voxels_sub", "spark_cutout_0", "spark_cutout_1")


def load_tool(root, name):
    spec = importlib.util.spec_from_file_location(
        f"perfbench_{name}", os.path.join(root, "tools", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_signatures(ctx, data, names, check_oracle) -> dict:
    import duckdb

    from bigarrays_jl_spark.operators import ALL_ORACLES
    con = duckdb.connect()
    con.execute("SET memory_limit='1GB'")
    con.execute("SET threads=2")
    con.execute(f"SET temp_directory='{os.path.join(ctx.work, 'duckdb')}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data}/{t}.parquet/*.parquet')")
    out = {}
    for name in names:
        res = con.execute(ALL_ORACLES[name])
        cols = [d[0] for d in res.description]
        out[name] = check_oracle.table_signature(cols, res.fetchall())[:3]
    con.close()
    return out


def make_info():
    from bigarrays_jl_spark.infos import Info
    return Info.from_dict({
        "num_channels": 1, "type": "image", "data_type": "uint8",
        "scales": [{"encoding": "gzip", "chunk_sizes": [[CHUNK] * 3],
                    "key": "1_1_1", "resolution": [1, 1, 1],
                    "voxel_offset": [0, 0, 0], "size": list(SHAPE)}]})


def chunk_boxes():
    return [((x, x + CHUNK), (y, y + CHUNK), (z, z + CHUNK))
            for x in range(0, SHAPE[0], CHUNK)
            for y in range(0, SHAPE[1], CHUNK)
            for z in range(0, SHAPE[2], CHUNK)]


def write_raw_chunks(path, arr, boxes, files=4) -> int:
    """Stage ``boxes`` of ``arr`` as a raw-chunk parquet dataset (the
    ``ingest_chunks`` input schema) in ``files`` files; returns bytes."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(path)
    total = 0
    for f in range(files):
        part = boxes[f::files]
        payloads = [np.asfortranarray(arr[tuple(slice(lo, hi) for lo, hi in b)])
                    .tobytes(order="F") for b in part]
        total += sum(len(p) for p in payloads)
        pq.write_table(pa.table({
            "cx": pa.array([b[0][0] // CHUNK for b in part], pa.int32()),
            "cy": pa.array([b[1][0] // CHUNK for b in part], pa.int32()),
            "cz": pa.array([b[2][0] // CHUNK for b in part], pa.int32()),
            "key": pa.array(["_".join(f"{lo}-{hi}" for lo, hi in b)
                             for b in part], pa.string()),
            "payload": pa.array(payloads, pa.binary()),
        }), os.path.join(path, f"part-{f}.parquet"))
    return total


def coord_sum(box) -> int:
    """Sum of x+y+z over every voxel of ``box``."""
    n = [hi - lo for lo, hi in box]
    s = [sum(range(lo, hi)) for lo, hi in box]
    return s[0] * n[1] * n[2] + s[1] * n[0] * n[2] + s[2] * n[0] * n[1]


def stage_volume(ctx, rng):
    """Generate the volume from ``rng``, stage its raw chunks and ingest
    them; returns the volume, the numpy array it holds and the set-up
    steps' times."""
    from bigarrays_jl_spark.volume import Volume
    split = SHAPE[0] // 2
    vol0 = content(rng, tuple((0, n) for n in SHAPE), phase=0, split=split)
    boxes = chunk_boxes()
    over = [boxes[i] for i in sorted(rng.choice(len(boxes), len(boxes) // 4,
                                                replace=False))]
    vol1 = vol0.copy()
    for b in over:
        vol1[tuple(slice(lo, hi) for lo, hi in b)] = content(
            rng, b, phase=int(rng.integers(1, 200)), split=split)
    src = os.path.join(ctx.work, "stage")
    stagings = []
    for _ in range(STAGINGS):
        shutil.rmtree(src, ignore_errors=True)
        with ctx.stopwatch() as sw:
            write_raw_chunks(os.path.join(src, "full"), vol0, boxes)
            write_raw_chunks(os.path.join(src, "over"), vol1, over)
        stagings.append(sw)
    with ctx.stopwatch() as ingest:
        vol = Volume.create(ctx.spark, os.path.join(ctx.work, "vol"),
                            make_info())
        vol.local_io = False
        for name in ("full", "over"):
            vol.ingest_chunks(ctx.spark.read.parquet(os.path.join(src, name)))
    return vol, vol1, {"stage": median_part(stagings), "ingest": part(ingest)}


def run(ctx) -> dict:
    import bench  # the frozen HEADLINE list lives there
    from pyspark.sql import functions as F

    from bigarrays_jl_spark.operators import ALL_QUERIES

    spark = ctx.spark
    check_oracle = load_tool(ctx.root, "check_oracle")
    gen = load_tool(ctx.root, "gen_scale_data")
    names = list(bench.HEADLINE)
    data = os.path.join(ctx.work, "data")
    rng = np.random.default_rng(ctx.seed)

    gen.SEED = ctx.seed
    with ctx.stopwatch() as generate, contextlib.redirect_stdout(sys.stderr):
        gen.gen(spark, GEN_MULT, data)
    with ctx.stopwatch() as oracle:
        want = oracle_signatures(ctx, data, names, check_oracle)
    vol, arr, setup = stage_volume(ctx, rng)
    setup.update(generate=part(generate), oracle=part(oracle))

    side = [int(rng.integers(n // 4, n * 5 // 8 + 1)) for n in SHAPE]
    sub = tuple((a, a + s) for a, s in zip(
        (int(rng.integers(0, n - s + 1)) for n, s in zip(SHAPE, side)), side))
    cut_boxes = random_boxes(rng, 2, SHAPE, 16, 128, margin=16)
    want_full = int(arr.sum(dtype=np.int64))
    want_sub = (int(arr[tuple(slice(lo, hi) for lo, hi in sub)]
                    .sum(dtype=np.int64)) + coord_sum(sub))
    scan_mb = (arr.nbytes + float(np.prod([hi - lo for lo, hi in sub]))) / 1e6

    def evaluate(name):
        with ctx.group("build"):
            df = ALL_QUERIES[name](spark, data)
        return df.columns, [tuple(r) for r in df.collect()]

    def query_op(name):
        """Run one timed query and check its result."""
        out, dt, dc = ctx.timed("headline", evaluate, name)
        if out is not None:
            got = check_oracle.table_signature(*out)[:3]
            ctx.check(got == want[name],
                      f"{name}: signature {got[:2]} != oracle {want[name][:2]}")
        return dt, dc

    def scan_full():
        return vol.voxels().agg(F.sum("value")).collect()[0][0]

    def scan_sub():
        v = vol.voxels(sub)
        return v.agg(F.sum(v.x + v.y + v.z + v.value)).collect()[0][0]

    def volume_op(slot):
        """Run one timed volume operation and check its result."""
        if slot.startswith("voxels"):
            fn, expect = ((scan_full, want_full) if slot == "voxels_full"
                          else (scan_sub, want_sub))
            r, dt, dc = ctx.timed("voxel_scan", fn)
            ctx.check(r == expect, f"{slot} sum {r} != {expect}")
        else:
            box = cut_boxes[int(slot[-1])]
            out, dt, dc = ctx.timed("spark_cutout", vol.cutout, box,
                                    nbytes=lambda r: r[0].nbytes)
            if out is not None:
                ctx.check(np.array_equal(out[0], expected_cutout(arr, box)),
                          f"Spark-path cutout {box} differs from numpy")
        return dt, dc

    slots = []
    for i, name in enumerate(names):
        slots.append(name)
        if i % 4 == 3:
            slots.append(VOLUME_OPS[i // 4])

    ctx.reset_trace()

    # the loop ends after the operation during which time runs out, but
    # not before one whole pass; a pass enters the determinism record
    # only if whole
    per_slot = {s: [] for s in slots}
    cpu_slot = {s: [] for s in slots}
    n_ops = 0
    t_loop = time.perf_counter()
    done = False
    while not done:
        marks = {op: len(v) for op, v in ctx.spark_records.items()}
        for i, slot in enumerate(slots):
            dt, dc = (volume_op if slot in VOLUME_OPS else query_op)(slot)
            per_slot[slot].append(dt)
            cpu_slot[slot].append(dc)
            n_ops += 1
            if n_ops >= len(slots) and time.perf_counter() - t_loop >= ctx.seconds:
                done = True
                break
        if i + 1 < len(slots):
            continue
        unit = {}
        if ctx.tracer:
            ctx.collect_spark()
            recs = ctx.spark_records
            unit = {op: [r["jobs"] for r in recs.get(op, [])[marks.get(op, 0):]]
                    for op in ("build", "headline", "voxel_scan",
                               "spark_cutout")}
        ctx.units.append(unit)

    s_med = {s: median(v) for s, v in per_slot.items()}
    c_first = {s: v[0] for s, v in cpu_slot.items()}
    q_med = {n: s_med[n] for n in names}
    scans = per_slot["voxels_full"] + per_slot["voxels_sub"]
    named = {
        "op_p50_ms": median(v[0] for v in per_slot.values()) * 1e3,
        "round_s": sum(v[0] for v in per_slot.values()),
        "headline_total_s": sum(q_med.values()),
        "voxel_scan_mb_s": scan_mb / (s_med["voxels_full"] + s_med["voxels_sub"]),
        "spark_cutout_p50_ms": median(per_slot["spark_cutout_0"]
                                      + per_slot["spark_cutout_1"]) * 1e3,
        "voxel_scans": len(scans),
        "passes": len(ctx.units),
    }
    layers = {f"operators.{n}.s": s for n, s in q_med.items()}
    if ctx.tracer and ctx.units:
        # jobs run while the 16 DataFrames are built, per whole pass; the
        # build groups nest inside the headline groups, so the headline
        # records count only the jobs of the collect
        layers["checkpointing.build_jobs"] = sum(ctx.units[0]["build"])
    return {
        "setup": setup,
        "units": n_ops / len(slots),
        "e2e": {"op_cpu_ms": median(c_first.values()) * 1e3,
                "round_cpu_s": sum(c_first.values())},
        "named": named,
        "layers": layers,
    }
