"""array_rw: the driver-array API on a local-FS uint8 gzip volume.

Set-up writes the volume below ``FILLED_Z``; the slab above stays
missing.  Half of the x range holds smooth content (gzip's deflate
branch), half holds noise (its stored-block branch).  The timed loop
repeats one seeded pair of cycles.  Each cycle is 85 unaligned cutouts
and 15 chunk-aligned 128x128x64 overwrites in seeded order; the 15th
write of a cycle reaches the 16-epoch auto-compaction threshold.  The
first cycle overwrites with new content, the second writes the original
content back, so every pair does the same work and ends on the same
compacted store.  A numpy mirror of the volume checks every cutout.

The loop runs whole pairs until the run's time is up.  The host it was
built on lends its cores to other guests, and even the CPU time of a
fixed pair rises by a fifth or more while they are busy, in spells of
ten to thirty seconds, and the first pairs of a run cost more than the
later ones.  The cheapest whole pair of a run is the least disturbed,
so the end-to-end metrics come from it.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

from common import count_files, dir_bytes, median_part, part, pct

SHAPE = (256, 256, 320)
FILLED_Z = 256
CHUNK = 64
BLOCK = (128, 128, 64)
WRITES_PER_CYCLE = 15
CUTOUTS_PER_CYCLE = 85
OPS_PER_PAIR = 2 * (WRITES_PER_CYCLE + CUTOUTS_PER_CYCLE)
STAGINGS = 3


def make_info(shape):
    from bigarrays_jl_spark.infos import Info
    return Info.from_dict({
        "num_channels": 1, "type": "image", "data_type": "uint8",
        "scales": [{"encoding": "gzip", "chunk_sizes": [[CHUNK] * 3],
                    "key": "1_1_1", "resolution": [1, 1, 1],
                    "voxel_offset": [0, 0, 0], "size": list(shape)}]})


def content(rng, box, phase: int, split: int = SHAPE[0] // 2) -> np.ndarray:
    """Voxels for ``box``: smooth where x < ``split``, noise elsewhere."""
    (x0, x1), (y0, y1), (z0, z1) = box
    x = np.arange(x0, x1)[:, None, None]
    y = np.arange(y0, y1)[None, :, None]
    z = np.arange(z0, z1)[None, None, :]
    smooth = ((x // 4 + y // 8 + z // 16 + phase) % 256).astype(np.uint8)
    noise = rng.integers(0, 256, size=smooth.shape, dtype=np.uint8)
    return np.where(x < split, smooth, noise).astype(np.uint8)


def expected_cutout(mirror: np.ndarray, box) -> np.ndarray:
    out = np.zeros(tuple(hi - lo for lo, hi in box), dtype=np.uint8)
    src = tuple(slice(max(lo, 0), min(hi, n))
                for (lo, hi), n in zip(box, mirror.shape))
    if all(s.stop > s.start for s in src):
        dst = tuple(slice(s.start - lo, s.stop - lo)
                    for s, (lo, _) in zip(src, box))
        out[dst] = mirror[src]
    return out


def stratified(rng, n: int, lo: int, hi: int) -> np.ndarray:
    """``n`` integers in [lo, hi], one from each of ``n`` equal strata, in
    random order: every seed gets the same spread of sizes, so seeds
    differ in where boxes fall, not in how much work they are."""
    u = (np.arange(n) + rng.random(n)) / n
    return rng.permutation(np.floor(lo + u * (hi - lo + 1)).astype(int))


def random_boxes(rng, n: int, shape, lo: int, hi: int, margin: int):
    """``n`` boxes with stratified sides in [lo, hi] per axis, placed
    uniformly so that some cross the volume bounds by up to ``margin``."""
    sides = np.stack([stratified(rng, n, lo, hi) for _ in shape], axis=1)
    boxes = []
    for side in sides:
        start = [int(rng.integers(-margin, d - s + margin + 1))
                 for d, s in zip(shape, side)]
        boxes.append(tuple((a, a + int(s)) for a, s in zip(start, side)))
    return boxes


def plan_pair(rng, original):
    """One seeded pair of cycles: a list of ops, each ``("cutout", box)``
    or ``("write", offset, array)``."""
    blocks = [(x, y, z) for x in range(0, SHAPE[0], BLOCK[0])
              for y in range(0, SHAPE[1], BLOCK[1])
              for z in range(0, FILLED_Z, BLOCK[2])]
    picks = [blocks[i] for i in rng.choice(len(blocks), WRITES_PER_CYCLE)]
    boxes = iter(random_boxes(rng, 2 * CUTOUTS_PER_CYCLE, SHAPE, 16, 200,
                              margin=32))
    ops = []
    for restore in (False, True):
        cycle = []
        for off in picks:
            box = tuple((o, o + b) for o, b in zip(off, BLOCK))
            if restore:
                arr = original[tuple(slice(lo, hi) for lo, hi in box)]
            else:
                arr = content(rng, box, phase=int(rng.integers(1, 200)))
            cycle.append(("write", off, np.ascontiguousarray(arr)))
        cycle += [("cutout", next(boxes)) for _ in range(CUTOUTS_PER_CYCLE)]
        # the cycle's last write triggers its compaction; keep writes in
        # seeded positions among the cutouts
        order = rng.permutation(len(cycle))
        ops += [cycle[i] for i in order]
    return ops


def stage(ctx, root, original):
    from bigarrays_jl_spark.volume import Volume
    vol = Volume.create(ctx.spark, root, make_info(SHAPE))
    vol.write(original[:, :, :FILLED_Z], (0, 0, 0))
    return vol


def run(ctx) -> dict:
    rng = np.random.default_rng(ctx.seed)
    original = np.zeros(SHAPE, dtype=np.uint8)
    original[:, :, :FILLED_Z] = content(
        rng, ((0, SHAPE[0]), (0, SHAPE[1]), (0, FILLED_Z)), phase=0)
    pair = plan_pair(rng, original)

    # set-up: staging repeated, its median counted; then warm-up
    root = os.path.join(ctx.work, "vol")
    stagings = []
    for _ in range(STAGINGS):
        shutil.rmtree(root, ignore_errors=True)
        with ctx.stopwatch() as sw:
            vol = stage(ctx, root, original)
        stagings.append(sw)
    mirror = original.copy()
    # warm-up: one cycle of writes that restore original content (so the
    # store is unchanged) reaches the first, cold compaction; plus a share
    # of the cutouts
    warm_writes = [op for op in pair if op[0] == "write"][WRITES_PER_CYCLE:]
    with ctx.stopwatch() as warm:
        for op in warm_writes:
            vol.write(op[2], op[1])
        for op in [op for op in pair if op[0] == "cutout"][:20]:
            vol.cutout(op[1])
    setup = {"stage": median_part(stagings), "warm": part(warm)}
    ctx.reset_trace()

    mip_dir = os.path.join(root, "chunks", "mip=1_1_1")
    cut_ms, write_ms = [], []
    pair_cpu, cut_cpu = [], []          # per whole pair
    t_loop = time.perf_counter()
    while not pair_cpu or time.perf_counter() - t_loop < ctx.seconds:
        mark = len(ctx.tracer.spans) if ctx.tracer else 0
        n_comp = len(ctx.spark_records.get("compact", []))
        pair_c = cut_c = 0.0
        for op in pair:
            if op[0] == "cutout":
                box = op[1]
                out, dt, dc = ctx.timed("cutout", vol.cutout, box,
                                        nbytes=lambda r: r[0].nbytes)
                cut_ms.append(dt * 1e3)
                if out is not None:
                    arr, origin = out
                    ctx.check(origin == tuple(lo for lo, _ in box)
                              and np.array_equal(arr, expected_cutout(mirror, box)),
                              f"cutout {box} differs from the mirror")
                cut_c += dc
            else:
                _, off, arr = op
                _, dt, dc = ctx.timed("write", vol.write, arr, off)
                write_ms.append(dt * 1e3)
                mirror[tuple(slice(o, o + s) for o, s in zip(off, arr.shape))] = arr
            pair_c += dc
        pair_cpu.append(pair_c)
        cut_cpu.append(cut_c / (2 * CUTOUTS_PER_CYCLE))
        unit = {"part_files": count_files(mip_dir)}
        if ctx.tracer:
            spans = ctx.tracer.spans[mark:]
            enc = [s for s in spans if s.name == "codecs.encode"]
            unit.update(
                encode_in=sum(s.fields["bytes_in"] for s in enc),
                encode_out=sum(s.fields["bytes_out"] for s in enc),
                stored_frames=sum(s.fields["stored"] for s in enc),
                compactions=sum(s.name == "volume.compact" for s in spans))
            ctx.collect_spark()
            unit["compact_jobs"] = sum(
                r["jobs"] for r in ctx.spark_records.get("compact", [])[n_comp:])
        ctx.units.append(unit)

    stored = dir_bytes(os.path.join(root, "chunks"))[1]
    logical = SHAPE[0] * SHAPE[1] * SHAPE[2]
    ratio = stored / logical
    named = {
        "cutout_p50_ms": pct(cut_ms, 50), "cutout_p99_ms": pct(cut_ms, 99),
        "write_p50_ms": pct(write_ms, 50), "write_p95_ms": pct(write_ms, 95),
        "bytes_stored_per_byte": ratio,
        "cutouts": len(cut_ms), "writes": len(write_ms),
        "pairs": len(pair_cpu),
        "pair_cpu_s": pair_cpu,
        "pair_cutout_cpu_ms": [c * 1e3 for c in cut_cpu],
    }
    # a mean, not a median, over cutouts: the median of 170 boxes jumps
    # between seeds with the number of chunks the middle boxes cross
    return {
        "setup": setup,
        "units": len(pair_cpu),
        "e2e": {"op_cpu_ms": min(cut_cpu) * 1e3,
                "round_cpu_s": min(pair_cpu)},
        "named": named,
        "layers": {"volume.part_files": count_files(mip_dir),
                   "volume.bytes_stored": stored,
                   "volume.logical_bytes": logical,
                   "volume.bytes_stored_per_byte": ratio},
    }
