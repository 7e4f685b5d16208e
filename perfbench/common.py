"""Shared pieces of the workloads: the run context, percentiles and the
per-layer summary computed from a traced run's spans."""

from __future__ import annotations

import contextlib
import os
import statistics
import sys
import time
import traceback

from tracing import union_length


def pct(values, q: float) -> float:
    """The ``q``-th percentile (0-100) of ``values``, interpolated as
    ``statistics.quantiles(method="inclusive")`` does."""
    vals = sorted(values)
    if not vals:
        return 0.0
    if len(vals) == 1:
        return float(vals[0])
    pos = (len(vals) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(vals) - 1)
    return vals[lo] + (vals[hi] - vals[lo]) * (pos - lo)


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``, recursively."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


def count_files(path: str) -> int:
    return dir_bytes(path)[0] if os.path.isdir(path) else 0


class TreeCPU:
    """CPU seconds used by this process and every process it started (the
    Spark JVM and its Python workers), user plus system time.

    A guest kernel leaves out of a task's CPU time the time the host gave
    its virtual CPU to another guest (steal), so on a shared host these
    seconds measure the work done, while wall time also counts the
    neighbours'.  This process's own time is read at nanosecond
    resolution; other processes' from ``/proc/<pid>/stat`` in clock
    ticks.  The process tree is walked again at most every
    ``REFRESH_S``; a process that has ended keeps the last time read for
    it, and a new one counts from its start."""

    REFRESH_S = 1.0

    def __init__(self):
        self.tick = os.sysconf("SC_CLK_TCK")
        self.seen: dict[int, float] = {}     # pid -> last CPU seconds read
        self.pids: list[int] = []
        self.walked = float("-inf")

    def _read(self, pid: int) -> float | None:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            return None
        return (int(fields[11]) + int(fields[12])) / self.tick

    def _walk(self) -> None:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
        pids, todo = [], list(children.get(os.getpid(), []))
        while todo:
            pid = todo.pop()
            pids.append(pid)
            todo += children.get(pid, [])
        self.pids = pids
        self.walked = time.perf_counter()

    def now(self, opening: bool) -> float:
        """CPU seconds so far.  A due walk of the process tree, which this
        process pays for, runs before an opening read and after a closing
        one, so it falls outside the interval the two reads measure."""
        due = time.perf_counter() - self.walked >= self.REFRESH_S
        if due and opening:
            self._walk()
        own = time.process_time()
        if due and not opening:
            self._walk()
        for pid in self.pids:
            v = self._read(pid)
            if v is not None:
                self.seen[pid] = v
        return own + sum(self.seen.values())


class Stopwatch:
    """Wall and process-tree CPU seconds of a ``with`` block."""

    def __init__(self, cpu: TreeCPU):
        self.cpu = cpu
        self.wall_s = self.cpu_s = 0.0

    def __enter__(self):
        self.c0 = self.cpu.now(opening=True)
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall_s = time.perf_counter() - self.t0
        self.cpu_s = self.cpu.now(opening=False) - self.c0


def median_part(watches: list[Stopwatch]) -> dict[str, float]:
    """A set-up step repeated in a run: the medians of its repeats."""
    return {"wall_s": median(w.wall_s for w in watches),
            "cpu_s": median(w.cpu_s for w in watches)}


def part(watch: Stopwatch) -> dict[str, float]:
    return {"wall_s": watch.wall_s, "cpu_s": watch.cpu_s}


class Context:
    """What a workload gets: the session, its inputs' seed, the timed
    window, and the tracer and Spark probe (both None when untraced)."""

    def __init__(self, spark, seed, seconds, work, root, tracer, probe, cpu):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.root = root
        self.tracer = tracer
        self.probe = probe
        self.attempted = 0
        self.failed = 0
        self.units: list[dict] = []      # per repeated unit: exact counts
        self.spark_records: dict[str, list[dict]] = {}
        self.cpu = cpu

    def stopwatch(self) -> Stopwatch:
        return Stopwatch(self.cpu)

    def op(self, name):
        """Tracer op span (a no-op context when untraced)."""
        return self.tracer.op(name) if self.tracer else contextlib.nullcontext()

    def group(self, name):
        """Spark job group (a no-op context when untraced)."""
        return self.probe.group(name) if self.probe else contextlib.nullcontext()

    def timed(self, kind: str, fn, *a, nbytes=None, **kw):
        """Run one timed operation; returns ``(result, wall seconds, CPU
        seconds)``, the CPU seconds those of the whole process tree.  An
        exception counts as a failed operation and returns a ``None``
        result.  ``nbytes(result)`` gives the bytes it returned, for the
        trace."""
        self.attempted += 1
        c0 = self.cpu.now(opening=True)
        t0 = time.perf_counter()
        out = None
        try:
            with self.op(kind) as fields, self.group(kind):
                out = fn(*a, **kw)
                if fields is not None and nbytes is not None:
                    fields["returned_bytes"] = nbytes(out)
        except Exception:  # noqa: BLE001 - a failed op is a result, not a crash
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
        dt = time.perf_counter() - t0
        return out, dt, self.cpu.now(opening=False) - c0

    def check(self, ok: bool, what: str) -> None:
        """A failed correctness check counts as a failed operation."""
        if not ok:
            self.failed += 1
            print(f"correctness: {what}", file=sys.stderr)

    def reset_trace(self) -> None:
        """Forget what set-up traced: the layers describe the timed loop."""
        if self.tracer is None:
            return
        self.tracer.reset()
        self.collect_spark()
        self.spark_records.clear()
        self.probe.overhead_s = 0.0

    def collect_spark(self) -> None:
        """Fold the probe's job-group records in (outside timed windows)."""
        if self.probe is None:
            return
        for op, recs in self.probe.collect().items():
            self.spark_records.setdefault(op, []).extend(recs)


SPARK_OPS = ("voxel_scan", "spark_cutout", "compact", "headline")
SPARK_FIELDS = ("jobs", "tasks", "failed_tasks", "executor_run_s",
                "executor_cpu_s", "gc_s", "shuffle_write_bytes",
                "spill_bytes", "python_bytes_out")


def layer_metrics(ctx: Context, n_units: float) -> dict[str, float]:
    """Per-layer metrics from the spans and Spark records of a traced
    run.  Counts and summed seconds are per repeated unit of the timed
    loop (a cycle pair, a pass; ``n_units`` counts an unfinished last unit
    by the share of its operations that ran), so they do not grow with
    the run length; per-operation times are means per operation."""
    spans = ctx.tracer.spans
    units = n_units or 1
    by_name: dict[str, list] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)
    by_op: dict[int, list] = {}
    for s in spans:
        if s.op:
            by_op.setdefault(s.op, []).append(s)
    m: dict[str, float] = {}

    cutouts = by_name.get("cutout", [])
    scan_s = rows = placed = decoded = returned = place_s = 0.0
    for c in cutouts:
        kids = by_op.get(c.fields["op_id"], [])
        scans = [k for k in kids if k.name == "volume.scan"]
        decs = [k for k in kids if k.name == "codecs.decode"]
        scan_s += sum(k.t1 - k.t0 for k in scans)
        rows += sum(k.fields["rows"] for k in scans)
        placed += len(decs)
        decoded += sum(k.fields["bytes_out"] for k in decs)
        returned += c.fields.get("returned_bytes", 0)
        place_s += (c.t1 - c.t0) - union_length(
            [(k.t0, k.t1) for k in scans + decs])
    n_cut = max(1, len(cutouts))
    m["volume.cutout.scan_s"] = scan_s / n_cut
    m["volume.cutout.place_s"] = place_s / n_cut
    m["volume.cutout.rows_scanned"] = rows / units
    m["volume.cutout.chunks_placed"] = placed / units
    m["volume.cutout.rows_per_chunk"] = rows / placed if placed else 0.0
    m["volume.cutout.decoded_bytes"] = decoded / units
    m["volume.cutout.returned_bytes"] = returned / units
    m["volume.cutout.decoded_per_returned"] = (decoded / returned
                                               if returned else 0.0)
    writes = by_name.get("write", [])
    pw = by_name.get("volume.parquet_write", [])
    m["volume.write.parquet_s"] = (sum(s.t1 - s.t0 for s in pw)
                                   / max(1, len(writes)))
    comp = by_name.get("volume.compact", [])
    m["volume.compact.count"] = len(comp) / units
    m["volume.compact.s"] = (sum(s.t1 - s.t0 for s in comp) / len(comp)
                             if comp else 0.0)

    dec = by_name.get("codecs.decode", [])
    dec_s = sum(s.t1 - s.t0 for s in dec)
    dec_b = sum(s.fields["bytes_out"] for s in dec)
    m["codecs.decode.calls"] = len(dec) / units
    m["codecs.decode.s"] = dec_s / units
    m["codecs.decode.mb"] = dec_b / 1e6 / units
    m["codecs.decode.mb_s"] = dec_b / 1e6 / dec_s if dec_s else 0.0
    enc = by_name.get("codecs.encode", [])
    b_in = sum(s.fields["bytes_in"] for s in enc)
    b_out = sum(s.fields["bytes_out"] for s in enc)
    m["codecs.encode.calls"] = len(enc) / units
    m["codecs.encode.s"] = sum(s.t1 - s.t0 for s in enc) / units
    m["codecs.encode.mb"] = b_in / 1e6 / units
    m["codecs.encode.ratio"] = b_out / b_in if b_in else 0.0
    gz = [s for s in enc if s.fields["codec"] == "gzip"]
    m["codecs.gzip.frames"] = len(gz) / units
    m["codecs.gzip.stored_frac"] = (sum(s.fields["stored"] for s in gz)
                                    / len(gz) if gz else 0.0)

    idx = [s for n in ("indexes.parse_chunk_key", "indexes.chunk_id_ranges",
                       "indexes.iter_chunk_slices")
           for s in by_name.get(n, [])]
    m["indexes.calls"] = len(idx) / units
    m["indexes.s"] = sum(s.t1 - s.t0 for s in idx) / units
    loads = by_name.get("sources.load", [])
    m["sources.load.calls"] = len(loads) / units
    m["sources.load.s"] = sum(s.t1 - s.t0 for s in loads) / units

    for op in SPARK_OPS:
        recs = ctx.spark_records.get(op, [])
        n = max(1, len(recs))
        for f in SPARK_FIELDS:
            m[f"spark.{op}.{f}"] = sum(r[f] for r in recs) / n
        run = sum(r["executor_run_s"] for r in recs)
        wall = sum(r["wall_s"] for r in recs)
        m[f"spark.{op}.wall_s"] = wall / n
        m[f"spark.{op}.slot_util"] = (run / (wall * ctx.probe.cores)
                                      if wall else 0.0)
    m["trace.overhead_s"] = (ctx.tracer.overhead_s + ctx.probe.overhead_s) / units
    return m
