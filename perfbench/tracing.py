"""Layer tracing from outside the engine.

The benchmark never edits engine code.  Instead a ``Tracer`` wraps the
public functions of each layer while a traced run lasts (codec objects,
chunk-lattice helpers, the pyarrow scan and write calls the driver-local
IO path makes, ``Volume.compact``, the table loader) and records one
span per call.  Spans stay in memory and are summarised when the run
ends.  Spark-side work is read from Spark's own status stores for a job
group the benchmark sets around each operation (``SparkProbe``).

With tracing off nothing is wrapped and no job group is set, so the
untraced run measures the engine exactly as a user calls it.
"""

from __future__ import annotations

import contextlib
import itertools
import re
import threading
import time


class Span:
    __slots__ = ("name", "t0", "t1", "op", "fields")

    def __init__(self, name, t0, t1, op, fields):
        self.name, self.t0, self.t1, self.op, self.fields = name, t0, t1, op, fields


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping ``(t0, t1)`` pairs."""
    total, end = 0.0, float("-inf")
    for t0, t1 in sorted(intervals):
        if t1 <= end:
            continue
        total += t1 - max(t0, end)
        end = t1
    return total


def gzip_first_block_stored(frame: bytes) -> bool:
    """True when the first deflate block of a gzip frame is a stored
    (uncompressed) block.  Reads the header flags (RFC 1952) to find the
    deflate stream, then the BTYPE bits of its first block header."""
    if len(frame) < 11 or frame[:2] != b"\x1f\x8b":
        return False
    flg, pos = frame[3], 10
    if flg & 4:                                   # FEXTRA
        pos += 2 + int.from_bytes(frame[pos:pos + 2], "little")
    for bit in (8, 16):                           # FNAME, FCOMMENT
        if flg & bit:
            pos = frame.index(b"\x00", pos) + 1
    if flg & 2:                                   # FHCRC
        pos += 2
    return (frame[pos] >> 1) & 3 == 0


class Tracer:
    """In-memory span recorder plus the patches that feed it."""

    def __init__(self):
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self._op_ids = itertools.count(1)
        # id of the benchmark operation in flight; pool threads the
        # engine starts inside an operation attribute their spans to it
        self.current_op = 0
        self.overhead_s = 0.0

    # -- recording -----------------------------------------------------------

    def record(self, name: str, t0: float, t1: float, **fields) -> None:
        s = time.perf_counter()
        span = Span(name, t0, t1, self.current_op, fields)
        with self._lock:
            self.spans.append(span)
            self.overhead_s += time.perf_counter() - s

    @contextlib.contextmanager
    def op(self, name: str, **fields):
        """Span around one benchmark operation; layer spans recorded
        while it runs carry its id.  Yields the span's field dict."""
        op_id = next(self._op_ids)
        fields = dict(fields, op_id=op_id)
        self.current_op = op_id
        t0 = time.perf_counter()
        try:
            yield fields          # the caller may add counts to it
        finally:
            t1 = time.perf_counter()
            self.current_op = 0
            self.record(name, t0, t1, **fields)

    def reset(self) -> None:
        with self._lock:
            self.spans.clear()
            self.overhead_s = 0.0

    # -- patching -------------------------------------------------------------

    def patch(self, owner, attr: str, make_wrapper) -> None:
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, make_wrapper(orig))

    def unpatch_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def timed(self, name: str, orig):
        """Wrapper recording one ``name`` span per call of ``orig``."""
        def wrapper(*a, **kw):
            t0 = time.perf_counter()
            out = orig(*a, **kw)
            self.record(name, t0, time.perf_counter())
            return out
        return wrapper

    def install(self, probe: "SparkProbe") -> None:
        """Wrap every layer boundary the per-layer metrics read;
        compactions run inside their own ``probe`` job group."""
        import pyarrow.dataset as pds
        import pyarrow.parquet as pq

        from bigarrays_jl_spark import codecs, indexes
        from bigarrays_jl_spark.sources import tables
        from bigarrays_jl_spark.volume import Volume

        tracer = self

        class TracedCodec:
            def __init__(self, codec):
                self._codec = codec

            def __getattr__(self, attr):
                return getattr(self._codec, attr)

            def encode(self, data):
                t0 = time.perf_counter()
                out = self._codec.encode(data)
                t1 = time.perf_counter()
                stored = (self._codec.name == "gzip"
                          and gzip_first_block_stored(out))
                tracer.record("codecs.encode", t0, t1, codec=self._codec.name,
                              bytes_in=len(data), bytes_out=len(out),
                              stored=stored)
                return out

            def decode(self, data, **kw):
                t0 = time.perf_counter()
                out = self._codec.decode(data, **kw)
                t1 = time.perf_counter()
                tracer.record("codecs.decode", t0, t1, codec=self._codec.name,
                              bytes_in=len(data), bytes_out=len(out))
                return out

        self.patch(codecs, "get_codec",
                   lambda orig: lambda enc: TracedCodec(orig(enc)))
        for fn in ("parse_chunk_key", "chunk_id_ranges"):
            self.patch(indexes, fn, lambda orig, fn=fn: self.timed(
                f"indexes.{fn}", orig))

        def listed_slices(orig):
            def wrapper(*a, **kw):
                t0 = time.perf_counter()
                items = list(orig(*a, **kw))
                tracer.record("indexes.iter_chunk_slices", t0,
                              time.perf_counter())
                return iter(items)
            return wrapper
        self.patch(indexes, "iter_chunk_slices", listed_slices)

        class TracedDataset:
            def __init__(self, ds):
                self._ds = ds

            def __getattr__(self, attr):
                return getattr(self._ds, attr)

            def to_table(self, *a, **kw):
                t0 = time.perf_counter()
                tbl = self._ds.to_table(*a, **kw)
                tracer.record("volume.scan", t0, time.perf_counter(),
                              rows=tbl.num_rows)
                return tbl

        self.patch(pds, "dataset", lambda orig: lambda *a, **kw:
                   TracedDataset(orig(*a, **kw)))
        self.patch(pq, "write_table",
                   lambda orig: self.timed("volume.parquet_write", orig))
        self.patch(Volume, "compact", lambda orig: _compact_wrapper(
            tracer, probe, orig))
        self.patch(tables, "load", lambda orig: self.timed(
            "sources.load", orig))


def _compact_wrapper(tracer: Tracer, probe: "SparkProbe", orig):
    def compact(vol, *a, **kw):
        t0 = time.perf_counter()
        with probe.group("compact"):
            out = orig(vol, *a, **kw)
        tracer.record("volume.compact", t0, time.perf_counter())
        return out
    return compact


_SIZE_RE = re.compile(r"([\d.]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_SIZE_UNITS = {"B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30,
               "TiB": 2 ** 40}


def parse_size(text: str) -> float:
    """First byte size in a Spark SQL metric string (its total)."""
    m = _SIZE_RE.search(text)
    return float(m.group(1)) * _SIZE_UNITS[m.group(2)] if m else 0.0


class SparkProbe:
    """Job groups around operations, summed from Spark's status stores.

    ``group(op)`` tags every Spark job started inside it with a fresh job
    group; ``collect()`` waits for the listener bus to drain and then
    reads, per group, the job and stage records of the core status store
    and the "data returned from Python workers" metric of the SQL status
    store.  Reading happens outside every timed window; ``overhead_s``
    counts only the job-group calls made inside them."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.cores = self.sc.defaultParallelism
        self._groups: list[tuple[str, str, float]] = []   # op, group, wall
        self._stack: list[str] = []
        self._ids = itertools.count(1)
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def group(self, op: str):
        t_set = time.perf_counter()
        gid = f"bench-{op}-{next(self._ids)}"
        prev = self._stack[-1] if self._stack else None
        self._stack.append(gid)
        self.sc.setJobGroup(gid, op, False)
        t0 = time.perf_counter()
        self.overhead_s += t0 - t_set
        try:
            yield gid
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            if prev is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(prev, prev, False)
            self._groups.append((op, gid, t1 - t0))
            self.overhead_s += time.perf_counter() - t1

    def jobs_in(self, gid: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(gid))

    def drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def collect(self) -> dict[str, list[dict]]:
        """Per op name, one record per group: jobs, tasks, failed tasks,
        executor run/CPU/GC seconds, shuffle write and spill bytes,
        Python-worker bytes returned, wall seconds.  Groups are cleared."""
        self.drain()
        jvm = self.sc._jvm
        store = self.sc._jsc.sc().statusStore()
        sql = self.spark._jsparkSession.sharedState().statusStore()
        no_q = self.sc._gateway.new_array(jvm.double, 0)
        job_to_exec = {}
        execs = sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            it = e.jobs().keysIterator()
            while it.hasNext():
                job_to_exec[int(it.next())] = e
        out: dict[str, list[dict]] = {}
        # a nested group (compact inside a write) owns its own jobs; the
        # outer group's record then counts only the jobs it ran directly
        for op, gid, wall in self._groups:
            rec = dict(jobs=0, tasks=0, failed_tasks=0, executor_run_s=0.0,
                       executor_cpu_s=0.0, gc_s=0.0, shuffle_write_bytes=0,
                       spill_bytes=0, python_bytes_out=0.0, wall_s=wall)
            seen_exec = set()
            for jid in self.jobs_in(gid):
                rec["jobs"] += 1
                info = self.sc.statusTracker().getJobInfo(jid)
                for sid in (list(info.stageIds) if info else []):
                    seq = store.stageData(int(sid), False,
                                          jvm.java.util.ArrayList(), False,
                                          no_q)
                    for k in range(seq.size()):
                        sd = seq.apply(k)
                        if sd.status().toString() == "SKIPPED":
                            continue
                        rec["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                        rec["failed_tasks"] += sd.numFailedTasks()
                        rec["executor_run_s"] += sd.executorRunTime() / 1e3
                        rec["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                        rec["gc_s"] += sd.jvmGcTime() / 1e3
                        rec["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                        rec["spill_bytes"] += (sd.memoryBytesSpilled()
                                               + sd.diskBytesSpilled())
                e = job_to_exec.get(jid)
                if e is not None and e.executionId() not in seen_exec:
                    seen_exec.add(e.executionId())
                    rec["python_bytes_out"] += _python_bytes_out(sql, e)
            rec["slot_util"] = (rec["executor_run_s"] / (wall * self.cores)
                                if wall > 0 else 0.0)
            out.setdefault(op, []).append(rec)
        self._groups.clear()
        return out


def _python_bytes_out(sql, execution) -> float:
    """Sum of "data returned from Python workers" over one SQL execution
    (the Arrow hop from Python batch functions back into the JVM)."""
    ids = set()
    metrics = execution.metrics()
    for i in range(metrics.size()):
        m = metrics.apply(i)
        if m.name() == "data returned from Python workers":
            ids.add(int(m.accumulatorId()))
    if not ids:
        return 0.0
    total = 0.0
    it = sql.executionMetrics(execution.executionId()).iterator()
    while it.hasNext():
        kv = it.next()
        if int(kv._1()) in ids:
            total += parse_size(str(kv._2()))
    return total
