"""Every chunk read goes through one decode function and one executor
scan, every chunk write through one encode function, and every executor
closure through one worker bootstrap: an AST scan of the package fails
on a hand-rolled copy of any of them, so a fix to the decode or encode
path (the jpeg aspect guard, the byte-count checks, error context naming
the chunk) cannot miss a read or write path again, and no module outside
``volume.py`` knows how live chunks are selected.  Inside ``volume.py``
the epoch dedupe has one caller, ``live_chunks``, and a mip is replaced
by one rewrite, ``_fold_mip``, behind both ``compact`` and ``delete``.
Every lineage cut goes through ``checkpointing.materialize``, so the
reliable-checkpoint switch reaches all of them.  The per-chunk volume
passes that pair voxels across chunk boundaries take that geometry from
``indexes.chunk_faces`` and ``indexes.axis_pairs``, so the face-keying
convention is written once."""
import ast
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "bigarrays_jl_spark")

# (file relative to the package, enclosing function) allowed to decode
DECODE_SITES = {
    ("volume.py", "decode_chunk"),
    # media payloads (one image per row), not chunks of a volume
    ("operators/multimodal.py", "decode_media"),
}

# (file, outermost enclosing function) allowed to call decode_chunk in
# a loop over chunk rows
CHUNK_DECODE_LOOPS = {
    # the loop of Volume.map_cuts, also run by voxels() and by
    # rechunk's merge groups
    ("volume.py", "_cuts"),
    # reports ChunkDecodeError in its error column instead of raising
    ("volume.py", "fsck"),
    # two joined volumes per row, read through Volume.live_chunks
    ("operators/volume_seg.py", "roi_stats"),
}
# ... and outside any loop: the driver-local cutout decodes one chunk
# per thread-pool call
CHUNK_DECODE_CALLS = {("volume.py", "cutout")}

# (file, enclosing function) allowed to touch a codec's encode
ENCODE_SITES = {("volume.py", "encode_chunk")}

# chunk-table selection that only volume.py may know about
PRIVATE_SCANS = {"_latest", "_pruned", "_sources_subset"}

# (file, outermost function, the per-chunk pass nested in it): the
# passes that pair voxels within and across chunk boundaries
BOUNDARY_PASSES = {
    ("operators/volume_components.py", "connected_components",
     "local_pass"),
    ("operators/volume_rag.py", "rag_stream", "local_pass"),
    ("operators/volume_qc.py", "slice_ncc", "local"),
    ("operators/volume_seg.py", "volume_label_surface", "stream"),
    ("operators/volume_stencil.py", "_stencil_stream", "local"),
}
# the indexes functions that hold that geometry
GEOMETRY = {"chunk_faces", "axis_pairs"}

# DataFrame methods that cut lineage: only checkpointing.materialize
# may call them
CHECKPOINTS = {"localCheckpoint", "checkpoint"}

# (method called, the one volume.py method allowed to call it): the
# live-chunk selection and the mip rewrite ("_write_chunks" stands for
# a call with a mode other than "append")
VOLUME_ONLY_FROM = {"_latest": "live_chunks",
                    "_swap_mip_dir": "_fold_mip",
                    "_write_chunks": "_fold_mip"}


def _is_get_codec(node):
    f = node.func if isinstance(node, ast.Call) else None
    return (isinstance(f, ast.Name) and f.id == "get_codec") or (
        isinstance(f, ast.Attribute) and f.attr == "get_codec")


class _Scan(ast.NodeVisitor):
    def __init__(self, rel):
        self.rel = rel
        self.stack = ["<module>"]           # enclosing functions
        self.loops = [0]                    # loop depth in each of them
        self.codec_names = [set()]
        self.bootstraps, self.decodes = [], []
        self.chunk_loops, self.chunk_decodes = [], []
        self.encodes, self.private = [], []
        self.volume_calls = []              # (name, rel, fns, line)
        self.checkpoints = []

    def visit_FunctionDef(self, node):
        self.stack.append(node.name)
        self.loops.append(0)
        self.codec_names.append(set())
        self.generic_visit(node)
        self.codec_names.pop()
        self.loops.pop()
        self.stack.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_For(self, node):
        self.loops[-1] += 1
        self.generic_visit(node)
        self.loops[-1] -= 1

    visit_AsyncFor = visit_While = visit_ListComp = visit_SetComp = \
        visit_DictComp = visit_GeneratorExp = visit_For

    def visit_Assign(self, node):
        if _is_get_codec(node.value):
            self.codec_names[-1].update(
                t.id for t in node.targets if isinstance(t, ast.Name))
        self.generic_visit(node)

    def _is_codec(self, node):
        return _is_get_codec(node) or isinstance(node, ast.Name) and any(
            node.id in s for s in self.codec_names)

    def visit_Attribute(self, node):
        where = (self.rel, self.stack[1:], node.lineno)
        # called or passed on (``pool.submit(codec.encode, ...)``)
        if node.attr == "encode" and self._is_codec(node.value):
            self.encodes.append(where)
        if node.attr in PRIVATE_SCANS:
            self.private.append(where)
        self.generic_visit(node)

    def visit_Call(self, node):
        f, where = node.func, (self.rel, self.stack[1:], node.lineno)
        if isinstance(f, ast.Attribute):
            if f.attr == "insert" and ast.unparse(f.value) == "sys.path":
                self.bootstraps.append(where)
            if f.attr == "decode" and self._is_codec(f.value):
                self.decodes.append(where)
            if f.attr in CHECKPOINTS:
                self.checkpoints.append(where)
        name = f.attr if isinstance(f, ast.Attribute) else getattr(
            f, "id", None)
        if name == "decode_payload":
            self.decodes.append(where)
        if name == "decode_chunk":
            (self.chunk_loops if self.loops[-1] else
             self.chunk_decodes).append(where)
        if name in VOLUME_ONLY_FROM and not (
                name == "_write_chunks" and _appends(node)):
            self.volume_calls.append((name, *where))
        self.generic_visit(node)


def _appends(call):
    """Whether a ``_write_chunks`` call keeps the default append mode."""
    mode = [k.value for k in call.keywords if k.arg == "mode"]
    if len(call.args) > 2:
        mode.append(call.args[2])
    return all(isinstance(m, ast.Constant) and m.value == "append"
               for m in mode)


def _volume_violations(scan):
    """Calls of ``VOLUME_ONLY_FROM`` names in ``volume.py`` from any
    other method than the one allowed."""
    return [(name, fns, ln) for name, rel, fns, ln in scan.volume_calls
            if rel == "volume.py"
            and (fns[0] if fns else None) != VOLUME_ONLY_FROM[name]]


def _scan(pkg=PKG):
    out = _Scan("<package>")
    for dirpath, _, names in os.walk(pkg):
        for n in names:
            if not n.endswith(".py"):
                continue
            path = os.path.join(dirpath, n)
            rel = os.path.relpath(path, pkg).replace(os.sep, "/")
            if rel == "codecs.py":
                continue
            with open(path) as f:
                scan = _Scan(rel)
                scan.visit(ast.parse(f.read(), path))
            for found in ("bootstraps", "decodes", "chunk_loops",
                          "chunk_decodes", "encodes", "private",
                          "volume_calls", "checkpoints"):
                getattr(out, found).extend(getattr(scan, found))
    return out


def _sites(found):
    return [(r, fns[0] if fns else None) for r, fns, _ in found]


def test_one_worker_bootstrap():
    bootstraps = _scan().bootstraps
    assert [(r, fns[0]) for r, fns, _ in bootstraps] == \
        [("volume.py", "_on_workers")], bootstraps


def test_one_chunk_decode_site():
    decodes = _scan().decodes
    sites = _sites(decodes)
    assert set(sites) <= DECODE_SITES, decodes
    assert [s for s in sites if s[0] == "volume.py"] \
        == [("volume.py", "decode_chunk")]


def test_one_chunk_scan():
    scan = _scan()
    assert set(_sites(scan.chunk_loops)) <= CHUNK_DECODE_LOOPS, \
        scan.chunk_loops
    assert set(_sites(scan.chunk_decodes)) <= CHUNK_DECODE_CALLS, \
        scan.chunk_decodes
    assert [p for p in scan.private if p[0] != "volume.py"] == [], \
        scan.private


def test_one_live_chunk_selection_and_one_mip_rewrite():
    scan = _scan()
    assert _volume_violations(scan) == [], scan.volume_calls
    # each of them is still called, from where it is allowed
    assert {(name, fns[0]) for name, rel, fns, _ in scan.volume_calls
            if rel == "volume.py"} == set(VOLUME_ONLY_FROM.items())


def test_one_chunk_encode_site():
    encodes = _scan().encodes
    assert set(_sites(encodes)) == ENCODE_SITES, encodes


def test_one_materialization_switch():
    cuts = _scan().checkpoints
    assert [(r, fns) for r, fns, _ in cuts] == \
        [("checkpointing.py", ["materialize"])] * 2, cuts


def test_scan_catches_hand_rolled_copies(tmp_path):
    src = '''
def f(enc, payload):
    import sys
    sys.path.insert(0, "/x")
    codec = _codecs.get_codec(enc)
    a = codec.decode(payload)
    b = get_codec(enc).decode(payload)
    return _codecs.decode_payload(enc, payload)
'''
    scan = _Scan("x.py")
    scan.visit(ast.parse(src))
    assert [ln for _, _, ln in scan.bootstraps] == [4]
    assert [ln for _, _, ln in scan.decodes] == [6, 7, 8]

    # a lineage cut planted in a module of the package fails the guard
    mod = tmp_path / "bigarrays_jl_spark" / "operators"
    mod.mkdir(parents=True)
    (mod / "x.py").write_text('''
def op(df, spark):
    a = df.localCheckpoint()
    b = (df.groupBy("k").count()
         .checkpoint(eager=False))
    return materialize(a.union(b), eager=True)
''')
    cuts = _scan(str(tmp_path / "bigarrays_jl_spark")).checkpoints
    assert [(r, fns[0], ln) for r, fns, ln in cuts] == [
        ("operators/x.py", "op", 3), ("operators/x.py", "op", 4)]


def test_scan_catches_hand_rolled_scans_and_encodes():
    src = '''
def op(vol, req, pool, x):
    chunks = vol._latest(vol._pruned(req))
    subset = vol._sources_subset(0, [(0, 0, 0)])

    def local(it):
        for b in it:
            for key, enc, payload in zip(b["key"], b["enc"], b["payload"]):
                hit = decode_chunk(key, enc, payload, 1, "uint8", req)
    one = decode_chunk("0-1_0-1_0-1", "raw", b"x", 1, "uint8")
    codec = _codecs.get_codec("gzip")
    b = codec.encode(x)
    pool.submit(codec.encode, x)
    return get_codec("raw").encode(x)
'''
    scan = _Scan("operators/x.py")
    scan.visit(ast.parse(src))
    assert [ln for _, _, ln in scan.private] == [3, 3, 4]
    assert [ln for _, _, ln in scan.chunk_loops] == [9]
    assert [ln for _, _, ln in scan.chunk_decodes] == [10]
    assert _sites(scan.chunk_loops) == [("operators/x.py", "op")]
    assert [ln for _, _, ln in scan.encodes] == [12, 13, 14]

    src = '''
class Volume:
    def live_chunks(self, request=None):
        return self._latest(self._pruned(request))

    def stats(self, m):
        return self._latest(self.chunks_df(m)).count()

    def _fold_mip(self, mip, drop=None):
        self._write_chunks(df, mip=mip, mode="overwrite", path=tmp)
        self._swap_mip_dir(mip)

    def delete(self, ranges):
        self._write_chunks(df, None, "overwrite")
        self._swap_mip_dir(self.mip)
        self._write_chunks(df)
        self._write_chunks(df, mode="append")
'''
    scan = _Scan("volume.py")
    scan.visit(ast.parse(src))
    assert _volume_violations(scan) == [
        ("_latest", ["stats"], 7), ("_write_chunks", ["delete"], 14),
        ("_swap_mip_dir", ["delete"], 15)]


def _boundary_geometry(fn):
    """The ``GEOMETRY`` functions a per-chunk pass calls, and the lines
    where it builds boundary geometry of its own: a ``slice()`` call, an
    ``ndarray.take``, or a ``for`` loop over ``range(3)`` (the axes) or
    over a literal tuple or list (the two sides of a block)."""
    calls, own = set(), []
    for node in ast.walk(fn):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(
                f, "id", None)
            if name in GEOMETRY:
                calls.add(name)
            if name == "slice" and isinstance(f, ast.Name) or (
                    name == "take" and isinstance(f, ast.Attribute)):
                own.append(node.lineno)
        if isinstance(node, ast.For) and (
                isinstance(node.iter, (ast.Tuple, ast.List))
                or ast.unparse(node.iter) == "range(3)"):
            own.append(node.lineno)
    return calls, sorted(own)


def _boundary_passes(pkg=PKG):
    out = {}
    for rel, outer, inner in BOUNDARY_PASSES:
        with open(os.path.join(pkg, rel)) as f:
            tree = ast.parse(f.read())
        fn = next(n for n in tree.body
                  if isinstance(n, ast.FunctionDef) and n.name == outer)
        fn = next(n for n in ast.walk(fn)
                  if isinstance(n, ast.FunctionDef) and n.name == inner)
        out[rel] = _boundary_geometry(fn)
    return out


def test_one_chunk_boundary_geometry():
    """None of the per-chunk passes keeps a boundary-plane or axis-shift
    loop of its own: each takes its faces and neighbour pairs from
    ``indexes``."""
    for rel, (calls, own) in _boundary_passes().items():
        assert calls, rel
        assert own == [], (rel, own)


def test_geometry_scan_catches_hand_rolled_faces():
    src = '''
def local_pass(key, cbox, cut, block):
    sh = block.shape
    for _, lo, hi in _ix.axis_pairs(sh):
        pass
    for ax in range(3):
        for side, plane_rel in ((0, 0), (1, sh[ax] - 1)):
            fsl = [slice(None)] * 3
    lo = block.take(range(sh[0] - 1), axis=0)
    for k in range(sh[2]):
        pass
'''
    calls, own = _boundary_geometry(ast.parse(src).body[0])
    assert calls == {"axis_pairs"}
    assert own == [6, 7, 8, 9]
