"""Every chunk read goes through one decode function and every executor
closure through one worker bootstrap: an AST scan of the package fails
on a hand-rolled copy of either, so a fix to the decode path (the jpeg
aspect guard, the byte-count check, error context naming the chunk)
cannot miss a read path again."""
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


def _is_get_codec(node):
    f = node.func if isinstance(node, ast.Call) else None
    return (isinstance(f, ast.Name) and f.id == "get_codec") or (
        isinstance(f, ast.Attribute) and f.attr == "get_codec")


class _Scan(ast.NodeVisitor):
    def __init__(self, rel):
        self.rel = rel
        self.stack = ["<module>"]           # enclosing functions
        self.codec_names = [set()]
        self.bootstraps, self.decodes = [], []

    def visit_FunctionDef(self, node):
        self.stack.append(node.name)
        self.codec_names.append(set())
        self.generic_visit(node)
        self.codec_names.pop()
        self.stack.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Assign(self, node):
        if _is_get_codec(node.value):
            self.codec_names[-1].update(
                t.id for t in node.targets if isinstance(t, ast.Name))
        self.generic_visit(node)

    def visit_Call(self, node):
        f, where = node.func, (self.rel, self.stack[1:], node.lineno)
        if isinstance(f, ast.Attribute):
            if f.attr == "insert" and ast.unparse(f.value) == "sys.path":
                self.bootstraps.append(where)
            if f.attr == "decode" and (
                    _is_get_codec(f.value)
                    or isinstance(f.value, ast.Name)
                    and any(f.value.id in s for s in self.codec_names)):
                self.decodes.append(where)
        name = f.attr if isinstance(f, ast.Attribute) else getattr(
            f, "id", None)
        if name == "decode_payload":
            self.decodes.append(where)
        self.generic_visit(node)


def _scan():
    bootstraps, decodes = [], []
    for dirpath, _, names in os.walk(PKG):
        for n in names:
            if not n.endswith(".py"):
                continue
            path = os.path.join(dirpath, n)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            if rel == "codecs.py":
                continue
            with open(path) as f:
                scan = _Scan(rel)
                scan.visit(ast.parse(f.read(), path))
            bootstraps += scan.bootstraps
            decodes += scan.decodes
    return bootstraps, decodes


def test_one_worker_bootstrap():
    bootstraps, _ = _scan()
    assert [(r, fns[0]) for r, fns, _ in bootstraps] == \
        [("volume.py", "_on_workers")], bootstraps


def test_one_chunk_decode_site():
    _, decodes = _scan()
    sites = [(r, fns[0] if fns else None) for r, fns, _ in decodes]
    assert set(sites) <= DECODE_SITES, decodes
    assert [s for s in sites if s[0] == "volume.py"] \
        == [("volume.py", "decode_chunk")]


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
