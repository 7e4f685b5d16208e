"""Chunk payload codecs with magic-byte-sniffing decode.

Mirrors the reference codec layer (src/Codings.jl): raw passthrough,
gzip, zstd, blosc, with the reference's defensive decode behavior — if a
payload does not start with the codec's magic bytes it is passed through
unchanged (src/Codings.jl:51-57 for zstd, :65-72 for gzip).  This guards
against double-compression by cloud storage layers.

zstd prefers the dedicated ``zstandard`` package and falls back to the
pyarrow bundled zstd codec (pyarrow is already a hard dependency of the
Arrow UDF layer), so zstd chunks round-trip in any environment this
engine runs in — covering the reference's codec sweep
(test/BinDicts.jl:99-108).  blosclz prefers the C ``blosc`` package
and falls back to the vendored pure-Python Blosc1 decoder
(``blosclz.py``) — existing blosclz layers decode anywhere, and
fallback writes emit valid pure-memcpy blosc frames (c-blosc's own
clevel-0 output).  JPEG parity: the reference's JPEG encode is
unimplemented and decode is disabled — src/Codings.jl:82-94 — we mirror
that with NotImplementedError.
"""

from __future__ import annotations

import gzip as _gzip
import zlib as _zlib

GZIP_MAGIC = b"\x1f\x8b\x08"          # src/Codings.jl:15
ZSTD_MAGIC = b"\x28\xb5\x2f\xfd"      # src/Codings.jl:16

try:  # optional
    import zstandard as _zstd
except ImportError:  # pragma: no cover
    _zstd = None

try:  # fallback zstd backend: bundled with pyarrow (standard frames)
    import pyarrow as _pa
    _pa_zstd = _pa.Codec("zstd")
except Exception:  # pragma: no cover
    _pa = None
    _pa_zstd = None

try:  # optional fast path
    import blosc as _blosc
except ImportError:  # pragma: no cover
    _blosc = None

from bigarrays_jl_spark import blosclz as _blosclz_py


class Codec:
    name = "abstract"

    def encode(self, data: bytes) -> bytes:
        raise NotImplementedError

    def decode(self, data: bytes) -> bytes:
        raise NotImplementedError


class RawCodec(Codec):
    """Identity (src/Codings.jl:39-45). Parquet's own page compression
    (zstd) covers the storage-size concern the reference solved by
    aliasing raw→gzip (src/Infos.jl:23-30)."""

    name = "raw"

    def encode(self, data: bytes) -> bytes:
        return data

    def decode(self, data: bytes) -> bytes:
        return data


class GzipCodec(Codec):
    """gzip with magic-sniffing decode (src/Codings.jl:60-72).

    Encode is ratio-adaptive (r18): deflate's match-finder costs
    ~50 MB/s/core on data it cannot compress (measured: level 1 and
    level 6 are equally slow AND equally useless on high-entropy
    chunks — EM noise, already-compressed payloads), so large payloads
    are probed first — evenly spread 8 KiB slices through level-1
    deflate, three of them up to 384 KiB and one per 128 KiB above
    that, so the probe stays within 1/16 of a large payload while a
    payload that mixes smooth and noisy regions is sampled across
    them, not at three points.  If even the fast probe cannot shave
    10 %, the payload is emitted as a STORED-block gzip stream
    (``compresslevel=0`` — still a standard gzip frame, ~1.0002× the
    input, decodable by any inflater including the reference's
    GzipDecompressorStream) at memcpy+CRC32 speed (~2 GB/s/core)
    instead of paying two orders of magnitude more CPU for zero size
    win.  Compressible payloads take
    the probe (~0.2 ms) and then compress at level 6 exactly as
    before, so stored ratios are unchanged where compression pays.
    This is the same cost model as c-blosc's clevel-0 memcpy fallback
    (vendored in blosclz.py) and Parquet's per-page "is compression
    worth it" check.  Decode is untouched: a stored-block frame still
    begins with GZIP_MAGIC and round-trips through the same
    ``gzip.decompress``."""

    name = "gzip"

    _PROBE = 8192          # bytes per probe slice
    _PROBE_SHARE = 16      # past three slices, probe 1/16 of the payload
    _THRESHOLD = 0.90      # probe must beat this ratio to earn deflate

    def encode(self, data: bytes) -> bytes:
        n = len(data)
        p = self._PROBE
        if n > 6 * p:
            k = max(3, n // (self._PROBE_SHARE * p))
            mv = memoryview(data)
            probe = b"".join(mv[(n - p) * i // (k - 1):][:p]
                             for i in range(k))
            if len(_zlib.compress(probe, 1)) >= self._THRESHOLD * len(probe):
                return _gzip.compress(data, compresslevel=0)
        return _gzip.compress(data, compresslevel=6)

    def decode(self, data: bytes) -> bytes:
        if data[:3] != GZIP_MAGIC:
            return data          # passthrough: not actually gzipped
        return _gzip.decompress(data)


class ZstdCodec(Codec):
    """zstd with magic-sniffing decode (src/Codings.jl:47-57).

    Backend order: ``zstandard`` if installed, else pyarrow's bundled
    zstd (identical standard frames; decode streams because pyarrow's
    one-shot API needs the decompressed size up front)."""

    name = "zstd"

    def __init__(self):
        if _zstd is None and _pa_zstd is None:
            raise NotImplementedError(
                "zstd codec requires 'zstandard' or 'pyarrow'")

    def encode(self, data: bytes) -> bytes:
        if _zstd is not None:
            return _zstd.ZstdCompressor().compress(data)
        return _pa_zstd.compress(data, asbytes=True)

    def decode(self, data: bytes) -> bytes:
        if data[:4] != ZSTD_MAGIC:
            return data
        if _zstd is not None:
            return _zstd.ZstdDecompressor().decompress(data)
        return _pa.CompressedInputStream(
            _pa.BufferReader(data), "zstd").read()


class BloscCodec(Codec):
    """blosclz (src/Codings.jl:74-80).

    Backend order: the C ``blosc`` package if installed, else the
    vendored pure-Python Blosc1 codec (``blosclz.py``) — full-format
    decode (splits, byte-shuffle, memcpy, raw-stored streams) AND a
    compressing encoder (greedy blosclz matcher with raw-store and
    memcpy fallbacks).  Either backend reads the other's output, so
    imported reference layers decode in any environment."""

    name = "blosclz"

    def encode(self, data: bytes) -> bytes:
        if _blosc is not None:
            return _blosc.compress(data, typesize=1, cname="blosclz")
        return _blosclz_py.compress(data)

    def decode(self, data: bytes) -> bytes:
        if _blosc is not None:
            return _blosc.decompress(data)
        return _blosclz_py.decompress(data)


class JpegCodec(Codec):
    """Encode: parity stub — unimplemented in the reference
    (src/Codings.jl:82-94, ``error("unimplemented!")``).

    Decode: OPT-IN extra beyond the reference (whose decode is
    commented out upstream), enabled when Pillow is importable.  The
    neuroglancer jpeg convention stores a [sx, sy, sz] chunk as one
    grayscale image of width sx and height sy·sz (slices stacked
    vertically); row-major pixel order of that image — x fastest, then
    y, then z — IS the Fortran-order voxel payload every other codec
    emits, so the decode is ``np.asarray(img).tobytes()`` with no
    transpose.  Without Pillow the reference-parity
    NotImplementedError stands.

    Caller invariant (r13 advice): the bytes→bytes API cannot see the
    chunk's dims, so an image whose (width, height) aspect differs
    from (sx, sy·sz) but matches in TOTAL bytes would reshape cleanly
    and yield scrambled voxels.  Callers that know the chunk shape
    should pass ``expected_width=sx`` (``decode_payload`` does); the
    downstream F-order reshape still catches any byte-COUNT mismatch."""

    name = "jpeg"

    def encode(self, data: bytes) -> bytes:
        raise NotImplementedError("jpeg encoding is unimplemented (reference parity)")

    def decode(self, data: bytes, *,
               expected_width: int | None = None) -> bytes:
        try:
            from PIL import Image
        except ImportError:
            raise NotImplementedError(
                "jpeg decoding is disabled (reference parity; install "
                "Pillow for the opt-in decode)") from None
        import io

        import numpy as np
        img = Image.open(io.BytesIO(data))
        arr = np.asarray(img)
        if arr.dtype != np.uint8 or arr.ndim != 2:
            raise ValueError(
                "jpeg decode supports single-channel uint8 chunks "
                f"(got dtype={arr.dtype}, ndim={arr.ndim}); "
                "multi-channel jpeg layers are out of scope")
        if expected_width is not None and arr.shape[1] != expected_width:
            raise ValueError(
                f"jpeg image width {arr.shape[1]} != chunk sx "
                f"{expected_width}: the stacked-slice layout would "
                "reshape into scrambled voxels")
        return arr.tobytes()


_CODECS = {
    "raw": RawCodec,
    "gzip": GzipCodec,
    "zstd": ZstdCodec,
    "blosclz": BloscCodec,
    "jpeg": JpegCodec,
}

DEFAULT_ENCODING = "gzip"  # src/Codings.jl:37


def decode_payload(encoding: str, data: bytes,
                   expected_width: int | None = None) -> bytes:
    """``get_codec(enc).decode(data)`` with the jpeg aspect guard
    applied when the caller knows the chunk's sx (r13 advice): jpeg is
    the one codec whose output shape depends on image geometry rather
    than input length, so a wrong-aspect image with the right TOTAL
    bytes would otherwise reshape into scrambled voxels downstream."""
    codec = get_codec(encoding)
    if expected_width is not None and isinstance(codec, JpegCodec):
        return codec.decode(data, expected_width=expected_width)
    return codec.decode(data)


def get_codec(encoding: str) -> Codec:
    """Encoding string → codec instance (ENCODING_MAP, src/Infos.jl:23-30)."""
    try:
        return _CODECS[encoding]()
    except KeyError:
        raise ValueError(f"unknown encoding {encoding!r}; "
                         f"supported: {sorted(_CODECS)}") from None


def available_encodings() -> list[str]:
    out = ["raw", "gzip"]
    if _zstd is not None or _pa_zstd is not None:
        out.append("zstd")
    out.append("blosclz")    # C package or the vendored pure-Python codec
    return out
