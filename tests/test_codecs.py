"""Codec tests — magic-sniffing decode semantics from src/Codings.jl."""

import gzip

import numpy as np
import pytest

from bigarrays_jl_spark import codecs


@pytest.fixture
def payload():
    rng = np.random.default_rng(42)
    return rng.integers(0, 255, size=10_000, dtype=np.uint8).tobytes()


def test_raw_identity(payload):
    c = codecs.get_codec("raw")
    assert c.decode(c.encode(payload)) == payload
    assert c.encode(payload) == payload


def test_gzip_roundtrip(payload):
    c = codecs.get_codec("gzip")
    enc = c.encode(payload)
    assert enc[:3] == codecs.GZIP_MAGIC
    assert c.decode(enc) == payload


def test_gzip_adaptive_encode():
    # r18: encode probes large payloads and emits a STORED-block gzip
    # frame when deflate provably cannot pay — both branches must stay
    # standard gzip (magic + exact round-trip), and compressible data
    # must still actually compress at the old level-6 ratio.
    c = codecs.get_codec("gzip")
    rng = np.random.default_rng(7)
    incompressible = rng.integers(0, 256, size=256 * 1024,
                                  dtype=np.uint8).tobytes()
    compressible = (np.arange(256 * 1024, dtype=np.uint32) // 1024) \
        .astype(np.uint8).tobytes()
    for data in (incompressible, compressible):
        enc = c.encode(data)
        assert enc[:3] == codecs.GZIP_MAGIC
        assert c.decode(enc) == data
    # the stored branch stays ~1:1 instead of inflating, the deflate
    # branch keeps its real ratio
    assert len(c.encode(incompressible)) < 1.01 * len(incompressible)
    assert len(c.encode(compressible)) < 0.5 * len(compressible)
    # payloads at/below the probe floor take the plain level-6 path
    small = incompressible[:4 * 1024]
    assert c.decode(c.encode(small)) == small


def test_gzip_sniff_passthrough(payload):
    # src/Codings.jl:65-72: non-gzip input passes through unchanged
    c = codecs.get_codec("gzip")
    not_gzip = b"\x00\x01" + payload
    assert c.decode(not_gzip) == not_gzip


def test_zstd_roundtrip_and_sniff():
    # always available: 'zstandard' if installed, else the pyarrow
    # bundled backend (pyarrow is a hard dependency of the engine)
    c = codecs.get_codec("zstd")
    data = b"hello" * 100
    enc = c.encode(data)
    assert enc[:4] == codecs.ZSTD_MAGIC
    assert c.decode(enc) == data
    assert c.decode(b"\x00" + data) == b"\x00" + data
    assert "zstd" in codecs.available_encodings()


def test_jpeg_parity_stub(payload):
    c = codecs.get_codec("jpeg")
    with pytest.raises(NotImplementedError):
        c.encode(payload)           # parity stub ALWAYS (ref is dead)
    try:
        import PIL  # noqa: F401  (decode is opt-in when Pillow exists)
    except ImportError:
        with pytest.raises(NotImplementedError):
            c.decode(payload)


def test_jpeg_decode_plumbing_with_fake_pillow(monkeypatch):
    """The opt-in decode path, driven by an injected fake PIL: verifies
    the BytesIO hand-off, the uint8/2-D validation, and the documented
    Fortran contract (row-major (sy·sz, sx) pixels == F-order payload)
    without the real library (absent in this container)."""
    import io
    import sys
    import types

    import numpy as np
    sx, sy, sz = 4, 3, 2
    chunk = np.arange(sx * sy * sz, dtype=np.uint8).reshape(
        (sx, sy, sz), order="F")
    header = b"FAKEJPG0"
    # the fake "jpeg" = header + row-major pixels of the stacked image
    pixels = chunk.reshape((sx, sy * sz), order="F").T   # (sy*sz, sx)
    payload = header + np.ascontiguousarray(pixels).tobytes()

    def fake_open(bio):
        assert isinstance(bio, io.BytesIO)
        raw = bio.read()
        assert raw.startswith(header)
        return np.frombuffer(raw[len(header):], np.uint8).reshape(
            sy * sz, sx)

    fake_pil = types.ModuleType("PIL")
    fake_pil.Image = types.SimpleNamespace(open=fake_open)
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)

    c = codecs.get_codec("jpeg")
    out = c.decode(payload)
    # decoded bytes reshaped F-order reproduce the chunk exactly
    assert (np.frombuffer(out, np.uint8).reshape((sx, sy, sz), order="F")
            == chunk).all()
    # encode stays the parity stub even with "Pillow" present
    with pytest.raises(NotImplementedError):
        c.encode(out)


def test_jpeg_decode_rejects_unsupported_modes(monkeypatch):
    import sys
    import types

    import numpy as np
    fake_pil = types.ModuleType("PIL")
    fake_pil.Image = types.SimpleNamespace(
        open=lambda bio: np.zeros((2, 2, 3), np.uint8))   # RGB
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    with pytest.raises(ValueError, match="single-channel"):
        codecs.get_codec("jpeg").decode(b"x")


def test_unknown_encoding():
    with pytest.raises(ValueError):
        codecs.get_codec("lz4-nope")


def test_available_encodings():
    av = codecs.available_encodings()
    assert "raw" in av and "gzip" in av


def test_jpeg_decode_width_validation(monkeypatch):
    """r13 advice: same TOTAL bytes but wrong aspect must be rejected
    when the caller supplies the chunk's sx (expected_width)."""
    import sys
    import types

    import numpy as np
    img = np.zeros((4, 8), np.uint8)          # 32 bytes, width 8
    fake_pil = types.ModuleType("PIL")
    fake_pil.Image = types.SimpleNamespace(open=lambda bio: img)
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    c = codecs.get_codec("jpeg")
    # matching width decodes; byte-identical result with no width hint
    assert c.decode(b"x", expected_width=8) == c.decode(b"x")
    # same 32 bytes, wrong aspect: caught instead of scrambling voxels
    with pytest.raises(ValueError, match="width"):
        c.decode(b"x", expected_width=16)


def test_jpeg_real_pillow_roundtrip():
    """Genuine Pillow encode → our decode (r13 verdict task 6).
    Auto-skips where Pillow is absent (this sandbox); on a Pillow
    environment it proves the stacked-slice layout end-to-end: a
    smooth grayscale chunk written by PIL.Image.save(format=JPEG)
    comes back with the right shape and near-identical values (JPEG is
    lossy, so the pin is a tolerance, not bit-equality)."""
    PIL = pytest.importorskip("PIL")
    import io

    import numpy as np
    from PIL import Image

    sx, sy, sz = 16, 8, 4
    # smooth gradient: low-frequency content JPEG preserves well
    x, y, z = np.meshgrid(np.arange(sx), np.arange(sy), np.arange(sz),
                          indexing="ij")
    chunk = (64 + 4 * x + 2 * y + 8 * z).astype(np.uint8)
    stacked = chunk.reshape((sx, sy * sz), order="F").T   # (sy*sz, sx)
    bio = io.BytesIO()
    Image.fromarray(np.ascontiguousarray(stacked), mode="L") \
        .save(bio, format="JPEG", quality=95)

    out = codecs.get_codec("jpeg").decode(bio.getvalue(), expected_width=sx)
    got = np.frombuffer(out, np.uint8).reshape((sx, sy, sz), order="F")
    assert got.shape == chunk.shape
    assert np.abs(got.astype(int) - chunk.astype(int)).max() <= 12
    # the aspect guard fires on a wrong sx even for a real jpeg
    with pytest.raises(ValueError, match="width"):
        codecs.get_codec("jpeg").decode(bio.getvalue(),
                                        expected_width=sx * 2)


def test_gzip_probe_samples_the_whole_payload():
    """A 128^3 uint8 chunk whose start, middle and end are noise but
    whose other z-slabs are smooth is mostly compressible: the probe
    slices, one per 128 KiB of it, must find that and deflate it.
    Uniform 64^3 chunks keep the decision three slices made."""
    c = codecs.get_codec("gzip")
    rng = np.random.default_rng(11)
    x, y, z = np.meshgrid(np.arange(128), np.arange(128), np.arange(128),
                          indexing="ij")
    chunk = ((x // 4 + y // 8 + z // 16) % 256).astype(np.uint8)
    noisy = np.zeros(128, bool)
    noisy[:8] = noisy[60:68] = noisy[120:] = True
    chunk[:, :, noisy] = rng.integers(0, 256, size=(128, 128, noisy.sum()),
                                      dtype=np.uint8)
    data = chunk.tobytes(order="F")
    enc = c.encode(data)
    assert c.decode(enc) == data
    assert len(enc) < 0.5 * len(data)
    smooth = np.ascontiguousarray(
        ((x // 4 + y // 8 + z // 16) % 256).astype(np.uint8)[:64, :64, :64]
    ).tobytes(order="F")
    noise = rng.integers(0, 256, size=64 ** 3, dtype=np.uint8).tobytes()
    assert len(c.encode(smooth)) == len(gzip.compress(smooth, 6))
    assert len(c.encode(noise)) == len(gzip.compress(noise, 0))


def test_adaptive_gzip_equivalence_through_volume_roundtrip(spark, tmp_path):
    """The r18 stored-block branch must be invisible to the volume
    layer: a write/cutout round-trip of high-entropy (stored branch)
    and smooth (deflate branch) data over the SAME gzip-encoded volume
    is exact."""
    import numpy as np
    from bigarrays_jl_spark.infos import Info
    from bigarrays_jl_spark.volume import Volume

    info = Info.from_dict({
        "num_channels": 1, "type": "image", "data_type": "uint8",
        "scales": [{"encoding": "gzip", "chunk_sizes": [[64, 64, 64]],
                    "key": "1_1_1", "resolution": [1, 1, 1],
                    "voxel_offset": [0, 0, 0], "size": [64, 64, 128]}]})
    vol = Volume.create(spark, str(tmp_path / "vol"), info)
    rng = np.random.default_rng(11)
    noise = rng.integers(0, 256, size=(64, 64, 64), dtype=np.uint8)
    smooth = np.indices((64, 64, 64), dtype=np.uint16).sum(0) \
        .astype(np.uint8)
    vol.write(noise, (0, 0, 0))
    vol.write(smooth, (0, 0, 64))
    out, origin = vol.cutout(((0, 64), (0, 64), (0, 128)))
    assert origin == (0, 0, 0)
    assert (out[:, :, :64] == noise).all()
    assert (out[:, :, 64:] == smooth).all()
