"""advanced: the scratch-volume fixture behind the volume queries."""
import os
import tempfile

import numpy as np
import pytest


def _files(root):
    return sorted((os.path.join(d, f), os.stat(os.path.join(d, f)).st_mtime_ns)
                  for d, _, fs in os.walk(root) for f in fs)


def test_scratch_volume_reuses_only_a_completed_fill(spark, tmp_path,
                                                     monkeypatch):
    from bigarrays_jl_spark.infos import Info
    from bigarrays_jl_spark.operators.advanced import scratch_volume

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    info = Info.from_dict({
        "num_channels": 1, "type": "image", "data_type": "uint8",
        "scales": [{"encoding": "gzip", "chunk_sizes": [[8, 8, 8]],
                    "key": "1_1_1", "resolution": [1, 1, 1],
                    "voxel_offset": [0, 0, 0], "size": [16, 16, 16]}]})
    top = tmp_path / f"bigarrays_crash_{os.getpid()}"
    sentinel = top / "INGEST_COMPLETE"
    box = ((0, 16), (0, 16), (0, 16))

    # a fill that dies after writing leaves no sentinel
    def crash(vol):
        vol.write(np.full((16, 16, 16), 7, np.uint8), (0, 0, 0))
        raise RuntimeError("fill died")
    with pytest.raises(RuntimeError, match="fill died"):
        scratch_volume(spark, "crash", info, crash)
    assert not sentinel.exists()

    # the next call rebuilds from scratch: the half it does not write
    # reads as zeros, not as the crashed attempt's 7s
    half = (np.arange(8 * 16 * 16) % 251).astype(np.uint8).reshape(8, 16, 16)
    calls = []

    def fill(vol):
        calls.append("fill")
        vol.write(half, (0, 0, 0))
    vol = scratch_volume(spark, "crash", info, fill)
    want = np.zeros((16, 16, 16), np.uint8)
    want[:8] = half
    assert sentinel.exists() and calls == ["fill"]
    np.testing.assert_array_equal(vol.cutout(box)[0], want)

    # after completion a call reopens the fixture and writes nothing
    before = _files(top)
    again = scratch_volume(spark, "crash", info, fill)
    assert calls == ["fill"]
    assert _files(top) == before
    np.testing.assert_array_equal(again.cutout(box)[0], want)
