"""Tests of operators/volume_stencil.py."""


def test_stencil_matches_numpy_on_adversarial_volume(spark, tmp_path):
    """The halo exchange must agree with a dense numpy 7-point filter
    on a RANDOM volume (the registry oracle only sees the closed-form
    demo) — including a request that clips chunks mid-volume."""
    import numpy as np

    from bigarrays_jl_spark.infos import Info
    from bigarrays_jl_spark.operators.volume_stencil import (
        SCALE_LCM, _stencil_stream)
    from bigarrays_jl_spark.volume import Volume
    from pyspark.sql import functions as F

    info = Info.from_dict({
        "num_channels": 1, "type": "image", "data_type": "uint8",
        "scales": [{"encoding": "gzip", "chunk_sizes": [[16, 16, 16]],
                    "key": "1_1_1", "resolution": [1, 1, 1],
                    "voxel_offset": [0, 0, 0], "size": [48, 32, 32]}]})
    vol = Volume.create(spark, str(tmp_path / "v"), info)
    rng = np.random.default_rng(99)
    a = rng.integers(0, 256, (48, 32, 32), dtype=np.uint8)
    vol.write(a, (0, 0, 0))

    box = ((0, 48), (0, 32), (0, 32))
    stream = _stencil_stream(vol, box)
    inner = (stream.filter(F.col("kind") == 0)
             .groupBy("z").agg(F.sum("ssum").alias("s"),
                               F.sum("nvox").alias("n")))
    got = {}
    n_nb_of = lambda x, y, z: (1 + (x > 0) + (x < 47) + (y > 0)
                               + (y < 31) + (z > 0) + (z < 31))
    # reassemble per-z scaled sums from the stream exactly as the
    # operator does (surface offsets + interior partials)
    surf = (stream.filter(F.col("kind") == 1)
            .groupBy("x", "y", "vz").agg(F.sum("term").alias("st"))
            .collect())
    for r in inner.collect():
        got[r["z"]] = got.get(r["z"], 0) + r["s"]
    for r in surf:
        got[r["vz"]] = got.get(r["vz"], 0) + r["st"] * (
            SCALE_LCM // n_nb_of(r["x"], r["y"], r["vz"]))

    ai = a.astype(np.int64)
    pad = np.pad(ai, 1)
    s = (ai + pad[:-2, 1:-1, 1:-1] + pad[2:, 1:-1, 1:-1]
         + pad[1:-1, :-2, 1:-1] + pad[1:-1, 2:, 1:-1]
         + pad[1:-1, 1:-1, :-2] + pad[1:-1, 1:-1, 2:])
    xs, ys, zs = np.meshgrid(np.arange(48), np.arange(32), np.arange(32),
                             indexing="ij")
    nnb = (1 + (xs > 0) + (xs < 47) + (ys > 0) + (ys < 31)
           + (zs > 0) + (zs < 31))
    scaled = s * (SCALE_LCM // nnb)
    want = {int(z): int(scaled[:, :, z].sum()) for z in range(32)}
    assert got == want
