"""Grid (de)serialization, allowed samplings, dedup units, multimodal ops."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from equi7grid_spark.constants import allowed_samplings, make_grid_config
from equi7grid_spark.grids import grid_from_def, grid_from_file, grid_to_def, grid_to_file


def test_grid_json_roundtrip(tmp_path):
    cfg = make_grid_config({"T6": 500, "T3": 40}, buffered=True, continent_order=["EU", "AS"])
    d = grid_to_def(cfg)
    cfg2 = grid_from_def(d)
    assert cfg2 == cfg
    p = tmp_path / "grid.json"
    grid_to_file(cfg, p)
    assert grid_from_file(p) == cfg
    # partial sampling map drops other levels (reference docs/guides/grid.ipynb)
    assert set(cfg.tilings) == {"T6", "T3"}


def test_grid_def_rejects_foreign():
    with pytest.raises(ValueError):
        grid_from_def({"kind": "other"})


def test_allowed_samplings():
    # reference core.py:651-665; divisors of 600000 include 625 and 9375
    # (docs/howto.ipynb shows them in the output)
    d = allowed_samplings(600_000)
    assert len(d) == 84
    assert 625.0 in d and 9375.0 in d and 500.0 in d
    assert all(600_000 % x == 0 for x in d)


def test_grid_config_n_pixels():
    cfg = make_grid_config(500)
    assert cfg.n_pixels("T6") == 1200
    assert cfg.n_pixels("T1") == 200
    with pytest.raises(ValueError):
        make_grid_config(7).n_pixels("T6")  # 7 does not divide 600000


def test_shingles_and_minhash_determinism(spark):
    from equi7grid_spark.dedup import minhash_wide, shingles

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d"), (3, "x y"), (4, "totally different text here")],
        "doc_id long, text string",
    )
    sh = df.select("doc_id", shingles(F.col("text")).alias("s")).collect()
    by_id = {r.doc_id: r.s for r in sh}
    assert by_id[1] == ["a b c", "b c d"]
    assert by_id[3] == []  # too short → empty, not descending-sequence garbage
    sig = {r.doc_id: r for r in minhash_wide(df).collect()}
    sig1 = [sig[1][f"m{p}"] for p in range(8)]
    sig2 = [sig[2][f"m{p}"] for p in range(8)]
    assert sig1 == sig2  # identical docs → identical signatures
    assert all(m is not None for m in sig1)


def test_image_ops(spark):
    from equi7grid_spark.images import synthetic_images
    from equi7grid_spark.operators.multimodal import (
        image_histogram_features,
        image_stats,
        resize_images,
    )

    imgs = synthetic_images(spark, 30, with_bytes=True)
    stats = image_stats(imgs).collect()
    assert len(stats) == 30
    for r in stats:
        assert 0 <= r.px_min <= r.px_max <= 255
        assert 0.0 < r.px_mean < 255.0
    rs = resize_images(imgs, 8, 8).collect()
    assert all((r.w, r.h) == (8, 8) and len(r.bytes) == 64 for r in rs)
    feats = image_histogram_features(imgs).collect()
    for r in feats:
        assert len(r.features) == 16
        assert abs(sum(r.features) - 1.0) < 1e-9


def test_audio_video_stubs(spark):
    from equi7grid_spark.operators.multimodal import audio_stats, sample_video_frames

    wav = (np.sin(np.linspace(0, 20, 1000)) * 10000).astype("<i2")
    adf = spark.createDataFrame(
        [("clip0", wav.tobytes(), "fake-pcm")], "clip_id string, bytes binary, fmt string"
    )
    r = audio_stats(adf).collect()[0]
    assert r.n_samples == 1000 and r.peak <= 10000 and r.rms > 0

    frames = np.arange(4 * 6 * 5, dtype=np.uint8).tobytes()  # 5 frames of 4x6
    vdf = spark.createDataFrame(
        [("vid0", frames, "fake-frames", 4, 6)],
        "video_id string, bytes binary, fmt string, w int, h int",
    )
    out = sample_video_frames(vdf, every_n=2).collect()
    assert [r.frame_idx for r in sorted(out, key=lambda r: r.frame_idx)] == [0, 2, 4]

    bad = spark.createDataFrame(
        [("clip1", b"", "mp3")], "clip_id string, bytes binary, fmt string"
    )
    with pytest.raises(Exception, match="NotImplementedError|no audio codecs"):
        audio_stats(bad).collect()


def test_audio_video_null_bytes_give_null_outputs(spark):
    """A null clip or video among good ones gets null outputs (audio)
    or no frames (video) instead of failing the job; the good rows keep
    their values."""
    from equi7grid_spark.operators.multimodal import audio_stats, sample_video_frames

    wav = (np.arange(-50, 50) * 300).astype("<i2")
    adf = spark.createDataFrame(
        [("ok", wav.tobytes(), "fake-pcm"), ("no_bytes", None, "fake-pcm"),
         ("no_fmt", wav.tobytes(), None)],
        "clip_id string, bytes binary, fmt string",
    )
    got = {r.clip_id: r for r in audio_stats(adf).collect()}
    assert (got["ok"].n_samples, got["ok"].peak) == (100, 15000)
    assert got["ok"].rms == np.sqrt(np.mean(wav.astype(np.float64) ** 2))
    for cid in ("no_bytes", "no_fmt"):
        assert (got[cid].n_samples, got[cid].rms, got[cid].peak) == (None, None, None)

    frames = np.arange(4 * 6 * 3, dtype=np.uint8).tobytes()  # 3 frames of 4x6
    vdf = spark.createDataFrame(
        [("v_ok", frames, "fake-frames", 4, 6), ("v_null", None, "fake-frames", 4, 6)],
        "video_id string, bytes binary, fmt string, w int, h int",
    )
    out = sample_video_frames(vdf, every_n=1).collect()
    assert sorted((r.video_id, r.frame_idx) for r in out) == [("v_ok", k) for k in range(3)]


def test_geoparquet_export(tmp_path):
    import json

    import pyarrow.parquet as pq

    from equi7grid_spark.export import tiles_to_geoparquet
    from equi7grid_spark.roi import get_tiles_in_geog_bbox
    from equi7grid_spark.wkb import parse_wkb

    tiles = get_tiles_in_geog_bbox((16, 48, 18, 50), "T6")
    out = tmp_path / "tiles.parquet"
    tiles_to_geoparquet(tiles, out)
    t = pq.read_table(out)
    assert t.num_rows == 4
    meta = json.loads(t.schema.metadata[b"geo"])
    assert meta["primary_column"] == "geometry"
    ring = parse_wkb(t.column("geometry")[0].as_py())[0][0]
    # EU_E048N012T6 footprint must contain the reference golden point
    # (18.507, 44.571) → tests/test_equi7grid.py:164-174
    assert ring[:, 0].min() < 18.507 < ring[:, 0].max()
    assert ring[:, 1].min() < 44.571 < ring[:, 1].max()


def test_buffered_roi_search():
    from equi7grid_spark.constants import make_grid_config
    from equi7grid_spark.roi import get_tiles_in_geog_bbox

    bbox = (49, 58, 53, 64)  # EU/AS transition region (51.12, 61.71)
    std = get_tiles_in_geog_bbox(bbox, "T6")
    bfrd = get_tiles_in_geog_bbox(bbox, "T6", grid=make_grid_config(500, buffered=True))
    # buffered zones overlap → superset of tiles
    assert {t.tilename for t in std} <= {t.tilename for t in bfrd}
    assert len(bfrd) > len(std)
