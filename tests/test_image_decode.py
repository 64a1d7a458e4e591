"""The image operators against driver-side NumPy references.

Every operator that reads the `bytes` column decodes it with
`warp/codecs.decode`; the reference here decodes each row on the
driver and applies the operator's per-image arithmetic, so an exact
match pins every output value on clean input.
"""

import numpy as np
import pandas as pd
import pytest

from equi7grid_spark.warp.codecs import DECODE_ERRORS, decode, decode_batch, encode


def _nearest(arr: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    h2, w2 = arr.shape
    ri = np.minimum((np.arange(out_h) * h2) // out_h, h2 - 1)
    ci = np.minimum((np.arange(out_w) * w2) // out_w, w2 - 1)
    return arr[ri[:, None], ci[None, :]]


def test_image_ops_equal_per_row_numpy_reference(spark):
    from equi7grid_spark.images import synthetic_images
    from equi7grid_spark.operators.multimodal import (
        compute_phash,
        image_histogram_features,
        image_stats,
        phash64,
        resize_images,
        transcode_images,
    )

    imgs = synthetic_images(spark, 300, with_bytes=True)
    rows = imgs.select("image_id", "bytes", "fmt", "w", "h").collect()
    assert {r.fmt for r in rows} == {"raw", "png", "q8"}
    meta = {r.image_id: (r.fmt, r.w, r.h) for r in rows}
    ref = {r.image_id: decode(bytes(r.bytes), r.fmt, r.w, r.h) for r in rows}

    stats = image_stats(imgs).collect()
    assert sorted(r.image_id for r in stats) == sorted(ref)
    for r in stats:
        a = ref[r.image_id]
        assert (r.fmt, r.w, r.h) == meta[r.image_id]
        assert (r.px_mean, r.px_std, r.px_min, r.px_max) == (
            a.mean(), a.std(), int(a.min()), int(a.max())
        ), r.image_id

    for out_w, out_h, out_fmt in ((8, 8, "raw"), (12, 9, "png")):
        got = resize_images(imgs, out_w, out_h, out_fmt).collect()
        assert len(got) == len(ref)
        for r in got:
            assert (r.w, r.h, r.fmt) == (out_w, out_h, out_fmt)
            want = encode(_nearest(ref[r.image_id], out_w, out_h), out_fmt)
            assert bytes(r.bytes) == want, r.image_id

    for n_bins in (16, 8):
        got = image_histogram_features(imgs, n_bins).collect()
        assert len(got) == len(ref)
        for r in got:
            a = ref[r.image_id]
            counts = np.bincount(a.ravel(), minlength=256)
            hist = counts.reshape(n_bins, 256 // n_bins).sum(axis=1)
            assert r.features == (hist / a.size).tolist(), r.image_id

    for out_fmt in ("q8", "png", "raw"):
        got = transcode_images(imgs, out_fmt).collect()
        assert len(got) == len(ref)
        for r in got:
            assert (r.w, r.h, r.fmt) == (*meta[r.image_id][1:], out_fmt)
            assert bytes(r.bytes) == encode(ref[r.image_id], out_fmt), r.image_id

    got = {r.image_id: r.phash for r in compute_phash(imgs).collect()}
    assert got == {iid: phash64(a) for iid, a in ref.items()}


def test_decode_reads_raw_as_dtype_and_casts_png_q8():
    a = (np.arange(6 * 4, dtype=np.int16).reshape(6, 4) - 7) * 300
    got = decode(a.tobytes(), "raw", 4, 6, dtype="int16")
    assert got.dtype == np.int16 and np.array_equal(got, a)
    u8 = (np.arange(6 * 4).reshape(6, 4) * 9).astype(np.uint8)
    for fmt in ("png", "q8"):
        got = decode(encode(u8, fmt), fmt, 4, 6, dtype="float32")
        assert got.dtype == np.float32
        assert np.array_equal(got, decode(encode(u8, fmt), fmt, 4, 6).astype(np.float32))


@pytest.mark.parametrize("fmt", ["raw", "png", "q8"])
def test_decoder_raises_only_decode_errors(fmt):
    """Every truncation, single-byte corruption and garbage payload of
    one encoded image either decodes to a non-empty array or raises one
    of DECODE_ERRORS; no other exception class escapes a decoder."""
    rng = np.random.default_rng(11)
    good = encode(rng.integers(0, 256, (7, 5)).astype(np.uint8), fmt)
    hostile = [good[:n] for n in range(len(good))]
    for i in range(len(good)):
        for flip in (0x01, 0x80, 0xFF):
            b = bytearray(good)
            b[i] ^= flip
            hostile.append(bytes(b))
    hostile += [rng.bytes(n) for n in (1, 4, 12, 35, 64, 300)]
    hostile += [good[:12] + rng.bytes(n) for n in (1, 40, 300)]
    n_raised = 0
    for data in hostile:
        for dtype in ("uint8", "int16"):
            try:
                arr = decode(data, fmt, 5, 7, dtype)
            except DECODE_ERRORS:
                n_raised += 1
            else:
                assert arr.dtype == np.dtype(dtype) and arr.size > 0
    assert n_raised > len(good)
    # every truncation of a q8 payload and every short raw buffer raises
    for n in range(len(good)):
        if fmt in ("raw", "q8"):
            with pytest.raises(DECODE_ERRORS):
                decode(good[:n], fmt, 5, 7)
    # a raw payload must hold exactly w x h values of its dtype
    if fmt == "raw":
        with pytest.raises(ValueError):
            decode(good + b"\0", fmt, 5, 7)
    with pytest.raises(ValueError, match="unknown fmt"):
        decode(good, "jpeg", 5, 7)
    with pytest.raises(ValueError, match="empty image"):
        decode(b"", "raw", 0, 7)
    if fmt == "png":
        # a CRC makes every single-byte corruption of a PNG detectable
        assert n_raised >= 2 * 3 * len(good)
        for data, why in _png_gaps(good):
            with pytest.raises(ValueError, match=why):
                decode(data, "png", 5, 7)


def _png_gaps(good: bytes) -> list[tuple[bytes, str]]:
    """PNGs with consistent chunk CRCs that the reader must still
    reject, plus one whose CRC is wrong: (payload, error pattern)."""
    import struct
    import zlib

    from equi7grid_spark.warp.codecs import _PNG_SIG, _chunk

    chunks, off = [], 8
    while off < len(good):
        (n,) = struct.unpack_from(">I", good, off)
        chunks.append((good[off + 4 : off + 8], good[off + 8 : off + 8 + n]))
        off += 12 + n
    tags = [t for t, _ in chunks]
    assert tags == [b"IHDR", b"IDAT", b"IEND"]
    ihdr, idat = chunks[0][1], chunks[1][1]
    rows = bytearray(zlib.decompress(idat))
    rows[0] = 9  # row filter type 9
    interlaced = ihdr[:12] + b"\x01"

    def png(*parts: tuple[bytes, bytes]) -> bytes:
        return _PNG_SIG + b"".join(_chunk(t, p) for t, p in parts)

    bad_crc = bytearray(good)
    bad_crc[8 + 8 + 13] ^= 0x01  # first byte of the IHDR CRC
    return [
        (png((b"IHDR", ihdr), (b"IDAT", zlib.compress(bytes(rows))), (b"IEND", b"")),
         "filter type"),
        (png((b"IHDR", interlaced), (b"IDAT", idat), (b"IEND", b"")), "interlaced"),
        (png((b"IHDR", ihdr), (b"IDAT", idat)), "without IEND"),
        (bytes(bad_crc), "CRC"),
    ]


def test_decode_batch_nulls_only_undecodable_rows():
    a = (np.arange(35) * 7 % 256).astype(np.uint8).reshape(7, 5)
    pdf = pd.DataFrame(
        {
            "bytes": [
                encode(a, "png"),
                None,
                encode(a, "q8"),
                encode(a, "raw")[:-1],
                encode(a, "raw"),
            ],
            "fmt": ["png", "raw", None, "raw", "tiff"],
            "w": [5] * 5,
            "h": [7] * 5,
        }
    )
    got = decode_batch(pdf)
    assert np.array_equal(got[0], a)
    assert got[1:] == [None, None, None, None]
    with_dtype = decode_batch(pdf.assign(dtype="float64").iloc[:1])
    assert with_dtype[0].dtype == np.float64
    # a raster whose dtype is null has no pixel type: no array
    null_dtype = pdf.iloc[[0, 0]].assign(dtype=["uint8", None])
    got = decode_batch(null_dtype)
    assert np.array_equal(got[0], a) and got[1] is None
    # a payload of the wrong Python type is a caller bug, not a corrupt
    # image: the TypeError fails the batch
    with pytest.raises(TypeError):
        decode_batch(pdf.assign(bytes=[12345] * 5))


# the 1%-corrupt fixture: 5 hostile rows among 500
_CORRUPT = {
    37: "truncated png",
    101: "truncated q8",
    204: "short raw",
    305: "unknown fmt",
    449: "null bytes",
}


def _raster_frames(spark):
    """(clean, corrupt) image tables of 500 rows, with georeferencing
    columns so the warp can read them too: a 0.2-degree lon/lat
    footprint at each image's location, uint8, nodata 255 (the
    synthetic pattern never reaches 255)."""
    from equi7grid_spark.images import synthetic_images

    rows = [r.asDict() for r in synthetic_images(spark, 500, with_bytes=True).collect()]
    rows.sort(key=lambda r: r["image_id"])
    pdf = pd.DataFrame(
        {
            "image_id": [r["image_id"] for r in rows],
            "bytes": [bytes(r["bytes"]) for r in rows],
            "fmt": [r["fmt"] for r in rows],
            "dtype": "uint8",
            "w": [r["w"] for r in rows],
            "h": [r["h"] for r in rows],
            "crs": "EPSG:4326",
            "x_min": [r["lon"] for r in rows],
            "y_min": [r["lat"] for r in rows],
            "x_max": [r["lon"] + 0.2 for r in rows],
            "y_max": [r["lat"] + 0.2 for r in rows],
            "nodata": 255.0,
        }
    )
    bad = pdf.copy()
    fmt_of = {"truncated png": "png", "truncated q8": "q8", "short raw": "raw"}
    for i, kind in _CORRUPT.items():
        if kind in fmt_of:
            assert bad.at[i, "fmt"] == fmt_of[kind]
            bad.at[i, "bytes"] = bad.at[i, "bytes"][: len(bad.at[i, "bytes"]) // 2]
        elif kind == "unknown fmt":
            bad.at[i, "fmt"] = "jpeg"
        else:
            bad.at[i, "bytes"] = None
    schema = (
        "image_id string, bytes binary, fmt string, dtype string, w int, h int,"
        " crs string, x_min double, y_min double, x_max double, y_max double,"
        " nodata double"
    )
    corrupt_ids = {pdf.at[i, "image_id"] for i in _CORRUPT}
    return (
        spark.createDataFrame(pdf, schema),
        spark.createDataFrame(bad, schema),
        corrupt_ids,
    )


def test_corrupt_rows_null_on_every_consumer(spark):
    """One corrupt or null image among 100 no longer fails the job: on
    all six byte-reading consumers exactly the corrupt rows come out
    null (or, in the warp, absent) and every other row equals the clean
    run."""
    from equi7grid_spark.constants import make_grid_config
    from equi7grid_spark.operators.multimodal import (
        compute_phash,
        image_histogram_features,
        image_stats,
        resize_images,
        transcode_images,
    )
    from equi7grid_spark.warp.resample import resample_to_equi7_tiles

    clean, bad, corrupt_ids = _raster_frames(spark)
    grid = make_grid_config({"T6": 10_000})
    consumers = {
        "image_stats": (image_stats, ("px_mean", "px_std", "px_min", "px_max")),
        "resize_images": (lambda df: resize_images(df, 8, 8), ("bytes",)),
        "image_histogram_features": (image_histogram_features, ("features",)),
        "transcode_images": (lambda df: transcode_images(df, "png"), ("bytes",)),
        "compute_phash": (compute_phash, ("phash",)),
    }
    for name, (op, nulled) in consumers.items():
        want = {r.image_id: r for r in op(clean).collect()}
        got = {r.image_id: r for r in op(bad).collect()}
        assert set(got) == set(want), name
        assert all(v is not None for r in want.values() for v in r), name
        for iid, r in got.items():
            if iid in corrupt_ids:
                assert all(r[c] is None for c in nulled), (name, iid)
                # image_stats passes fmt through, and the unknown-fmt
                # row differs from the clean run there by construction
                kept = [c for c in r.__fields__ if c not in nulled and c != "fmt"]
                assert [r[c] for c in kept] == [want[iid][c] for c in kept], (name, iid)
            else:
                assert r == want[iid], (name, iid)

    def warp(df):
        out = resample_to_equi7_tiles(df, "T6", 10_000.0, grid=grid, accurate_boundary=False)
        return {(r.image_id, r.tilename): r for r in out.collect()}

    want, got = warp(clean), warp(bad)
    assert corrupt_ids <= {iid for iid, _ in want}
    assert {k: r for k, r in want.items() if k[0] not in corrupt_ids} == got
