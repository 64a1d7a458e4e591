"""Multimodal column operators: decode / resize / feature-extract /
frame-sample over opaque binary payload columns.

Image ops are fully real (engine codecs, warp/codecs.py) and share one
decode path: every image operator decodes its Arrow batches with
codecs.decode_batch. The four per-image operators (image_stats,
resize_images, image_histogram_features, transcode_images) run through
one mapInPandas driver, _map_images, and keep only their per-image
arithmetic; compute_phash decodes the same way and runs its DCT
batch-wide. A row that cannot be decoded (null bytes or fmt, or a
truncated, empty or garbage payload, or an unknown fmt) gets null
outputs instead of failing the job: null px_* in image_stats, null
bytes in resize_images and transcode_images, null features and null
phash.

Audio/video decode is STUBBED per SURVEY.md §7.4 — no audio/video
libraries exist in this environment — but the Spark-side plumbing
(schema, batching, UDF signatures) is real and tested: a deterministic
fake decoder (`fake-pcm` / `fake-frames` formats, raw little-endian
payloads) exercises the identical path; any real container format
raises NotImplementedError.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from equi7grid_spark.warp.codecs import decode_batch, encode

IMAGE_STATS_SCHEMA = (
    "image_id string, fmt string, w int, h int, "
    "px_mean double, px_std double, px_min int, px_max int"
)


def _nearest(arr: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbour resample of a 2-D image to (out_h, out_w)."""
    h2, w2 = arr.shape
    ri = np.minimum((np.arange(out_h) * h2) // out_h, h2 - 1)
    ci = np.minimum((np.arange(out_w) * w2) // out_w, w2 - 1)
    return arr[ri[:, None], ci[None, :]]


def _map_images(
    images: DataFrame,
    schema: str,
    per_image: Callable[[np.ndarray], tuple],
    computed: dict[str, str],
    constants: dict[str, object] | None = None,
) -> DataFrame:
    """The one mapInPandas driver of the per-image operators. Each
    Arrow batch is decoded once (codecs.decode_batch); `per_image` maps
    every decoded image to a tuple of values, one per `computed`
    column (name -> pandas dtype, in tuple order). The columns of
    `schema` come out in its order: computed, a constant from
    `constants`, or the input column of that name passed through. An
    undecodable row gets null in every computed column."""
    names = [field.split()[0] for field in schema.split(",")]
    slot = {name: j for j, name in enumerate(computed)}
    constants = constants or {}

    def go(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            res = [None if a is None else per_image(a) for a in decode_batch(pdf)]
            out = {}
            for name in names:
                if name in slot:
                    vals = [None if r is None else r[slot[name]] for r in res]
                    out[name] = pd.array(vals, dtype=computed[name])
                elif name in constants:
                    out[name] = [constants[name]] * len(pdf)
                else:
                    out[name] = pdf[name].to_numpy()
            yield pd.DataFrame(out)

    return images.select("image_id", "bytes", "fmt", "w", "h").mapInPandas(
        go, schema=schema
    )


def image_stats(images: DataFrame) -> DataFrame:
    """Decode every image and emit per-image pixel statistics."""

    def stats(arr: np.ndarray) -> tuple:
        return arr.mean(), arr.std(), arr.min(), arr.max()

    return _map_images(
        images,
        IMAGE_STATS_SCHEMA,
        stats,
        {"px_mean": "float64", "px_std": "float64", "px_min": "Int32", "px_max": "Int32"},
    )


def resize_images(images: DataFrame, out_w: int, out_h: int, out_fmt: str = "raw") -> DataFrame:
    """Nearest-neighbor resize of every image to (out_w, out_h)."""

    def resize(arr: np.ndarray) -> tuple:
        return (encode(_nearest(arr, out_w, out_h), out_fmt),)

    return _map_images(
        images,
        "image_id string, bytes binary, w int, h int, fmt string",
        resize,
        {"bytes": "object"},
        {"w": out_w, "h": out_h, "fmt": out_fmt},
    )


def image_histogram_features(images: DataFrame, n_bins: int = 16) -> DataFrame:
    """Per-image normalized intensity histogram as array<double> — a
    deterministic stand-in embedding for similarity search."""

    def histogram(arr: np.ndarray) -> tuple:
        # bincount on the uint8 ravel beats np.histogram ~5x here
        counts = np.bincount(arr.ravel(), minlength=256)
        hist = counts.reshape(n_bins, 256 // n_bins).sum(axis=1)
        return ((hist / max(1, arr.size)).astype(np.float64).tolist(),)

    return _map_images(
        images, "image_id string, features array<double>", histogram, {"features": "object"}
    )


def decode_audio_pcm(data: bytes, fmt: str) -> np.ndarray:
    """STUB: real audio containers unsupported offline; `fake-pcm` is
    raw little-endian int16 mono exercising the same path."""
    if fmt == "fake-pcm":
        return np.frombuffer(data, dtype="<i2")
    raise NotImplementedError(
        f"audio format {fmt!r}: no audio codecs in this environment "
        "(stubbed per SURVEY.md §7.4; use 'fake-pcm')"
    )


def audio_stats(audio: DataFrame) -> DataFrame:
    """Per-clip RMS/peak over the (stub-)decoded waveform; a clip whose
    bytes or fmt is null gets null outputs."""
    schema = "clip_id string, n_samples long, rms double, peak int"

    def go(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            n_samples, rms, peak = [None] * n, [None] * n, [None] * n
            it = zip(pdf["bytes"].to_numpy(object), pdf["fmt"].to_numpy(object))
            for i, (b, f) in enumerate(it):
                if b is None or f is None:
                    continue  # null clip: null outputs
                wav = decode_audio_pcm(b, f).astype(np.float64)
                n_samples[i] = wav.size
                rms[i] = np.sqrt(np.mean(wav**2)) if wav.size else 0.0
                peak[i] = int(np.abs(wav).max()) if wav.size else 0
            yield pd.DataFrame(
                {
                    "clip_id": pdf["clip_id"].to_numpy(object),
                    "n_samples": pd.array(n_samples, dtype="Int64"),
                    "rms": pd.array(rms, dtype="Float64"),
                    "peak": pd.array(peak, dtype="Int32"),
                }
            )

    return audio.select("clip_id", "bytes", "fmt").mapInPandas(go, schema=schema)


def sample_video_frames(video: DataFrame, every_n: int = 2) -> DataFrame:
    """STUB frame sampler: `fake-frames` payloads are concatenated raw
    uint8 w*h frames; real containers raise NotImplementedError. Emits
    one row per sampled frame (the UDTF-shaped explode); a video whose
    bytes or fmt is null has no frames, so it emits no rows."""
    schema = "video_id string, frame_idx int, bytes binary, w int, h int"

    def go(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vids, idxs, frames, ws, hs = [], [], [], [], []
            it = zip(
                pdf["video_id"].to_numpy(object),
                pdf["bytes"].to_numpy(object),
                pdf["fmt"].to_numpy(object),
                pdf["w"].to_numpy(),
                pdf["h"].to_numpy(),
            )
            for vid, b, f, w, h in it:
                if b is None or f is None:
                    continue  # null video: no frames
                if f != "fake-frames":
                    raise NotImplementedError(
                        f"video format {f!r}: no video codecs in this "
                        "environment (stubbed per SURVEY.md §7.4)"
                    )
                w, h = int(w), int(h)
                frame_sz = w * h
                n_frames = len(b) // frame_sz
                for k in range(0, n_frames, every_n):
                    vids.append(vid)
                    idxs.append(k)
                    frames.append(b[k * frame_sz : (k + 1) * frame_sz])
                    ws.append(w)
                    hs.append(h)
            yield pd.DataFrame(
                {
                    "video_id": pd.array(vids, dtype=object),
                    "frame_idx": np.asarray(idxs, dtype=np.int32),
                    "bytes": pd.array(frames, dtype=object),
                    "w": np.asarray(ws, dtype=np.int32),
                    "h": np.asarray(hs, dtype=np.int32),
                }
            )

    return video.select("video_id", "bytes", "fmt", "w", "h").mapInPandas(go, schema=schema)


def binary_u8_sum(col):
    """long Column: sum of a binary column's bytes as uint8 — the
    vectorized reduce over raw frame payloads (one Arrow batch pass,
    np.frombuffer + sum per row; no per-byte Python)."""
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def _sum(b: pd.Series) -> pd.Series:
        return pd.Series(
            [
                int(np.frombuffer(v, dtype=np.uint8).sum()) if v is not None else None
                for v in b.to_numpy(object)
            ],
            dtype="Int64",
        )

    return _sum(col)


_DCT32 = None


def _dct32() -> np.ndarray:
    """Orthonormal 32-point DCT-II basis (float64, deterministic)."""
    global _DCT32
    if _DCT32 is None:
        n = np.arange(32)
        k = np.arange(32)[:, None]
        c = np.sqrt(2.0 / 32) * np.cos(np.pi * (2 * n[None, :] + 1) * k / 64.0)
        c[0] *= 1.0 / np.sqrt(2.0)
        _DCT32 = c
    return _DCT32


def phash64(arr: np.ndarray) -> int:
    """64-bit perceptual hash of one grayscale image: NN-resample to
    32x32, 2D DCT-II, keep the 8x8 low-frequency block, threshold every
    coefficient at the median of the 63 non-DC coefficients. Calibrated
    on the engine codecs: q8 requantization (~2 LSB) moves the hash by
    <=2 bits while distinct synthetic images differ by >=12
    (tests/test_phash_dedup.py)."""
    h2, w2 = arr.shape
    ri = np.minimum((np.arange(32) * h2) // 32, h2 - 1)
    ci = np.minimum((np.arange(32) * w2) // 32, w2 - 1)
    a = arr[ri[:, None], ci[None, :]].astype(np.float64)
    c = _dct32()
    block = (c @ a @ c.T)[:8, :8].ravel()
    med = np.median(block[1:])
    bits = np.flatnonzero(block > med)
    v = 0
    for i in bits:
        v |= 1 << int(i)
    return v - (1 << 64) if v >= 1 << 63 else v


def compute_phash(images: DataFrame) -> DataFrame:
    """(image_id, phash) from pixel content — the input side of
    dedup.phash_near_dup, completing the bytes -> phash -> banded
    near-dup image-dedup pipeline.

    Decode is per-row (codecs.decode_batch, variable-size binaries);
    the DCT runs as ONE batched tensor contraction over the decoded
    rows of the Arrow batch (the per-image 32x32 resamples stack into
    (K,32,32) and both DCT matmuls apply batch-wide) — the same
    vectorize-the-kernel shape as phash64 applied K times at once. An
    undecodable row gets a null phash, which phash_near_dup and
    multimodal_near_dup drop."""
    schema = "image_id string, phash long"

    def go(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = _dct32()
        weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
        for pdf in batches:
            arrs = decode_batch(pdf)
            ok = np.array([a is not None for a in arrs], dtype=bool)
            stack = np.empty((int(ok.sum()), 32, 32), dtype=np.float64)
            for i, arr in enumerate(a for a in arrs if a is not None):
                stack[i] = _nearest(arr, 32, 32)
            # batched 2D DCT: (K,32,32) -> (K,8,8) low-frequency blocks.
            # Same contraction ORDER as the scalar phash64 (c @ a @ c.T)
            # so both paths agree bit-for-bit even on knife-edge
            # median comparisons.
            d = np.matmul(np.matmul(c[None, :, :], stack), c.T[None, :, :])
            blocks = d[:, :8, :8].reshape(len(stack), 64)
            med = np.median(blocks[:, 1:], axis=1)
            bits = blocks > med[:, None]
            ph = np.zeros(len(pdf), dtype=np.uint64)
            ph[ok] = (bits.astype(np.uint64) * weights[None, :]).sum(axis=1)
            phash = pd.array(ph.astype(np.int64), dtype="Int64")
            phash[~ok] = pd.NA
            yield pd.DataFrame(
                {"image_id": pdf["image_id"].to_numpy(object), "phash": phash}
            )

    return images.select("image_id", "bytes", "fmt", "w", "h").mapInPandas(
        go, schema=schema
    )


def transcode_images(images: DataFrame, out_fmt: str) -> DataFrame:
    """Re-encode every image to `out_fmt` at its native size (decode ->
    encode; q8 is the lossy path, ~2 LSB). Pixel dims pass through."""

    def transcode(arr: np.ndarray) -> tuple:
        return (encode(arr, out_fmt),)

    return _map_images(
        images,
        "image_id string, bytes binary, w int, h int, fmt string",
        transcode,
        {"bytes": "object"},
        {"fmt": out_fmt},
    )
