"""Seeded inputs for the three workloads, generated with the benchmark's
own NumPy code so that no change to the engine's fixtures can change what
is measured. Each input set is a pure function of (seed, sizes) and is
cached under `layerbench/.cache/`.

Rows follow the BASELINE image-table schema (image_id, bytes, w, h, fmt,
caption, phash, lon, lat) plus an embedding where the workload needs one.
Pixel bytes are encoded with the engine's `warp.codecs.encode`.
"""

from __future__ import annotations

import hashlib
import json
import shutil
import zlib
from collections import Counter
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from equi7grid_spark import geodesy, zones
from equi7grid_spark.tile import TILING_ID_TO_SIZE, Tile
from equi7grid_spark.warp.codecs import encode

CACHE = Path(__file__).resolve().parent / ".cache"
KEEP_PER_KIND = 2
# part of every cache key: bump it when a generator's output changes
FORMAT = 3

# Land-biased location mixture: points fall in one of these boxes
# (lon_min, lat_min, lon_max, lat_max) with probability P_ANCHOR, else
# uniformly on the sphere. The boxes skew rows onto a few continental
# zones, which is the load shape a global image table has.
REGIONS = [
    (-8.0, 38.0, 16.0, 54.0),
    (16.0, 44.0, 32.0, 58.0),
    (72.0, 18.0, 92.0, 34.0),
    (100.0, 24.0, 122.0, 42.0),
    (-118.0, 30.0, -88.0, 46.0),
    (-88.0, 34.0, -70.0, 46.0),
    (-8.0, 6.0, 30.0, 24.0),
    (-68.0, -34.0, -46.0, -8.0),
    (118.0, -34.0, 150.0, -18.0),
]
P_ANCHOR = 0.85
FMTS = np.array(["raw", "png", "q8"], dtype=object)
WORDS = np.array(
    "harbor street forest river market bridge tower field beach mountain "
    "station garden canal temple desert glacier valley island".split(),
    dtype=object,
)

BULK_SCHEMA = pa.schema(
    [
        ("image_id", pa.string()), ("bytes", pa.binary()), ("w", pa.int32()),
        ("h", pa.int32()), ("fmt", pa.string()), ("caption", pa.string()),
        ("phash", pa.int64()), ("lon", pa.float64()), ("lat", pa.float64()),
    ]
)


# -- cache ---------------------------------------------------------------


def cached(kind: str, seed: int, sizes: dict, build) -> Path:
    """Directory holding the inputs of (kind, seed, sizes); `build(dir)`
    fills a fresh one and may return facts about it, which are stored with
    the seed and sizes in its DONE file. Keeps the newest KEEP_PER_KIND
    sets per kind."""
    key = hashlib.sha1(
        json.dumps({**sizes, "format": FORMAT}, sort_keys=True).encode()
    ).hexdigest()[:10]
    out = CACHE / f"{kind}-seed{seed}-{key}"
    if (out / "DONE").exists():
        out.touch()
        return out
    tmp = CACHE / f".tmp-{out.name}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    facts = build(tmp) or {}
    (tmp / "DONE").write_text(json.dumps({"seed": seed, **sizes, **facts}))
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    old = sorted(
        (d for d in CACHE.glob(f"{kind}-seed*") if d != out),
        key=lambda d: d.stat().st_mtime,
    )
    for d in old[: max(0, len(old) - (KEEP_PER_KIND - 1))]:
        shutil.rmtree(d, ignore_errors=True)
    return out


# -- shared draws --------------------------------------------------------


def lonlat(rng: np.random.Generator, n: int, regions=REGIONS, p_anchor=P_ANCHOR):
    boxes = np.asarray(regions, dtype=np.float64)
    pick = boxes[rng.integers(0, len(boxes), n)]
    u, v = rng.random(n), rng.random(n)
    lon = pick[:, 0] + u * (pick[:, 2] - pick[:, 0])
    lat = pick[:, 1] + v * (pick[:, 3] - pick[:, 1])
    glob = rng.random(n) >= p_anchor
    lon[glob] = rng.random(glob.sum()) * 360.0 - 180.0
    lat[glob] = np.degrees(np.arcsin(rng.random(glob.sum()) * 2.0 - 1.0))
    return lon, lat


def id_strings(ids: np.ndarray, prefix: str = "img") -> pa.Array:
    return pa.compute.binary_join_element_wise(
        prefix, pa.compute.utf8_lpad(pa.array(ids).cast(pa.string()), 10, "0"), ""
    )


def golden_tilenames(lon: np.ndarray, lat: np.ndarray, tiling_id: str = "T6") -> list:
    """Tilename per point on the NumPy reference path, None outside every
    zone: tile.Tile.from_lonlat's steps (zones, then the geodesy AEQD
    forward, then the tile floor of Tile.from_xy), vectorized per zone."""
    sub = zones.assign_primary_zone(lon, lat)
    ts = TILING_ID_TO_SIZE[tiling_id]
    out = np.full(len(lon), None, dtype=object)
    for cc in np.unique(sub):
        if cc == "":
            continue
        idx = np.flatnonzero(sub == cc)
        x, y = geodesy.aeqd_forward(str(cc), lon[idx], lat[idx])
        keys, inv = np.unique(
            np.stack([np.floor(x / ts), np.floor(y / ts)], axis=1), axis=0, return_inverse=True
        )
        names = np.array([Tile(str(cc), tiling_id, kx * ts, ky * ts).name for kx, ky in keys])
        out[idx] = names[inv.ravel()]
    return out.tolist()


# -- bulk_assign ---------------------------------------------------------


def bulk_table(seed: int, rows: int, files: int) -> Path:
    """Metadata-only image table (empty `bytes`) of `rows` rows in `files`
    parquet files, and its golden T6 per-tile row counts."""

    def build(d: Path) -> None:
        rng = np.random.default_rng([seed, 1])
        lon, lat = lonlat(rng, rows)
        ids = np.arange(rows, dtype=np.int64)
        tbl = pa.table(
            {
                "image_id": id_strings(ids),
                "bytes": pa.array([b""] * rows, pa.binary()),
                "w": rng.integers(16, 1025, rows, dtype=np.int32),
                "h": rng.integers(16, 1025, rows, dtype=np.int32),
                "fmt": pa.array(FMTS[ids % 3]),
                "caption": pa.compute.binary_join_element_wise(
                    pa.array(WORDS[rng.integers(0, len(WORDS), rows)]),
                    pa.array(WORDS[rng.integers(0, len(WORDS), rows)]),
                    " ",
                ),
                "phash": rng.integers(-(2**63), 2**63 - 1, rows, dtype=np.int64),
                "lon": lon,
                "lat": lat,
            },
            schema=BULK_SCHEMA,
        )
        (d / "table").mkdir()
        step = -(-rows // files)
        for i in range(files):
            pq.write_table(tbl.slice(i * step, step), d / "table" / f"part-{i:03d}.parquet")
        counts = Counter(n for n in golden_tilenames(lon, lat) if n is not None)
        (d / "golden.json").write_text(json.dumps({"tile_counts": counts}))

    return cached("bulk", seed, {"rows": rows, "files": files}, build)


# -- image_curation ------------------------------------------------------


def _smooth_image(rng: np.random.Generator, w: int, h: int) -> np.ndarray:
    """Low-frequency grey image: a sum of random plane waves."""
    yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
    acc = np.zeros((h, w))
    for _ in range(3):
        fx, fy = rng.uniform(0.3, 3.0, 2) * 2 * np.pi
        ph = rng.uniform(0, 2 * np.pi)
        acc += rng.uniform(0.5, 1.0) * np.cos(fx * xx / w + fy * yy / h + ph)
    acc = (acc - acc.min()) / max(acc.max() - acc.min(), 1e-9)
    return (acc * 255.0).astype(np.uint8)


def curation_corpus(seed: int, n_base: int, dup_share: float, emb_dim: int) -> Path:
    """Image + caption + embedding corpus with planted duplicate groups.

    A group is a base image plus one or two lossless re-encodes of it into
    another format, with the base's caption and embedding: identical
    pixels, so all three dedup signals fire and the group must close into
    one cluster. Another share of bases gets a lossy q8 re-encode with a
    fresh caption and embedding, which only the phash signal may catch;
    those pairs add shuffle and CC work but are not checked. The seed
    picks which bases play which role, not how many do, so every seed
    has the same number of images and groups of each size."""

    def build(d: Path) -> None:
        rng = np.random.default_rng([seed, 2])
        rows, groups = [], []
        lon, lat = lonlat(rng, n_base)
        emb = rng.standard_normal((n_base, emb_dim))
        n_dup, n_lossy = round(n_base * dup_share), round(n_base * dup_share / 2)
        # role per base: 2 = two re-encodes, 1 = one, -1 = a lossy copy, 0 = alone
        role = np.zeros(n_base, dtype=np.int64)
        role[: round(n_dup * 0.4)] = 2
        role[round(n_dup * 0.4) : n_dup] = 1
        role[n_dup : n_dup + n_lossy] = -1
        role = rng.permutation(role)
        for i in range(n_base):
            w, h = (int(v) for v in rng.integers(24, 65, 2))
            arr = _smooth_image(rng, w, h)
            fmt = str(FMTS[i % 3])
            base_id = f"c{i:07d}"
            cap = f"{WORDS[i % len(WORDS)]} scene {i} by {rng.integers(1 << 30)}"
            rows.append((base_id, encode(arr, fmt), w, h, fmt, cap, lon[i], lat[i], emb[i]))
            if role[i] > 0:
                members = [base_id]
                others = [f for f in ("raw", "png") if f != fmt]
                for k in range(role[i]):
                    vf = others[k % len(others)]
                    vid = f"{base_id}_r{k}"
                    rows.append((vid, encode(arr, vf), w, h, vf, cap, lon[i], lat[i], emb[i]))
                    members.append(vid)
                groups.append(members)
            elif role[i] < 0:
                rows.append(
                    (f"{base_id}_q", encode(arr, "q8"), w, h, "q8",
                     f"{cap} (lossy copy)", lon[i], lat[i],
                     rng.standard_normal(emb_dim))
                )
        order = rng.permutation(len(rows))
        rows = [rows[k] for k in order]
        pdf = pd.DataFrame(
            rows,
            columns=["image_id", "bytes", "w", "h", "fmt", "caption", "lon", "lat", "embedding"],
        )
        pdf["w"] = pdf["w"].astype(np.int32)
        pdf["h"] = pdf["h"].astype(np.int32)
        pdf["phash"] = np.int64(0)  # computed from pixels by the workload
        pdf["embedding"] = [list(map(float, v)) for v in pdf["embedding"]]
        pdf = pdf[["image_id", "bytes", "w", "h", "fmt", "caption", "phash", "lon", "lat", "embedding"]]
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False),
            d / "corpus.parquet",
            row_group_size=max(1, len(pdf) // 8),
        )
        (d / "groups.json").write_text(json.dumps(groups))
        return {"images": len(pdf)}

    return cached(
        "curation", seed,
        {"n_base": n_base, "dup_share": dup_share, "emb_dim": emb_dim}, build,
    )


def raster_set(seed: int, n_small: int, big_tiles: int, tiling_id: str) -> tuple[pd.DataFrame, list]:
    """EPSG:4326 rasters for the warp step: `n_small` small rasters that
    each overlap exactly one tile and one large raster overlapping exactly
    `big_tiles` tiles (the skewed member of the set). Placements are drawn
    from the seed and redrawn until they meet those counts, so every seed
    warps the same number of tiles. Returns the rows and, per raster, the
    golden tile set from warp.resample.overlapping_tiles."""
    from equi7grid_spark.warp.resample import overlapping_tiles

    rng = np.random.default_rng([seed, 3])
    nodata = -9999.0
    rows, golden = [], []

    def place(i: int, span_lon: float, span_lat: float, px_w: int, px_h: int, want: int):
        for _ in range(400):
            box = REGIONS[int(rng.integers(len(REGIONS)))]
            x0 = rng.uniform(box[0], box[2] - span_lon)
            y0 = rng.uniform(box[1], box[3] - span_lat)
            extent = (x0, y0, x0 + span_lon, y0 + span_lat)
            yy, xx = np.mgrid[0:px_h, 0:px_w]
            arr = ((xx * 7 + yy * 13 + i * 31) % 4000).astype(np.int16)
            arr[rng.integers(px_h), rng.integers(px_w)] = int(nodata)
            tiles = overlapping_tiles(
                "EPSG:4326", extent, tiling_id, arr=arr, nodata=nodata,
                accurate_boundary=True,
            )
            if len(tiles) == want:
                rows.append({
                    "image_id": f"r{i:03d}", "bytes": arr.tobytes(), "fmt": "raw",
                    "dtype": "int16", "w": px_w, "h": px_h, "crs": "EPSG:4326",
                    "x_min": extent[0], "y_min": extent[1],
                    "x_max": extent[2], "y_max": extent[3], "nodata": nodata,
                })
                golden.append(sorted((t.subgrid, t.tilename) for t in tiles))
                return
        raise RuntimeError(f"could not place raster {i} over {want} tiles")

    for i in range(n_small):
        place(i, 0.4, 0.4, 40, 40, 1)
    place(n_small, 9.0, 6.0, 360, 240, big_tiles)
    return pd.DataFrame(rows), golden


# -- table_ingest --------------------------------------------------------


def row_crc(image_id: str, version: int, caption: str) -> int:
    """Per-row content checksum; the workload computes the same value in
    Spark as crc32(concat_ws('|', image_id, version, caption))."""
    return zlib.crc32(f"{image_id}|{version}|{caption}".encode())


def ingest_batches(
    seed: int, region: int, n_batches: int, batch_rows: int, update_share: float
) -> Path:
    """`n_batches` batches of `batch_rows` rows from REGIONS[region].
    From the second batch on, `update_share` of a batch's rows re-send ids
    of earlier batches with a bumped version and a new caption (same
    location, so the update lands in the row's partition): every commit
    after the first merges into the same existing partitions, whatever the
    seed. Stores, per batch, its region and the last-writer-wins row count and
    content checksum of the table after it, and the golden tilename of every
    in-zone row of batch 0. Every point of every region lies inside an
    Equi7 zone, so assign_tiles_jvm keeps every row and the golden counts
    all of them."""

    def build(d: Path) -> None:
        rng = np.random.default_rng([seed, 4])
        n_max = n_batches * batch_rows
        version = np.zeros(n_max, dtype=np.int64)  # 0 = never written
        crc = np.zeros(n_max, dtype=np.int64)
        lon_all, lat_all = np.zeros(n_max), np.zeros(n_max)
        next_id = 0
        golden = []
        (d / "batches").mkdir()
        r = region
        for b in range(n_batches):
            pool = np.arange(next_id)
            n_upd = min(int(batch_rows * update_share), len(pool))
            upd = rng.choice(pool, size=n_upd, replace=False) if n_upd else pool[:0]
            n_new = batch_rows - n_upd
            new = np.arange(next_id, next_id + n_new)
            next_id += n_new
            lon_all[new], lat_all[new] = lonlat(rng, n_new, [REGIONS[r]], 1.0)
            ids = np.concatenate([new, upd])
            version[ids] += 1
            sid = [f"row{i:09d}" for i in ids]
            words = WORDS[rng.integers(0, len(WORDS), len(ids))]
            cap = [f"{w} {i} v{v}" for w, i, v in zip(words, ids, version[ids])]
            crc[ids] = [row_crc(s, int(v), c) for s, v, c in zip(sid, version[ids], cap)]
            pd.DataFrame({
                "image_id": sid,
                "version": version[ids].astype(np.int32),
                "lon": lon_all[ids],
                "lat": lat_all[ids],
                "caption": cap,
                "phash": rng.integers(-(2**63), 2**63 - 1, len(ids), dtype=np.int64),
                "w": rng.integers(16, 1025, len(ids)).astype(np.int32),
                "h": rng.integers(16, 1025, len(ids)).astype(np.int32),
                "fmt": FMTS[np.arange(len(ids)) % 3],
            }).to_parquet(d / "batches" / f"b{b:03d}.parquet", index=False)
            if b == 0:
                names = golden_tilenames(lon_all[ids], lat_all[ids])
                pd.DataFrame({"image_id": sid, "tilename": names}).dropna().to_parquet(
                    d / "b000_tilenames.parquet", index=False
                )
            golden.append(
                {"rows": int((version > 0).sum()), "crc_sum": int(crc.sum()), "region": r}
            )
        (d / "golden.json").write_text(json.dumps(golden))

    return cached(
        "ingest", seed,
        {"region": region, "n_batches": n_batches, "batch_rows": batch_rows,
         "update_share": update_share},
        build,
    )


def roi_boxes(seed: int, regions: list[int], per_region: int, span_deg: float) -> list[list]:
    """Per entry of `regions` (an index into REGIONS), `per_region` seeded
    geographic ROI boxes inside that region."""
    rng = np.random.default_rng([seed, 5])
    out = []
    for r in regions:
        box = REGIONS[r]
        x0 = rng.uniform(box[0], box[2] - span_deg, per_region)
        y0 = rng.uniform(box[1], box[3] - span_deg, per_region)
        out.append([(float(x), float(y), float(x) + span_deg, float(y) + span_deg)
                    for x, y in zip(x0, y0)])
    return out
