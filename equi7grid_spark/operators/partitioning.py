"""Skew-aware partitioning helpers + the salted per-tile mosaic.

The north rule requires explicit skew handling for hot continental
zones: land-biased data concentrates in few tiles, so any per-tile
grouped-map (mosaicking, per-tile statistics, warp post-processing)
must not serialize a hot tile into one task. The pattern here is
two-stage salting: `salt = pmod(hash(id), n_salt)` subdivides each
tile group for the expensive stage; a cheap merge unsalts.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from equi7grid_spark.warp.codecs import decode_batch


def with_salt(df: DataFrame, id_col: str, n_salt: int = 8) -> DataFrame:
    """Deterministic salt column from a row id."""
    return df.withColumn("salt", F.pmod(F.hash(F.col(id_col)), F.lit(n_salt)))


def spread_small_input(df: DataFrame) -> DataFrame:
    """Pre-explosion/pre-HOF parallelism guard: a small parquet file
    reads as ONE partition (row groups don't split), so an expensive
    operator downstream (a ~50x shingle explode, interpreted HOF dot
    products) runs single-core — measured 2.8s single-task for the
    sf0.1 shingle explosion vs 0.35s spread. Repartition only when the
    input has fewer partitions than cores; at real scale inputs
    already carry many partitions and this is a no-op (no shuffle
    added)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _composite(arrays: list[np.ndarray], nodata: float, reducer: str) -> np.ndarray:
    acc = arrays[0].astype(np.float64)
    acc_mask = acc != nodata
    for a in arrays[1:]:
        a = a.astype(np.float64)
        m = a != nodata
        if reducer == "max":
            both = acc_mask & m
            acc[both] = np.maximum(acc[both], a[both])
        elif reducer == "last":
            acc[m] = a[m]
        elif reducer == "first":
            m = m & ~acc_mask
            acc[m] = a[m]
        else:
            raise ValueError(f"unknown reducer {reducer!r}")
        only_new = m & ~acc_mask
        acc[only_new] = a[only_new]
        acc_mask |= m
    acc[~acc_mask] = nodata
    return acc


def mosaic_tiles(
    warped: DataFrame, *, reducer: str = "max", n_salt: int = 8
) -> DataFrame:
    """Merge per-(tile, image) warped rasters into one raster per tile —
    the natural downstream of warp/resample.py at scale.

    'max' (associative + commutative) runs the two-stage salted
    grouped-map: stage 1 composites each (tile, salt) subgroup in
    parallel (hot tiles → n_salt tasks), stage 2 merges the ≤ n_salt
    partials per tile — exact for any interleaving.

    'first'/'last' are ORDER-dependent (by image_id): a salted split
    interleaves image ids across partials, so no partial ordering can
    make the two-stage merge exact (ADVICE round-1). They run as a
    single deterministic grouped-map per tile, sorted by image_id —
    correct, at the cost of one task per hot tile.

    Tiles are read with codecs.decode_batch in their `fmt` (raw, png or
    q8, as resample_to_equi7_tiles writes them; a frame without `fmt`
    holds raw tiles) and `dtype`. A tile that cannot be decoded adds
    nothing and is not counted in n_images; a tile with no decodable
    input gives no row. The mosaic is written raw.
    """
    schema = (
        "subgrid string, tilename string, bytes binary, fmt string, w int, h int, "
        "dtype string, nodata double, n_images long"
    )

    def merge(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("image_id" if "image_id" in pdf else "n_images")
        pdf = pdf.reset_index(drop=True)
        arrays = decode_batch(pdf)
        ok = [i for i, a in enumerate(arrays) if a is not None]
        if not ok:
            return pd.DataFrame(columns=[f.split()[0] for f in schema.split(", ")])
        # the tile's metadata comes from a decoded row: an undecodable
        # one may hold a null dtype, w or h
        first = pdf.iloc[ok[0]]
        nodata = float(first["nodata"])
        out = _composite([arrays[i] for i in ok], nodata, reducer)
        dtype = np.dtype(first["dtype"])
        n_img = int(pdf["n_images"].iloc[ok].sum()) if "n_images" in pdf else len(ok)
        return pd.DataFrame([
            {
                "subgrid": first["subgrid"],
                "tilename": first["tilename"],
                "bytes": out.astype(dtype).tobytes(),
                "fmt": "raw",
                "w": int(first["w"]),
                "h": int(first["h"]),
                "dtype": str(dtype),
                "nodata": nodata,
                "n_images": n_img,
            }
        ])

    if "fmt" not in warped.columns:
        warped = warped.withColumn("fmt", F.lit("raw"))
    if reducer in ("first", "last"):
        return warped.groupBy("subgrid", "tilename").applyInPandas(
            merge, schema=schema
        )
    salted = with_salt(warped, "image_id", n_salt)
    partial = salted.groupBy("subgrid", "tilename", "salt").applyInPandas(
        merge, schema=schema
    )
    return partial.groupBy("subgrid", "tilename").applyInPandas(merge, schema=schema)
