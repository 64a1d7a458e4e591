"""Zone assignment + projection operators (vectorized pandas/Arrow UDFs).

The engine's hot path: for every (lon, lat) row decide its continental
zone (point-in-polygon against the broadcast zone index, reference
get_systems_from_lonlat core.py:436) and project to that zone's AEQD
meters (reference lonlat_to_xy, tests/test_equi7grid.py:59-99) — one
Arrow pass, no per-row Python. Tile ids then derive as pure Columns
(functions/tiling.py), keeping everything downstream inside
whole-stage codegen.

Scale design (10^12 rows):
- the zone index is a ~2 MB process-cached NumPy structure (1-degree
  prefilter grid + ring arrays), loaded once per executor python
  worker, not per batch;
- >99% of points resolve with one integer gather; only boundary-cell
  points run exact PIP;
- the Arrow boundary carries only primitives — the zone travels as an
  int8 code and becomes a string JVM-side (strings/objects through
  Arrow measurably dominate the batch cost otherwise);
- inside each batch, points are grouped by zone code so the Vincenty
  kernel runs on dense per-zone arrays.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from equi7grid_spark.constants import (
    DEFAULT_SYSTEM_ORDER,
    TILING_ID_TO_SIZE,
)
from equi7grid_spark.functions.tiling import tile_ll, tilename, xy2rc
from equi7grid_spark.geodesy import (
    aeqd_forward,
    aeqd_inverse,
    length_distortion_ellipsoid,
)
from equi7grid_spark.zones import assign_primary_zone_code, zone_membership

_ZONE_XY_SCHEMA = T.StructType(
    [
        T.StructField("zc", T.ByteType()),
        T.StructField("x", T.DoubleType()),
        T.StructField("y", T.DoubleType()),
    ]
)


def _project_by_zone_code(
    code: np.ndarray, lon: np.ndarray, lat: np.ndarray, order: tuple[str, ...]
) -> tuple[np.ndarray, np.ndarray]:
    """Dense per-zone Vincenty: group rows by zone code, project groups."""
    x = np.full(lon.shape, np.nan)
    y = np.full(lon.shape, np.nan)
    for zc in np.unique(code):
        if zc < 0:
            continue
        m = code == zc
        xs, ys = aeqd_forward(order[zc], lon[m], lat[m])
        x[m] = xs
        y[m] = ys
    return x, y


def _project_by_zone(subgrid: np.ndarray, lon: np.ndarray, lat: np.ndarray):
    """String-keyed variant (smaller inputs / explicit-subgrid columns)."""
    x = np.full(lon.shape, np.nan)
    y = np.full(lon.shape, np.nan)
    for cc in np.unique(subgrid):
        if cc == "" or cc is None:
            continue
        m = subgrid == cc
        xs, ys = aeqd_forward(str(cc), lon[m], lat[m])
        x[m] = xs
        y[m] = ys
    return x, y


def subgrid_from_code(zc: Column, system_order=DEFAULT_SYSTEM_ORDER) -> Column:
    """int8 zone code → subgrid string, JVM-side (null when out of zone)."""
    arr = F.array(*[F.lit(c) for c in system_order])
    return F.when(zc >= 0, F.element_at(arr, zc.cast("int") + 1))


def zone_xy_udf(buffered: bool = False, system_order=DEFAULT_SYSTEM_ORDER):
    """pandas UDF: (lon, lat) → struct(zc, x, y) for the primary
    (first-in-order) zone. zc = -1 → outside every zone (reference
    GeomOutOfZoneError, tests/test_equi7grid.py:421-428)."""
    order = tuple(system_order)

    @F.pandas_udf(_ZONE_XY_SCHEMA)
    def _udf(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
        lo = lon.to_numpy(dtype=np.float64)
        la = lat.to_numpy(dtype=np.float64)
        code = assign_primary_zone_code(lo, la, buffered=buffered, system_order=order)
        x, y = _project_by_zone_code(code, lo, la, order)
        return pd.DataFrame({"zc": code, "x": x, "y": y})

    return _udf


def zones_all_udf(buffered: bool = True, system_order=DEFAULT_SYSTEM_ORDER):
    """pandas UDF: (lon, lat) → array<byte> of all containing zone codes
    in system_order (buffered zones overlap → up to 2,
    reference tests/test_equi7grid.py:412-418)."""
    order = tuple(system_order)

    @F.pandas_udf(T.ArrayType(T.ByteType()))
    def _udf(lon: pd.Series, lat: pd.Series) -> pd.Series:
        lo = lon.to_numpy(dtype=np.float64)
        la = lat.to_numpy(dtype=np.float64)
        member = zone_membership(lo, la, buffered=buffered, system_order=order)
        idx = np.arange(len(order), dtype=np.int8)
        return pd.Series([idx[m] for m in member])

    return _udf


@F.pandas_udf(T.StructType([T.StructField("x", T.DoubleType()), T.StructField("y", T.DoubleType())]))
def project_xy_udf(subgrid: pd.Series, lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
    """pandas UDF: AEQD forward for an explicit subgrid column."""
    sub = subgrid.to_numpy(dtype=object)
    x, y = _project_by_zone(sub, lon.to_numpy(np.float64), lat.to_numpy(np.float64))
    return pd.DataFrame({"x": x, "y": y})


@F.pandas_udf(T.StructType([T.StructField("lon", T.DoubleType()), T.StructField("lat", T.DoubleType())]))
def inverse_lonlat_udf(subgrid: pd.Series, x: pd.Series, y: pd.Series) -> pd.DataFrame:
    """pandas UDF: AEQD inverse (xy_to_lonlat, tests/test_equi7grid.py:50-56)."""
    sub = subgrid.to_numpy(dtype=object)
    xs = x.to_numpy(np.float64)
    ys = y.to_numpy(np.float64)
    lon = np.full(xs.shape, np.nan)
    lat = np.full(xs.shape, np.nan)
    for cc in np.unique(sub):
        if cc == "" or cc is None:
            continue
        m = sub == cc
        lo, la = aeqd_inverse(str(cc), xs[m], ys[m])
        lon[m] = lo
        lat[m] = la
    return pd.DataFrame({"lon": lon, "lat": lat})


@F.pandas_udf(T.DoubleType())
def distortion_ellipsoid_udf(subgrid: pd.Series, lon: pd.Series, lat: pd.Series) -> pd.Series:
    """pandas UDF: geodesic length distortion (reference core.py:416-452)."""
    sub = subgrid.to_numpy(dtype=object)
    lo = lon.to_numpy(np.float64)
    la = lat.to_numpy(np.float64)
    k = np.full(lo.shape, np.nan)
    for cc in np.unique(sub):
        if cc == "" or cc is None:
            continue
        m = sub == cc
        k[m] = length_distortion_ellipsoid(str(cc), lo[m], la[m])
    return pd.Series(k)


def tile_counts(
    df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    tiling_id: str = "T6",
    *,
    system_order=DEFAULT_SYSTEM_ORDER,
) -> DataFrame:
    """Per-tile image counts, shuffle-lean: aggregate on compact int keys
    (zone code + integer tile indices), materialize subgrid/tilename
    strings only on the ~10^3-row aggregate. At 10^12 input rows the
    per-row string formatting + string shuffle keys measurably dominate
    otherwise (observed 2x on the local bench)."""
    ts = float(TILING_ID_TO_SIZE[tiling_id])
    order = tuple(system_order)
    zxy = zone_xy_udf(buffered=False, system_order=order).asNondeterministic()
    z = df.select(zxy(F.col(lon_col), F.col(lat_col)).alias("_z"))
    keyed = z.select(
        F.col("_z.zc").alias("zc"),
        F.floor(F.col("_z.x") / ts).cast("long").alias("tx"),
        F.floor(F.col("_z.y") / ts).cast("long").alias("ty"),
    ).filter(F.col("zc") >= 0)
    agg = keyed.groupBy("zc", "tx", "ty").agg(F.count(F.lit(1)).alias("n"))
    sub = subgrid_from_code(F.col("zc"), order)
    name = tilename(sub, F.col("tx") * ts, F.col("ty") * ts, tiling_id)
    return agg.select(
        sub.alias("subgrid"),
        name.alias("tilename"),
        (F.col("tx") * ts).alias("ll_x"),
        (F.col("ty") * ts).alias("ll_y"),
        "n",
    )


def assign_tiles(
    df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    tiling_id: str = "T6",
    sampling: float | None = None,
    *,
    buffered: bool = False,
    system_order=DEFAULT_SYSTEM_ORDER,
    drop_out_of_zone: bool = True,
) -> DataFrame:
    """The flagship operator: zone assign + AEQD project + tile id.

    Adds columns: subgrid, x, y, ll_x, ll_y, tilename (+ row, col when
    `sampling` is given). With ``buffered=True`` points in overlap areas
    produce one output row per containing zone (reference lonlat_to_xy
    returning a per-continent dict, tests/test_equi7grid.py:412-418).
    Rows out of every zone, kept under ``drop_out_of_zone=False``, get
    null in every added column (the UDF's NaN x/y cross Arrow as null).

    Projection is one Arrow pass carrying primitives only; the zone
    string and all tile math are JVM-side Columns.
    """
    order = tuple(system_order)
    if buffered:
        zs = zones_all_udf(buffered=True, system_order=order)
        # explode_outer when out-of-zone rows must survive: a plain
        # explode of the empty membership array would drop them
        # regardless of drop_out_of_zone (ADVICE round-1)
        exploder = F.explode if drop_out_of_zone else F.explode_outer
        df = df.withColumn("_zc", exploder(zs(F.col(lon_col), F.col(lat_col))))
        df = df.withColumn("subgrid", subgrid_from_code(F.col("_zc"), order))
        df = df.withColumn(
            "_xy", project_xy_udf(F.col("subgrid"), F.col(lon_col), F.col(lat_col))
        )
        df = (
            df.withColumn("x", F.col("_xy.x"))
            .withColumn("y", F.col("_xy.y"))
            .drop("_xy", "_zc")
        )
    else:
        # asNondeterministic stops Catalyst from duplicating the (pure but
        # expensive) kernel when a later filter references a struct field.
        zxy = zone_xy_udf(buffered=False, system_order=order).asNondeterministic()
        df = df.withColumn("_z", zxy(F.col(lon_col), F.col(lat_col)))
        df = (
            df.withColumn("subgrid", subgrid_from_code(F.col("_z.zc"), order))
            .withColumn("x", F.col("_z.x"))
            .withColumn("y", F.col("_z.y"))
            .drop("_z")
        )
        if drop_out_of_zone:
            df = df.filter(F.col("subgrid").isNotNull())
    return with_tile_columns(df, tiling_id, sampling)


def with_tile_columns(
    df: DataFrame, tiling_id: str, sampling: float | None = None
) -> DataFrame:
    """Adds ll_x, ll_y, tilename (+ row, col with `sampling`) from the
    subgrid, x and y columns. A row out of every zone (null subgrid;
    kept only under drop_out_of_zone=False) gets null for all of them,
    never a tile at the origin."""
    ts = float(TILING_ID_TO_SIZE[tiling_id])
    inzone = F.col("subgrid").isNotNull()
    df = df.withColumn("ll_x", F.when(inzone, tile_ll(F.col("x"), ts))).withColumn(
        "ll_y", F.when(inzone, tile_ll(F.col("y"), ts))
    )
    df = df.withColumn(
        "tilename",
        F.when(inzone, tilename(F.col("subgrid"), F.col("ll_x"), F.col("ll_y"), tiling_id)),
    )
    if sampling is not None:
        # null ll_x/ll_y give null row/col
        r, c = xy2rc(F.col("x"), F.col("y"), F.col("ll_x"), F.col("ll_y"), ts, sampling)
        df = df.withColumn("row", r).withColumn("col", c)
    return df
