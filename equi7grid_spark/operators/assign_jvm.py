"""Tile assignment: one compiled kernel call per row.

The engine's one assign module. Every primitive is ONE compiled call
per row in the checked-in jar (operators/kernel, registered on any
session, plain ones included) — zone resolve (the 1-degree cell map +
exact boundary parity are baked into the jar), Vincenty AEQD forward,
and keying. There are no Python workers on this path:

- tile_counts_jvm: equi7_zone_tile_key -> packed (zc, tx, ty) long,
  reduced with map-side partial aggregation; the groupBy is the plan's
  ONLY shuffle (pinned by tests/test_queries_scale.py);
- assign_tiles_jvm: equi7_zone_xy -> [zc, x, y]; zero joins, zero
  shuffles, and a null/NaN/infinite lon or lat is simply out of zone.

Both sit behind an explode-of-one barrier so the not-null filter is
not pushed down as a second UDF evaluation. Zone/tilename strings
materialize post-agg on ~10^3 rows. A session that cannot load the
jar raises (kernel.require_kernel). Both use the default system
order; the reference's other continent orders live in the NumPy API
(api.Equi7Grid).

Buffered (overlapping) zones, one output row per containing zone:

    lon, lat = F.col("lon"), F.col("lat")
    z = df.withColumn("zc", F.explode(kernel.zone_members_col(lon, lat)))
    xy = kernel.xy_col(F.col("zc"), lon, lat)
    z = z.select("*", xy[0].alias("x"), xy[1].alias("y"),
                 subgrid_from_code(F.col("zc")).alias("subgrid"))
    with_tile_columns(z, "T6")

Semantics are pinned by tests/test_assign_jvm.py: identical per-tile
counts/assignments to the NumPy golden (zones.assign_primary_zone_code
+ geodesy.aeqd_forward + floor keying) on the sf tables and on grids
that oversample boundary cells.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from equi7grid_spark.constants import DEFAULT_SYSTEM_ORDER, TILING_ID_TO_SIZE
from equi7grid_spark.functions.tiling import tile_ll, tilename, xy2rc
from equi7grid_spark.operators import kernel


def subgrid_from_code(zc: Column) -> Column:
    """Zone code → subgrid string, JVM-side (null when out of zone)."""
    arr = F.array(*[F.lit(c) for c in DEFAULT_SYSTEM_ORDER])
    return F.when(zc >= 0, F.element_at(arr, zc.cast("int") + 1))


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


def tile_counts_jvm(
    df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    tiling_id: str = "T6",
) -> DataFrame:
    """Per-tile counts (subgrid, tilename, ll_x, ll_y, n), 100%
    JVM-side: zone resolve +
    Vincenty + floor keying in ONE compiled call per row
    (equi7_zone_tile_key) — one scan, zero joins, one shuffle on a
    single long key, partially aggregated map-side. Rows out of every
    zone (null/NaN/±inf lon or lat included) are not counted. Key
    parity with the NumPy golden is pinned by
    tests/test_assign_jvm.py."""
    ts = float(TILING_ID_TO_SIZE[tiling_id])
    kernel.require_kernel(df.sparkSession, "tile_counts_jvm")
    lon, lat = F.col(lon_col), F.col(lat_col)
    # explode-of-one barrier: the isNotNull filter would otherwise be
    # pushed down as a second evaluation of the (deterministic) UDF
    keyed = df.select(
        F.explode(F.array(kernel.zone_tile_key_col(lon, lat, ts))).alias("ztkey")
    ).filter(F.col("ztkey").isNotNull())
    agg = (
        keyed.groupBy("ztkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            kernel.unpack_zc(F.col("ztkey")).alias("zc"),
            kernel.unpack_tx(F.col("ztkey")).alias("tx"),
            kernel.unpack_ty(F.col("ztkey")).alias("ty"),
            "n",
        )
    )
    sub = subgrid_from_code(F.col("zc"))
    name = tilename(sub, F.col("tx") * ts, F.col("ty") * ts, tiling_id)
    return agg.select(
        sub.alias("subgrid"),
        name.alias("tilename"),
        (F.col("tx") * ts).alias("ll_x"),
        (F.col("ty") * ts).alias("ll_y"),
        "n",
    )


def assign_tiles_jvm(
    df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    tiling_id: str = "T6",
    sampling: float | None = None,
    *,
    drop_out_of_zone: bool = True,
) -> DataFrame:
    """Row-level tile assignment to the primary (non-buffered) zone.

    Adds subgrid, x, y, ll_x, ll_y, tilename (+ row, col with
    `sampling`). Single pass, zero Python, zero shuffles: one compiled
    equi7_zone_xy call per row and no joins; null, NaN or infinite
    lon/lat count as out of every zone (reference GeomOutOfZoneError,
    tests/test_equi7grid.py:421-428). Out-of-zone rows kept under
    drop_out_of_zone=False get null in every added column.
    """
    kernel.require_kernel(df.sparkSession, "assign_tiles_jvm")
    # explode-of-one barrier (as in tile_counts_jvm): the isNotNull
    # filter would otherwise be pushed down as a second evaluation of
    # the (deterministic) UDF
    zxy = F.explode(F.array(kernel.zone_xy_col(F.col(lon_col), F.col(lat_col))))
    out = df.withColumn("__zxy", zxy)
    if drop_out_of_zone:
        out = out.filter(F.col("__zxy").isNotNull())
    out = (
        out.withColumn("x", F.col("__zxy")[1])
        .withColumn("y", F.col("__zxy")[2])
        .withColumn("subgrid", subgrid_from_code(F.col("__zxy")[0].cast("tinyint")))
        .drop("__zxy")
    )
    return with_tile_columns(out, tiling_id, sampling)
