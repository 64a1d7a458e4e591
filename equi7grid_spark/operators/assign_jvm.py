"""JVM-only tile assignment: one compiled kernel call per row.

The scale path for the flagship job (north rule: 10^12-row image table,
N→4N scaling ≥ 0.8). The round-1 flagship ran every row through a
pandas UDF (exact PIP + NumPy Vincenty) — correct, but the Python
worker fraction caps multi-core scaling (each task slot needs a JVM
reader thread *and* a python worker). This path has NO Python at all.

On every session that registers the checked-in jar (operators/kernel,
plain sessions included), each primitive is ONE compiled call per row —
zone resolve (the 1-degree cell map + exact boundary parity are baked
into the jar), Vincenty AEQD forward, and keying:

- tile_counts_jvm: equi7_zone_tile_key -> packed (zc, tx, ty) long,
  reduced with map-side partial aggregation; the groupBy is the plan's
  ONLY shuffle (pinned by tests/test_queries_scale.py);
- assign_tiles_jvm: equi7_zone_xy -> [zc, x, y]; zero joins, zero
  shuffles, and a null/NaN/infinite lon or lat is simply out of zone.

Both sit behind an explode-of-one barrier so the not-null filter is
not pushed down as a second UDF evaluation. Zone/tilename strings
materialize post-agg on ~10^3 rows, exactly like
operators/assign.tile_counts.

Without the jar, or for a non-default system_order, the same functions
run a pure Column fallback: a broadcast join of the 64,800-row
decided-cell map (zones.decided_cell_codes) resolves 95.8% of cells;
boundary cells join the 2,701-row candidate map (zones_pip
.boundary_cands) and resolve by exact even-odd parity in F.aggregate
(pip_resolve_col); rows project with the unrolled Column Vincenty
(functions/geodesy_cols.with_aeqd_forward).

Semantics parity is pinned by tests/test_assign_jvm.py: identical
per-tile counts/assignments vs the pandas path on the sf tables and
on grids that oversample boundary cells.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from equi7grid_spark.constants import DEFAULT_SYSTEM_ORDER, TILING_ID_TO_SIZE
from equi7grid_spark.functions.geodesy_cols import with_aeqd_forward
from equi7grid_spark.functions.tiling import tile_ll, tilename, xy2rc
from equi7grid_spark.operators.assign import subgrid_from_code
from equi7grid_spark.zones import PF_NX, PF_NY, decided_cell_codes

_CELL_MAPS: dict[tuple, pd.DataFrame] = {}

_CANDS_SCHEMA = (
    "cell_id int, cands array<struct<zc: tinyint, ref_par: boolean, "
    "refx: double, refy: double, "
    "edges: array<struct<x1: double, y1: double, x2: double, y2: double>>>>"
)


_CANDS_DFS: dict[tuple, DataFrame] = {}


def boundary_cands_df(
    spark: SparkSession, system_order: tuple[str, ...] = DEFAULT_SYSTEM_ORDER
) -> DataFrame:
    """2,701-row broadcast map: boundary cell -> ordered zone candidates
    with per-cell pruned edge lists + reference parity (zones_pip).
    Cached per (session, order): the driver-side Python->JVM conversion
    of ~50k nested edge tuples costs seconds and must not recur per
    query."""
    from equi7grid_spark.zones_pip import boundary_cands

    key = (id(spark), tuple(system_order))
    hit = _CANDS_DFS.get(key)
    if hit is not None:
        return hit
    rows = [
        (
            c["cell_id"],
            [
                (
                    cand["zc"],
                    cand["ref_par"],
                    cand["refx"],
                    cand["refy"],
                    [tuple(e) for e in cand["edges"].tolist()],
                )
                for cand in c["cands"]
            ],
        )
        for c in boundary_cands(tuple(system_order))
    ]
    df = spark.createDataFrame(rows, _CANDS_SCHEMA)
    _CANDS_DFS[key] = df
    return df


def pip_resolve_col(cands: Column, lon: Column, lat: Column) -> Column:
    """Primary zone code (tinyint, null = none) for a boundary-cell
    point, all in Column algebra. Parity of P = precomputed parity of
    the cell's reference point R, XOR crossings of the axis-parallel
    path R -> (R.x, P.y) -> P — per-edge arithmetic mirrors
    zones_pip._numpy_parity exactly (validated there vs the full
    even-odd kernel)."""

    def inside(c: Column) -> Column:
        refx, refy = c["refx"], c["refy"]
        xlo, xhi = F.least(lon, refx), F.greatest(lon, refx)
        ylo, yhi = F.least(lat, refy), F.greatest(lat, refy)

        def flip(acc: Column, e: Column) -> Column:
            dy = e["y2"] - e["y1"]
            dx = e["x2"] - e["x1"]
            x_int = e["x1"] + (lat - e["y1"]) * dx / F.when(
                dy == 0.0, F.lit(1.0)
            ).otherwise(dy)
            y_int = e["y1"] + (refx - e["x1"]) * dy / F.when(
                dx == 0.0, F.lit(1.0)
            ).otherwise(dx)
            h = (
                ((e["y1"] > lat) != (e["y2"] > lat))
                & (xlo < x_int)
                & (x_int <= xhi)
            )
            v = (
                ((e["x1"] > refx) != (e["x2"] > refx))
                & (ylo < y_int)
                & (y_int <= yhi)
            )
            return acc != (h != v)

        return c["ref_par"] != F.aggregate(c["edges"], F.lit(False), flip)

    return F.get(F.filter(cands, inside), 0)["zc"]


def with_zone_code_jvm(
    df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    zc_col: str = "zc",
    *,
    system_order=DEFAULT_SYSTEM_ORDER,
) -> DataFrame:
    """Adds the primary zone code as `zc_col` (tinyint, null = out of
    every zone) in one pass: broadcast cell-map join decides 95.8% of
    cells; boundary cells resolve via pip_resolve_col. Zero Python,
    zero shuffles."""
    order = tuple(system_order)
    spark = df.sparkSession
    lon, lat = F.col(lon_col), F.col(lat_col)
    d = df.withColumn("__cell", cell_id_col(lon, lat))
    cells = cell_map_df(spark, order).withColumnRenamed("cell_id", "__cell")
    cands = (
        boundary_cands_df(spark, order)
        .withColumnRenamed("cell_id", "__cell")
        .withColumnRenamed("cands", "__cands")
    )
    d = d.join(F.broadcast(cells), "__cell").join(
        F.broadcast(cands), "__cell", "left"
    )
    zc_final = (
        F.when(F.col("zc") >= 0, F.col("zc"))
        .when(F.col("zc") == -2, pip_resolve_col(F.col("__cands"), lon, lat))
        .otherwise(F.lit(None).cast("tinyint"))
    )
    # Explode-of-one-element barrier: both CollapseProject and
    # PushDownPredicate freely substitute a Project alias into
    # downstream filters/projections, which would re-evaluate this
    # expression (its higher-order functions are CodegenFallback —
    # interpreted) once per consumer, measured 5x slower end-to-end.
    # Neither rule rewrites through a Generate, so the zone code
    # materializes exactly once per row.
    barrier = F.explode(F.array(zc_final))
    keep = [c for c in d.columns if c not in ("__cell", "__cands", "zc")]
    return d.select(*keep, barrier.alias(zc_col))


def cell_code_pdf(system_order: tuple[str, ...] = DEFAULT_SYSTEM_ORDER) -> pd.DataFrame:
    """64,800-row (cell_id:int32, zc:int8) lookup table as pandas."""
    key = tuple(system_order)
    if key not in _CELL_MAPS:
        import numpy as np

        codes = decided_cell_codes(key)  # [PF_NX, PF_NY]
        ix, iy = np.meshgrid(np.arange(PF_NX), np.arange(PF_NY), indexing="ij")
        _CELL_MAPS[key] = pd.DataFrame(
            {
                "cell_id": (ix * PF_NY + iy).ravel().astype("int32"),
                "zc": codes.ravel().astype("int8"),
            }
        )
    return _CELL_MAPS[key]


_CELL_DFS: dict[tuple, DataFrame] = {}


def cell_map_df(
    spark: SparkSession, system_order: tuple[str, ...] = DEFAULT_SYSTEM_ORDER
) -> DataFrame:
    key = (id(spark), tuple(system_order))
    if key not in _CELL_DFS:
        # Explicit schema: schema-less createDataFrame(pandas) maps int8
        # to tinyint only when Arrow conversion is on; a plain driver
        # session (no Arrow) infers bigint, which downstream crashed the
        # Java UDF (UDF3<Byte,...>) with Long->Byte ClassCastException.
        _CELL_DFS[key] = spark.createDataFrame(
            cell_code_pdf(tuple(system_order)), schema="cell_id int, zc tinyint"
        )
    return _CELL_DFS[key]


def cell_id_col(lon: Column, lat: Column) -> Column:
    """1-degree cell id, mirroring zones.zone_membership's gather:
    lon normalized to [-180, 180), lat clamped, floor + clip."""
    lon_n = F.pmod(lon + F.lit(180.0), F.lit(360.0)) - F.lit(180.0)
    lat_c = F.greatest(F.least(lat, F.lit(90.0)), F.lit(-90.0))
    ix = F.greatest(
        F.least(F.floor(lon_n + F.lit(180.0)), F.lit(PF_NX - 1)), F.lit(0)
    )
    iy = F.greatest(
        F.least(F.floor(lat_c + F.lit(90.0)), F.lit(PF_NY - 1)), F.lit(0)
    )
    return (ix * PF_NY + iy).cast("int")


def tile_counts_jvm(
    df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    tiling_id: str = "T6",
    *,
    system_order=DEFAULT_SYSTEM_ORDER,
) -> DataFrame:
    """Per-tile counts with the same output schema/values as
    operators/assign.tile_counts, 100% JVM-side.

    Two-branch shape over one broadcast-joined source (each branch
    filters on a PLAIN join attribute, so no expensive expression is
    duplicated by predicate pushdown):

    1. decided-cell rows (99.5% of land-biased data) derive their
       packed tile key with the compiled Vincenty kernel
       (operators/kernel, one JIT-hot method/row) — or the unrolled
       Column Vincenty when the jar is unavailable;
    2. prefilter-boundary cells resolve their zone with the exact
       Column parity test (zones_pip), then the same projection.

    Both branches reduce to compact int keys with map-side partial
    aggregation before the single union+shuffle; zone/tilename strings
    materialize post-agg on ~10^3 rows. The two pruned scans cost
    2 x (lon, lat) — a sliver of a bytes-dominated image table at
    100 TB. Key parity with the exact pandas path is pinned by
    tests/test_assign_jvm.py."""
    ts = float(TILING_ID_TO_SIZE[tiling_id])
    order = tuple(system_order)
    spark = df.sparkSession
    lon, lat = F.col(lon_col), F.col(lat_col)

    from equi7grid_spark.operators import kernel

    if kernel.kernel_available(spark) and order == DEFAULT_SYSTEM_ORDER:
        # one-call kernel: zone resolve + Vincenty + floor keying in a
        # single compiled function (zone data baked into the jar) —
        # one scan, zero joins, one shuffle on a single long key
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
    else:
        # pure Column fallback: broadcast cell-map join + unrolled
        # Column Vincenty (fast branch) and exact parity resolve
        # (boundary branch), partial-aggregated before one union+shuffle
        base = df.select(lon, lat).withColumn("__cell", cell_id_col(lon, lat))
        joined = base.join(
            F.broadcast(
                cell_map_df(spark, order).withColumnRenamed("cell_id", "__cell")
            ),
            "__cell",
        )

        def keys(frame: DataFrame) -> DataFrame:
            proj = with_aeqd_forward(
                frame, "zc", lon_col, lat_col, "_jx", "_jy",
                system_order=order, carry=["zc"],
            )
            return proj.select(
                "zc",
                F.floor(F.col("_jx") / ts).cast("long").alias("tx"),
                F.floor(F.col("_jy") / ts).cast("long").alias("ty"),
            )

        fast = joined.filter(F.col("zc") >= 0).drop("__cell")
        cands = (
            boundary_cands_df(spark, order)
            .withColumnRenamed("cell_id", "__cell")
            .withColumnRenamed("cands", "__cands")
        )
        bnd = (
            joined.filter(F.col("zc") == -2)
            .select(lon, lat, "__cell")
            .join(F.broadcast(cands), "__cell")
            .select(
                lon,
                lat,
                F.explode(
                    F.array(pip_resolve_col(F.col("__cands"), lon, lat))
                ).alias("zc"),
            )
            .filter(F.col("zc").isNotNull())
        )
        keyed = keys(fast).unionAll(keys(bnd))
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


def assign_tiles_jvm(
    df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    tiling_id: str = "T6",
    sampling: float | None = None,
    *,
    system_order=DEFAULT_SYSTEM_ORDER,
    drop_out_of_zone: bool = True,
) -> DataFrame:
    """Row-level assign_tiles with the JVM fast path (non-buffered).

    Same added columns as operators/assign.assign_tiles(buffered=False):
    subgrid, x, y, ll_x, ll_y, tilename (+ row, col with `sampling`).
    Single pass, zero Python, zero shuffles. With the kernel: one
    compiled equi7_zone_xy call per row and no joins; null, NaN or
    infinite lon/lat count as out of every zone.
    """
    ts = float(TILING_ID_TO_SIZE[tiling_id])
    order = tuple(system_order)

    from equi7grid_spark.operators import kernel

    if kernel.kernel_available(df.sparkSession) and order == DEFAULT_SYSTEM_ORDER:
        # explode-of-one barrier (as in tile_counts_jvm): the isNotNull
        # filter would otherwise be pushed down as a second evaluation
        # of the (deterministic) UDF
        zxy = F.explode(F.array(kernel.zone_xy_col(F.col(lon_col), F.col(lat_col))))
        out = df.withColumn("__zxy", zxy)
        if drop_out_of_zone:
            out = out.filter(F.col("__zxy").isNotNull())
        # out-of-zone rows (kept only when not dropping) get NaN x/y
        # like the pandas path yields
        nan = F.lit(float("nan"))
        out = (
            out.withColumn("x", F.coalesce(F.col("__zxy")[1], nan))
            .withColumn("y", F.coalesce(F.col("__zxy")[2], nan))
            .withColumn("zc", F.col("__zxy")[0].cast("tinyint"))
            .drop("__zxy")
        )
    else:
        out = with_zone_code_jvm(df, lon_col, lat_col, "zc", system_order=order)

        def project(frame: DataFrame) -> DataFrame:
            return with_aeqd_forward(
                frame, "zc", lon_col, lat_col, "x", "y", system_order=order
            )

        if drop_out_of_zone:
            out = project(out.filter(F.col("zc") >= 0))
        else:
            # Vincenty needs a valid zone index; out-of-zone rows (zc
            # null, possible only for points exactly on zone edges) get
            # NaN x/y like the pandas path yields.
            nan = F.lit(float("nan"))
            proj = project(out.filter(F.col("zc") >= 0))
            outside = (
                out.filter(F.col("zc").isNull())
                .withColumn("x", nan)
                .withColumn("y", nan)
                .select(*proj.columns)
            )
            out = proj.unionAll(outside)
    out = out.withColumn("subgrid", subgrid_from_code(F.col("zc"), order)).drop("zc")
    out = out.withColumn("ll_x", tile_ll(F.col("x"), ts)).withColumn(
        "ll_y", tile_ll(F.col("y"), ts)
    )
    out = out.withColumn(
        "tilename", tilename(F.col("subgrid"), F.col("ll_x"), F.col("ll_y"), tiling_id)
    )
    if sampling is not None:
        r, c = xy2rc(F.col("x"), F.col("y"), F.col("ll_x"), F.col("ll_y"), ts, sampling)
        out = out.withColumn("row", r).withColumn("col", c)
    return out
