"""Compiled JVM kernel: loading + registration.

The engine's row-level primitives (zone resolve, the decided-cell
zone lookup, buffered zone membership, iterative Vincenty AEQD
forward and inverse, tile keying, the cosine verify and sign-LSH
banding) run in compiled
Java (equi7grid_spark/jvm/src, built to equi7-kernel.jar by
scripts/build_jvm_kernel.sh and checked in). One JIT-hot method per row has no Python workers and no Arrow
boundary, and it converges the Vincenty fixed-points to the same
tol=1e-13 as the NumPy reference (geodesy.py), so values agree to
float64 round-off.

Loaded at runtime with ADD JAR + registerJavaFunction, so it works on
ANY SparkSession (including the driver's own and plain ones), not
just ones built by session.get_spark; the jar also ships inside the
--py-files zip. The jar is the ONLY executing implementation of these
primitives: every caller runs require_kernel(spark, what) first, which
registers all entries on the session once, probes them together, and
raises a RuntimeError naming the jar (chained to the cause) when the
session cannot load it. There is no fallback.

SQL functions registered:
  equi7_xy(zc tinyint, lon double, lat double) -> array<double> [x, y]
  equi7_lonlat(zc tinyint, x double, y double) -> array<double>
      [lon, lat] — the AEQD inverse (Vincenty direct problem,
      tol=1e-13)
  equi7_zone_tile_key(lon, lat, ts) -> bigint (zc << 28) | tile key
      ((floor(x/ts) + 8192) << 14) | (floor(y/ts) + 8192), null when
      out of every zone — zone resolution included (the 1-degree cell
      map + exact boundary parity live in the jar as a 1.8 MB
      resource), so the flagship needs one scan, zero joins, one
      shuffle on a single long column.
  equi7_roundtrip_zone_tile_key(lon, lat, ts) -> bigint, the packed
      key of forward(inverse(forward(lon, lat))).
  equi7_zone_xy(lon, lat) -> array<double> [zc, x, y], null when out
      of every zone — the row-level twin of equi7_zone_tile_key (same
      zone resolve + Vincenty calls), so assign_tiles_jvm needs one
      call per row and no joins.
  equi7_decided_zone(lon, lat) -> tinyint zone code of the point's
      1-degree cell if zones.decided_cell_codes decides it, else null.
  equi7_zone_members(lon, lat) -> array<int> of every BUFFERED zone
      containing the point, ascending zone code (buffered zones
      overlap, so up to 2) — a per-cell IN mask plus the two-leg
      parity of each boundary (cell, zone) candidate, baked into the
      jar like the primary-zone map.
  equi7_cosine_seq(a array<double>, b array<double>) -> double cosine,
      dot products accumulated left to right (bit-identical to the
      sequential HOF fold and DuckDB's list_dot_product); null on a
      null array or element, unequal lengths or a zero denominator,
      NaN propagates.
  equi7_emb_buckets(v array<double>, n_bands int, n_planes int) ->
      array<int> hyperplane-LSH bucket per band (planes ported from
      dedup.emb_plane_value, bit p set when the sequential dot > 0, so
      an all-zero or empty vector, or one with a NaN or null element,
      gets bucket 0 in every band); null only for a null array.
  equi7_sign_buckets(v array<double>, planes binary, n_planes int) ->
      array<int> the same sign loop against the caller's planes, a
      little-endian float64 (band * n_planes + plane, dim) matrix.

Every geodesic entry returns null, never throws, for a null argument,
a NaN/±inf coordinate or tile size, or a zone code outside 0..6.
"""

from __future__ import annotations

import weakref
from pathlib import Path

import numpy as np
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_JAR = "equi7grid_spark/jvm/equi7-kernel.jar"

# session -> None once its entries are registered and probed, or the
# exception that stopped them; weak keys, as an id() is reused
_STATE: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()

_ENTRIES = (
    ("equi7_xy", "equi7.VincentyXY", T.ArrayType(T.DoubleType())),
    ("equi7_zone_tile_key", "equi7.ZoneTileKey", T.LongType()),
    ("equi7_lonlat", "equi7.VincentyLonLat", T.ArrayType(T.DoubleType())),
    ("equi7_roundtrip_zone_tile_key", "equi7.RoundtripZoneTileKey", T.LongType()),
    ("equi7_zone_xy", "equi7.ZoneXY", T.ArrayType(T.DoubleType())),
    ("equi7_decided_zone", "equi7.DecidedZone", T.ByteType()),
    ("equi7_zone_members", "equi7.ZoneMembers", T.ArrayType(T.IntegerType())),
    ("equi7_cosine_seq", "equi7.CosineSeq", T.DoubleType()),
    ("equi7_emb_buckets", "equi7.EmbBuckets", T.ArrayType(T.IntegerType())),
    ("equi7_sign_buckets", "equi7.SignBuckets", T.ArrayType(T.IntegerType())),
)


def _kernel_jar() -> Path | None:
    """On-disk jar path; extracts from the package when imported from a
    --py-files zip (data_loader.resource_path), None if absent."""
    direct = Path(__file__).resolve().parents[1] / "jvm" / "equi7-kernel.jar"
    if direct.exists():
        return direct
    try:
        from equi7grid_spark.data_loader import resource_path

        p = Path(resource_path("jvm/equi7-kernel.jar"))
        return p if p.exists() else None
    except Exception:
        return None


def _probe(spark: SparkSession) -> tuple:
    # Probe through the SAME column-typed wrappers the queries use,
    # with the adversarial dtypes a plain (non-Arrow) session produces
    # (bigint zc, bigint lon/lat, bigint vector elements) — a literal
    # CAST probe once passed while real queries crashed on a
    # Long->Byte ClassCastException.
    zc, lon, lat = (F.lit(v).cast("bigint") for v in (3, 15, 48))
    v = F.array(F.lit(1).cast("bigint"), F.lit(2).cast("bigint"))
    return tuple(
        spark.range(1)
        .select(
            zone_tile_key_col(lon, lat, 600000.0),
            roundtrip_zone_tile_key_col(lon, lat, 600000.0),
            zone_xy_col(lon, lat),
            decided_zone_col(lon, lat),
            zone_members_col(lon, lat),
            xy_col(zc, lon, lat),
            lonlat_col(
                zc,
                F.lit(5837287.8).cast("bigint"),
                F.lit(2121415.7).cast("bigint"),
            ),
            cosine_seq_col(v, v),
            emb_buckets_col(v, 8, 16),
            sign_buckets_col(v, [[[1.0, 1.0]]]),
        )
        .collect()[0]
    )


def _load(spark: SparkSession) -> Exception | None:
    """ADD JAR, register every entry on this session and probe them,
    once per session; the exception that stopped it, else None."""
    if spark in _STATE:
        return _STATE[spark]
    err = None
    try:
        jar = _kernel_jar()
        if jar is None:
            raise FileNotFoundError(_JAR)
        spark.sql(f"ADD JAR '{jar}'")
        for name, cls, rtype in _ENTRIES:
            spark.udf.registerJavaFunction(name, cls, rtype)
        nulls = [i for i, v in enumerate(_probe(spark)) if v is None]
        if nulls:
            raise RuntimeError(f"kernel probe columns {nulls} returned null")
    except Exception as e:
        err = e
    _STATE[spark] = err
    return err


def require_kernel(spark: SparkSession, what: str) -> None:
    """Register the kernel on this session (once); raise when `what`
    cannot run because the session could not load the jar."""
    err = _load(spark)
    if err is not None:
        raise RuntimeError(
            f"{what} runs only in the compiled kernel, and this session "
            f"could not load {_kernel_jar() or _JAR}"
        ) from err


# The kernel boundary owns its types: registerJavaFunction performs no
# input coercion, so a bigint zc reaches UDF3<Byte,...> as a Long and
# throws ClassCastException at runtime. Every wrapper casts defensively
# rather than trusting each call site's inference.


def zone_tile_key_col(lon: Column, lat: Column, tile_size: float) -> Column:
    return F.call_udf(
        "equi7_zone_tile_key",
        lon.cast("double"),
        lat.cast("double"),
        F.lit(float(tile_size)),
    )


def roundtrip_zone_tile_key_col(
    lon: Column, lat: Column, tile_size: float
) -> Column:
    """Packed zone+tile key of forward(inverse(forward(lon, lat))) —
    the fused roundtrip-closure kernel (same Vincenty calls as
    xy_col → lonlat_col → xy_col, one UDF invocation per row)."""
    return F.call_udf(
        "equi7_roundtrip_zone_tile_key",
        lon.cast("double"),
        lat.cast("double"),
        F.lit(float(tile_size)),
    )


def zone_xy_col(lon: Column, lat: Column) -> Column:
    """[zc, x, y] (array<double>) or null when out of every zone —
    zone resolve + AEQD forward in one compiled call per row."""
    return F.call_udf("equi7_zone_xy", lon.cast("double"), lat.cast("double"))


def decided_zone_col(lon: Column, lat: Column) -> Column:
    """Zone code (tinyint) of the prefilter-decided 1-degree cell of
    (lon, lat), null when the cell is undecided or out of every zone."""
    return F.call_udf("equi7_decided_zone", lon.cast("double"), lat.cast("double"))


def zone_members_col(lon: Column, lat: Column) -> Column:
    """array<int> of the buffered zones containing (lon, lat), ascending
    zone code; null for a null, NaN or infinite lon/lat."""
    return F.call_udf("equi7_zone_members", lon.cast("double"), lat.cast("double"))


def xy_col(zc: Column, lon: Column, lat: Column) -> Column:
    """[x, y] from (zone code, lon, lat) — compiled AEQD forward."""
    return F.call_udf("equi7_xy", zc.cast("tinyint"), lon.cast("double"), lat.cast("double"))


def lonlat_col(zc: Column, x: Column, y: Column) -> Column:
    """[lon, lat] from (zone code, x, y) — compiled AEQD inverse."""
    return F.call_udf(
        "equi7_lonlat", zc.cast("tinyint"), x.cast("double"), y.cast("double")
    )


def cosine_seq_col(a: Column, b: Column) -> Column:
    """Sequential-order cosine of two vectors (double); see CosineSeq."""
    return F.call_udf(
        "equi7_cosine_seq", a.cast("array<double>"), b.cast("array<double>")
    )


def emb_buckets_col(v: Column, n_bands: int, n_planes: int) -> Column:
    """array<int> of n_bands hyperplane-LSH bucket ids; see EmbBuckets."""
    return F.call_udf(
        "equi7_emb_buckets",
        v.cast("array<double>"),
        F.lit(int(n_bands)),
        F.lit(int(n_planes)),
    )


def sign_buckets_col(v: Column, planes) -> Column:
    """array<int> of sign-LSH bucket ids of v against `planes`, shaped
    [n_bands][n_planes][dim]: bit q of band b is set when the
    sequential dot with planes[b][q] is > 0; see SignBuckets."""
    p = np.asarray(planes, dtype="<f8")
    return F.call_udf(
        "equi7_sign_buckets",
        v.cast("array<double>"),
        F.lit(p.tobytes()),
        F.lit(int(p.shape[1])),
    )


def unpack_zc(ztkey: Column) -> Column:
    return F.shiftright(ztkey, 28).cast("tinyint")


def unpack_tx(tkey: Column) -> Column:
    return (F.shiftright(tkey, 14).bitwiseAND(F.lit(16383)) - F.lit(8192)).cast("long")


def unpack_ty(tkey: Column) -> Column:
    return (tkey.bitwiseAND(F.lit(16383)) - F.lit(8192)).cast("long")
