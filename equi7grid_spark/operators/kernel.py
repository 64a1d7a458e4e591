"""Compiled JVM projection kernel: loading + registration.

The flagship's hot per-row math (iterative Vincenty AEQD forward) is
compiled Java (equi7grid_spark/jvm/src, built to equi7-kernel.jar by
scripts/build_jvm_kernel.sh and checked in). One JIT-hot method per row
beats the unrolled Column-expression chain ~2x (the chain pays ~30
per-operator row copies) and the pandas path ~1.5x (no Python workers,
no Arrow boundary) — and unlike both, it converges the lambda
fixed-point to the same tol=1e-13 as the NumPy kernel, so values agree
to float64 round-off.

Loaded at runtime with ADD JAR + registerJavaFunction, so it works on
ANY SparkSession (including the driver's own), not just ones built by
session.get_spark. The projection entries' callers feature-detect via
kernel_available() and fall back to the pure Column implementation
(functions/geodesy_cols). The two vector entries (equi7_cosine_seq,
equi7_emb_buckets) have NO fallback: they are the only implementation
of dedup.cosine_seq and the embedding LSH banding, and their wrappers
raise (require_kernel) when the session cannot load the jar. They are
probed separately (vector_kernel_available), so a vector-entry failure
never costs assign and projection their kernel.

SQL functions registered:
  equi7_xy(zc tinyint, lon double, lat double) -> array<double> [x, y]
  equi7_lonlat(zc tinyint, x double, y double) -> array<double>
      [lon, lat] — the AEQD inverse (Vincenty direct problem,
      tol=1e-13), compiled twin of geodesy_cols.with_aeqd_inverse
  equi7_tile_key(zc, lon, lat, ts double) -> bigint packed tile key
      ((floor(x/ts) + 8192) << 14) | (floor(y/ts) + 8192)
  equi7_zone_tile_key(lon, lat, ts) -> bigint (zc << 28) | tile key,
      null when out of every zone — zone resolution included (the
      1-degree cell map + exact boundary parity live in the jar as a
      1.8 MB resource), so the flagship needs one scan, zero joins,
      one shuffle on a single long column.
  equi7_zone_xy(lon, lat) -> array<double> [zc, x, y], null when out
      of every zone or when lon/lat is null, NaN or infinite — the
      row-level twin of equi7_zone_tile_key (same zone resolve + Vincenty
      calls), so assign_tiles_jvm needs one call per row and no joins.
  equi7_cosine_seq(a array<double>, b array<double>) -> double cosine,
      dot products accumulated left to right (bit-identical to the
      sequential HOF fold and DuckDB's list_dot_product); null on a
      null array or element, unequal lengths or a zero denominator,
      NaN propagates. No fallback.
  equi7_emb_buckets(v array<double>, n_bands int, n_planes int) ->
      array<int> hyperplane-LSH bucket per band (planes ported from
      dedup.emb_plane_value, bit p set when the sequential dot > 0, so
      an all-zero or empty vector, or one with a NaN or null element,
      gets bucket 0 in every band); null only for a null array. No
      fallback.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_KERNEL_STATE: dict[int, bool] = {}
_VECTOR_STATE: dict[int, bool] = {}


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


def _load(spark: SparkSession, state: dict, entries, probe) -> bool:
    """ADD JAR, register `entries` (name, class, return type) on this
    session and run `probe` on it, once per session; False if the jar
    is absent, the session cannot load it, or a probe value is null."""
    key = id(spark)
    cached = state.get(key)
    if cached is not None:
        return cached
    ok = False
    jar = _kernel_jar()
    if jar is not None:
        try:
            spark.sql(f"ADD JAR '{jar}'")
            for name, cls, rtype in entries:
                spark.udf.registerJavaFunction(name, cls, rtype)
            ok = all(v is not None for v in probe(spark))
        except Exception:
            ok = False
    state[key] = ok
    return ok


def _probe_projection(spark: SparkSession) -> tuple:
    # Probe through the SAME column-typed wrappers the queries use,
    # with the adversarial dtypes a plain (non-Arrow) session produces
    # (bigint zc, bigint lon/lat) — a literal CAST probe once passed
    # while real queries crashed on a Long->Byte ClassCastException.
    # Feature-detection must fail safe to the Column-Vincenty
    # fallback, never pass-then-crash.
    probe = spark.range(1).select(
        F.lit(3).cast("bigint").alias("zc"),
        F.lit(15).cast("bigint").alias("lon"),
        F.lit(48).cast("bigint").alias("lat"),
    )
    return tuple(
        probe.select(
            tile_key_col(F.col("zc"), F.col("lon"), F.col("lat"), 600000.0),
            zone_tile_key_col(F.col("lon"), F.col("lat"), 600000.0),
            zone_xy_col(F.col("lon"), F.col("lat")),
            xy_col(F.col("zc"), F.col("lon"), F.col("lat")),
            lonlat_col(
                F.col("zc"),
                F.lit(5837287.8).cast("bigint"),
                F.lit(2121415.7).cast("bigint"),
            ),
        ).collect()[0]
    )


def _probe_vector(spark: SparkSession) -> tuple:
    # bigint elements: the wrappers must cast to array<double>
    v = F.array(F.lit(1).cast("bigint"), F.lit(2).cast("bigint"))
    return tuple(
        spark.range(1)
        .select(cosine_seq_col(v, v), emb_buckets_col(v, 8, 16))
        .collect()[0]
    )


_PROJECTION_ENTRIES = (
    ("equi7_xy", "equi7.VincentyXY", T.ArrayType(T.DoubleType())),
    ("equi7_tile_key", "equi7.TileKey", T.LongType()),
    ("equi7_zone_tile_key", "equi7.ZoneTileKey", T.LongType()),
    ("equi7_lonlat", "equi7.VincentyLonLat", T.ArrayType(T.DoubleType())),
    ("equi7_roundtrip_zone_tile_key", "equi7.RoundtripZoneTileKey", T.LongType()),
    ("equi7_zone_xy", "equi7.ZoneXY", T.ArrayType(T.DoubleType())),
)
_VECTOR_ENTRIES = (
    ("equi7_cosine_seq", "equi7.CosineSeq", T.DoubleType()),
    ("equi7_emb_buckets", "equi7.EmbBuckets", T.ArrayType(T.IntegerType())),
)


def kernel_available(spark: SparkSession) -> bool:
    """Register the compiled projection entries on this session (once);
    False if the jar is absent or the session cannot load it. The
    vector entries are probed on their own (vector_kernel_available),
    so a failure there cannot drop assign and projection to the Column
    fallback."""
    return _load(spark, _KERNEL_STATE, _PROJECTION_ENTRIES, _probe_projection)


def vector_kernel_available(spark: SparkSession) -> bool:
    """Register equi7_cosine_seq and equi7_emb_buckets on this session
    (once); False if the jar is absent or the session cannot load
    them."""
    return _load(spark, _VECTOR_STATE, _VECTOR_ENTRIES, _probe_vector)


def tile_key_col(zc: Column, lon: Column, lat: Column, tile_size: float) -> Column:
    # The kernel boundary owns its types: registerJavaFunction performs
    # no input coercion, so a bigint zc reaches UDF4<Byte,...> as a Long
    # and throws ClassCastException at runtime. Cast defensively here
    # (and in xy_col) rather than trusting every call site's inference.
    return F.call_udf(
        "equi7_tile_key",
        zc.cast("tinyint"),
        lon.cast("double"),
        lat.cast("double"),
        F.lit(float(tile_size)),
    )


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


def require_kernel(spark: SparkSession, what: str) -> None:
    """Raise when `what` (a kernel-only vector primitive) cannot run
    because this session could not load the jar's vector entries."""
    if not vector_kernel_available(spark):
        raise RuntimeError(
            f"{what} runs only in the compiled kernel, and this session "
            f"could not load {_kernel_jar() or 'equi7grid_spark/jvm/equi7-kernel.jar'}"
        )


def unpack_zc(ztkey: Column) -> Column:
    return F.shiftright(ztkey, 28).cast("tinyint")


def xy_col(zc: Column, lon: Column, lat: Column) -> Column:
    return F.call_udf("equi7_xy", zc.cast("tinyint"), lon.cast("double"), lat.cast("double"))


def lonlat_col(zc: Column, x: Column, y: Column) -> Column:
    """[lon, lat] from (zone code, x, y) — compiled AEQD inverse."""
    return F.call_udf(
        "equi7_lonlat", zc.cast("tinyint"), x.cast("double"), y.cast("double")
    )


def unpack_tx(tkey: Column) -> Column:
    return (F.shiftright(tkey, 14).bitwiseAND(F.lit(16383)) - F.lit(8192)).cast("long")


def unpack_ty(tkey: Column) -> Column:
    return (tkey.bitwiseAND(F.lit(16383)) - F.lit(8192)).cast("long")
