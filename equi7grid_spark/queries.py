"""Driver-contract query registry: Spark implementation + DuckDB oracle.

Each entry exercises one operator family from SURVEY.md §2 on the
driver's parquet tables (sf_dir). SQL-expressible operators carry an
ANSI-SQL oracle with *identical arithmetic* so DuckDB reproduces the
exact values (integer/modular derivations; float outputs rounded to a
fixed number of decimals on both sides to absorb libm-vs-JVM ulp
differences). Geodesic operators (Vincenty is iterative) have no SQL
equivalent → no oracle entry → driver records a rows-only check.

Pseudo-coordinate derivations (deterministic, same in both engines):

  key = l_orderkey * 8 + l_linenumber
  x   = (key*1664525 + 1013904223) % 8400000            -- proj meters
  y   = ((key*22695477 + 12345) % 10200000) - 1800000
  cc  = system_order[key % 7]

  lon = ((c_custkey*9973) % 36000)/100.0 - 180.0        -- geodesy inputs
  lat = ((c_custkey*7919) % 17800)/100.0 - 89.0
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from equi7grid_spark.constants import DEFAULT_SYSTEM_ORDER, SYSTEMS, WGS84_A
from equi7grid_spark.functions import tiling as TL

QueryFn = Callable[[SparkSession, str], DataFrame]

# oracle may be a plain SQL string or a zero-arg callable resolved at
# oracle_sql() time (for oracles spliced from engine data artifacts,
# e.g. the decided-cell digit map — building them at import would load
# zone data even for consumers that never ask for oracles)
_REGISTRY: dict[str, tuple[QueryFn, str | Callable[[], str] | None]] = {}


def register(name: str, oracle: str | Callable[[], str] | None):
    def deco(fn: QueryFn):
        _REGISTRY[name] = (fn, oracle)
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    return {name: fn for name, (fn, _) in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: (sql() if callable(sql) else sql)
        for name, (_, sql) in _REGISTRY.items()
        if sql is not None
    }


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# shared derivations
# ---------------------------------------------------------------------------

def _derived_xy(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deliberately NOT spread_small_input'd: every consumer of the xy
    # derivation is cheap tile algebra (format/parse/rc2xy/floor-agg —
    # no Vincenty, no HOFs, no pandas), so the few-partition scan
    # out-runs the repartition exchange 2-4x at bench scale (A/B
    # measured r3: tile_counts 1.9s->0.45s, knn 1.6s->0.77s). The
    # geodesic derivation (_derived_lonlat) is not spread either: its
    # consumers make one compiled kernel call per row. At real scale
    # inputs carry many partitions and both choices converge.
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    key = (F.col("l_orderkey") * 8 + F.col("l_linenumber")).cast("long")
    x = ((key * 1664525 + 1013904223) % 8400000).cast("double")
    y = (((key * 22695477 + 12345) % 10200000) - 1800000).cast("double")
    order = list(DEFAULT_SYSTEM_ORDER)
    cc = F.element_at(F.array(*[F.lit(c) for c in order]), (key % 7 + 1).cast("int"))
    return li.select(
        key.alias("key"), x.alias("x"), y.alias("y"), cc.alias("subgrid")
    )

_SQL_DERIVED_XY = """
  SELECT (l_orderkey*8 + l_linenumber)::BIGINT AS key,
         (((l_orderkey*8 + l_linenumber)*1664525 + 1013904223) % 8400000)::DOUBLE AS x,
         ((((l_orderkey*8 + l_linenumber)*22695477 + 12345) % 10200000) - 1800000)::DOUBLE AS y,
         (['AF','AN','AS','EU','OC','NA','SA'])[((l_orderkey*8 + l_linenumber) % 7 + 1)::INT] AS subgrid
  FROM lineitem
"""


def _derived_lonlat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(pt_id, lon, lat) points from the customer scan, unspread: one
    compiled kernel call per row is cheaper than a repartition
    exchange (A/B r3: flagship 1.6s -> 0.55s). At real scale inputs
    carry many partitions and both converge."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    lon = ((F.col("c_custkey") * 9973) % 36000) / 100.0 - 180.0
    lat = ((F.col("c_custkey") * 7919) % 17800) / 100.0 - 89.0
    return c.select(
        F.col("c_custkey").alias("pt_id"),
        lon.cast("double").alias("lon"),
        lat.cast("double").alias("lat"),
    )


# single source of truth for the SQL twin of _derived_lonlat (used by
# the top_customers_by_zone and decided-cell geodesic oracles)
_SQL_DERIVED_LONLAT = """
  SELECT c_custkey AS pt_id,
         (((c_custkey*9973) % 36000)/100.0 - 180.0)::DOUBLE AS lon,
         (((c_custkey*7919) % 17800)/100.0 - 89.0)::DOUBLE AS lat
  FROM customer
"""


# ---------------------------------------------------------------------------
# tile algebra (SQL-oracled, exact)
# ---------------------------------------------------------------------------

@register(
    "tilename_format",
    f"""
    WITH d AS ({_SQL_DERIVED_XY})
    SELECT key,
           subgrid || '_E' ||
           lpad(((floor(x/600000)*600000)/100000)::INT::VARCHAR, 3, '0') ||
           (CASE WHEN floor(y/600000)*600000 < 0 THEN 'S' ELSE 'N' END) ||
           lpad(abs((floor(y/600000)*600000)/100000)::INT::VARCHAR, 3, '0') ||
           'T6' AS tilename_t6
    FROM d
    """,
)
def q_tilename_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _derived_xy(spark, sf_dir)
    return d.select(
        "key",
        TL.tilename_at(F.col("subgrid"), F.col("x"), F.col("y"), "T6").alias("tilename_t6"),
    )


@register(
    "tilename_parse",
    f"""
    WITH d AS ({_SQL_DERIVED_XY}),
    named AS (
      SELECT key,
             subgrid || '_E' ||
             lpad(((floor(x/600000)*600000)/100000)::INT::VARCHAR, 3, '0') ||
             (CASE WHEN floor(y/600000)*600000 < 0 THEN 'S' ELSE 'N' END) ||
             lpad(abs((floor(y/600000)*600000)/100000)::INT::VARCHAR, 3, '0') ||
             'T6' AS name
      FROM d
    )
    SELECT key,
           substr(name, 1, 2) AS subgrid,
           (substr(name, 5, 3)::DOUBLE) * 100000 AS ll_x,
           (CASE WHEN substr(name, 8, 1) = 'S' THEN -1 ELSE 1 END)
             * (substr(name, 9, 3)::DOUBLE) * 100000 AS ll_y,
           TRUE AS valid
    FROM named
    """,
)
def q_tilename_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _derived_xy(spark, sf_dir)
    named = d.select(
        "key",
        TL.tilename_at(F.col("subgrid"), F.col("x"), F.col("y"), "T6").alias("name"),
    )
    p = TL.parse_tilename(F.col("name"))
    return named.select(
        "key",
        p.subgrid.alias("subgrid"),
        p.ll_x.alias("ll_x"),
        p.ll_y.alias("ll_y"),
        p.valid.alias("valid"),
    )


@register(
    "tile_children",
    f"""
    WITH d AS ({_SQL_DERIVED_XY}),
    parents AS (
      SELECT DISTINCT subgrid,
             floor(x/600000)*600000 AS ll_x,
             floor(y/600000)*600000 AS ll_y
      FROM d
    )
    SELECT subgrid || '_E' ||
           lpad(((ll_x + dx)/100000)::INT::VARCHAR, 3, '0') ||
           (CASE WHEN (ll_y + dy) < 0 THEN 'S' ELSE 'N' END) ||
           lpad(abs((ll_y + dy)/100000)::INT::VARCHAR, 3, '0') ||
           'T3' AS child
    FROM parents
    CROSS JOIN (VALUES (0,0),(0,300000),(300000,0),(300000,300000)) AS o(dx, dy)
    """,
)
def q_tile_children(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _derived_xy(spark, sf_dir)
    parents = d.select(
        "subgrid",
        TL.tile_ll(F.col("x"), 600000).alias("ll_x"),
        TL.tile_ll(F.col("y"), 600000).alias("ll_y"),
    ).distinct()
    ch = TL.children(F.col("ll_x"), F.col("ll_y"), "T6", "T3")
    return parents.select("subgrid", F.explode(ch).alias("c")).select(
        TL.tilename(F.col("subgrid"), F.col("c.ll_x"), F.col("c.ll_y"), "T3").alias("child")
    )


@register(
    "tile_parent",
    f"""
    WITH d AS ({_SQL_DERIVED_XY})
    SELECT key,
           subgrid || '_E' ||
           lpad(((floor(floor(x/100000)*100000/300000)*300000)/100000)::INT::VARCHAR, 3, '0') ||
           (CASE WHEN floor(floor(y/100000)*100000/300000)*300000 < 0 THEN 'S' ELSE 'N' END) ||
           lpad(abs((floor(floor(y/100000)*100000/300000)*300000)/100000)::INT::VARCHAR, 3, '0') ||
           'T3' AS parent_t3
    FROM d
    """,
)
def q_tile_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _derived_xy(spark, sf_dir)
    # T1 tile of the point, then its T3 parent (reference core.py:342-356)
    t1x = TL.tile_ll(F.col("x"), 100000)
    t1y = TL.tile_ll(F.col("y"), 100000)
    return d.select(
        "key",
        TL.tilename(
            F.col("subgrid"), TL.parent_ll(t1x, "T3"), TL.parent_ll(t1y, "T3"), "T3"
        ).alias("parent_t3"),
    )


@register(
    "rc2xy",
    f"""
    WITH d AS ({_SQL_DERIVED_XY})
    SELECT key,
           floor(x/600000)*600000 + (key*7 % 1200)*500.0 AS x_ll,
           (floor(y/600000)*600000 + 600000) - ((key % 1200) + 1)*500.0 AS y_ll,
           floor(x/600000)*600000 + (key*7 % 1200)*500.0 + 250.0 AS x_c,
           (floor(y/600000)*600000 + 600000) - (key % 1200)*500.0 - 250.0 AS y_c
    FROM d
    """,
)
def q_rc2xy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _derived_xy(spark, sf_dir)
    llx = TL.tile_ll(F.col("x"), 600000)
    lly = TL.tile_ll(F.col("y"), 600000)
    r = (F.col("key") % 1200).cast("int")
    c = (F.col("key") * 7 % 1200).cast("int")
    x_ll, y_ll = TL.rc2xy(r, c, llx, lly, 600000, 500, "ll")
    x_c, y_c = TL.rc2xy(r, c, llx, lly, 600000, 500, "c")
    return d.select(
        "key",
        x_ll.alias("x_ll"),
        y_ll.alias("y_ll"),
        x_c.alias("x_c"),
        y_c.alias("y_c"),
    )


@register(
    "xy2rc",
    f"""
    WITH d AS ({_SQL_DERIVED_XY})
    SELECT key,
           floor(((floor(y/600000)*600000 + 600000) - y)/500.0)::INT AS row,
           floor((x - floor(x/600000)*600000)/500.0)::INT AS col
    FROM d
    """,
)
def q_xy2rc(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _derived_xy(spark, sf_dir)
    llx = TL.tile_ll(F.col("x"), 600000)
    lly = TL.tile_ll(F.col("y"), 600000)
    r, c = TL.xy2rc(F.col("x"), F.col("y"), llx, lly, 600000, 500)
    return d.select("key", r.alias("row"), c.alias("col"))


def _sql_distortion_case() -> str:
    x0 = " ".join(
        f"WHEN subgrid = '{cc}' THEN {SYSTEMS[cc].x_0!r}" for cc in DEFAULT_SYSTEM_ORDER
    )
    y0 = " ".join(
        f"WHEN subgrid = '{cc}' THEN {SYSTEMS[cc].y_0!r}" for cc in DEFAULT_SYSTEM_ORDER
    )
    return (
        f"sqrt((x - CASE {x0} END)*(x - CASE {x0} END) + "
        f"(y - CASE {y0} END)*(y - CASE {y0} END))"
    )


@register(
    "distortion_planar",
    f"""
    WITH d AS ({_SQL_DERIVED_XY}),
    k AS (
      SELECT key, {_sql_distortion_case()} AS dist FROM d
    )
    SELECT key,
           round(CASE WHEN dist = 0 THEN 1.0
                      ELSE dist/{WGS84_A!r}/sin(dist/{WGS84_A!r}) END, 9) AS k
    FROM k
    """,
)
def q_distortion_planar(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _derived_xy(spark, sf_dir)
    k = TL.length_distortion_planar(F.col("subgrid"), F.col("x"), F.col("y"))
    return d.select("key", F.round(k, 9).alias("k"))


_BBOXES_SQL = """
  (VALUES (1, 5138743.0, 1111111.0, 6200015.0, 1534657.0),
          (2,  100000.0,  100000.0,  700001.0,  700001.0),
          (3, 4200000.0, -600000.0, 4800000.0,       0.0))
  AS b(bbox_id, x_min, y_min, x_max, y_max)
"""

_BBOXES = [
    (1, 5138743.0, 1111111.0, 6200015.0, 1534657.0),
    (2, 100000.0, 100000.0, 700001.0, 700001.0),
    (3, 4200000.0, -600000.0, 4800000.0, 0.0),
]


@register(
    "bbox_range_join",
    f"""
    SELECT bbox_id,
           'E' || lpad((gx*6)::INT::VARCHAR, 3, '0') ||
           (CASE WHEN gy < 0 THEN 'S' ELSE 'N' END) ||
           lpad(abs(gy*6)::INT::VARCHAR, 3, '0') || 'T6' AS tile
    FROM {_BBOXES_SQL},
         LATERAL (SELECT unnest(generate_series(floor(x_min/600000)::BIGINT,
                                                floor(x_max/600000)::BIGINT)) AS gx),
         LATERAL (SELECT unnest(generate_series(floor(y_min/600000)::BIGINT,
                                                floor(y_max/600000)::BIGINT)) AS gy)
    """,
)
def q_bbox_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = spark.createDataFrame(_BBOXES, "bbox_id int, x_min double, y_min double, x_max double, y_max double")
    gx = F.explode(
        F.sequence(F.floor(F.col("x_min") / 600000), F.floor(F.col("x_max") / 600000))
    ).alias("gx")
    d = b.select("bbox_id", "y_min", "y_max", gx)
    gy = F.explode(
        F.sequence(F.floor(F.col("y_min") / 600000), F.floor(F.col("y_max") / 600000))
    ).alias("gy")
    d = d.select("bbox_id", "gx", gy)
    name = F.concat(
        F.lit("E"),
        F.lpad((F.col("gx") * 6).cast("int").cast("string"), 3, "0"),
        F.when(F.col("gy") < 0, F.lit("S")).otherwise(F.lit("N")),
        F.lpad(F.abs(F.col("gy") * 6).cast("int").cast("string"), 3, "0"),
        F.lit("T6"),
    )
    return d.select("bbox_id", name.alias("tile"))


@register(
    "tile_counts_t6",
    f"""
    WITH d AS ({_SQL_DERIVED_XY}),
    named AS (
      SELECT subgrid || '_E' ||
             lpad(((floor(x/600000)*600000)/100000)::INT::VARCHAR, 3, '0') ||
             (CASE WHEN floor(y/600000)*600000 < 0 THEN 'S' ELSE 'N' END) ||
             lpad(abs((floor(y/600000)*600000)/100000)::INT::VARCHAR, 3, '0') ||
             'T6' AS tilename
      FROM d
    )
    SELECT tilename, count(*)::BIGINT AS n
    FROM named GROUP BY tilename
    """,
)
def q_tile_counts_t6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group on compact int tile keys; format the tilename string on
    the ~10^3-row aggregate, not per input row (same post-agg-naming
    shape as the JVM flagship — strings are the expensive part)."""
    ts = 600000.0
    d = _derived_xy(spark, sf_dir)
    agg = (
        d.groupBy(
            "subgrid",
            F.floor(F.col("x") / ts).alias("tx"),
            F.floor(F.col("y") / ts).alias("ty"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = TL.tilename(F.col("subgrid"), F.col("tx") * ts, F.col("ty") * ts, "T6")
    return agg.select(name.alias("tilename"), "n")


def _sql_name_at(ts: int, tid: str) -> str:
    return f"""
           subgrid || '_E' ||
           lpad(((floor(x/{ts})*{ts})/100000)::INT::VARCHAR, 3, '0') ||
           (CASE WHEN floor(y/{ts})*{ts} < 0 THEN 'S' ELSE 'N' END) ||
           lpad(abs((floor(y/{ts})*{ts})/100000)::INT::VARCHAR, 3, '0') ||
           '{tid}'
    """


@register(
    "tilename_multilevel",
    f"""
    WITH d AS ({_SQL_DERIVED_XY})
    SELECT key,
           {_sql_name_at(600000, 'T6')} AS t6,
           {_sql_name_at(300000, 'T3')} AS t3,
           {_sql_name_at(100000, 'T1')} AS t1,
           {_sql_name_at(200000, 'T2')} AS t2
    FROM d
    """,
)
def q_tilename_multilevel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One pass, all three standard levels PLUS a user-defined T2 =
    200 km level (reference get_user_equi7grid, core.py:538-569,
    registered via make_user_grid_config) — the hierarchy assignment a
    training pipeline materializes at write time for partition pruning.
    (Absorbed the former tilename_format_t2 entry: the driver harness
    runs only the first 50 queries() entries, so the registry stays
    <= 50 — see the round-6 builder notes.)"""
    from equi7grid_spark.constants import (
        RegularTilingDefinition,
        make_user_grid_config,
    )

    make_user_grid_config(
        500, {1: RegularTilingDefinition(name="T2", tile_shape=200_000)}
    )
    d = _derived_xy(spark, sf_dir)
    return d.select(
        "key",
        TL.tilename_at(F.col("subgrid"), F.col("x"), F.col("y"), "T6").alias("t6"),
        TL.tilename_at(F.col("subgrid"), F.col("x"), F.col("y"), "T3").alias("t3"),
        TL.tilename_at(F.col("subgrid"), F.col("x"), F.col("y"), "T1").alias("t1"),
        TL.tilename_at(F.col("subgrid"), F.col("x"), F.col("y"), "T2").alias("t2"),
    )


@register(
    "tile_rollup_counts",
    f"""
    WITH d AS ({_SQL_DERIVED_XY}),
    t1 AS MATERIALIZED (
      SELECT subgrid,
             floor(x/100000)::BIGINT AS tx,
             floor(y/100000)::BIGINT AS ty,
             count(*)::BIGINT AS n
      FROM d GROUP BY subgrid, floor(x/100000), floor(y/100000)
    ),
    lv AS (
      SELECT 'T1' AS level, subgrid, tx, ty, n FROM t1
      UNION ALL
      SELECT 'T3' AS level, subgrid,
             (floor(tx/3)*3)::BIGINT AS tx, (floor(ty/3)*3)::BIGINT AS ty,
             sum(n)::BIGINT AS n
      FROM t1 GROUP BY subgrid, floor(tx/3), floor(ty/3)
      UNION ALL
      SELECT 'T6' AS level, subgrid,
             (floor(tx/6)*6)::BIGINT AS tx, (floor(ty/6)*6)::BIGINT AS ty,
             sum(n)::BIGINT AS n
      FROM t1 GROUP BY subgrid, floor(tx/6), floor(ty/6)
    )
    SELECT level,
           subgrid || '_E' || lpad(tx::INT::VARCHAR, 3, '0') ||
           (CASE WHEN ty < 0 THEN 'S' ELSE 'N' END) ||
           lpad(abs(ty)::INT::VARCHAR, 3, '0') || level AS tilename,
           n
    FROM lv
    """,
)
def q_tile_rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution tile rollup (hypertable-rollup pattern): per-tile
    counts at ALL THREE standard tilings (T1/T3/T6) from one input scan.

    Scale shape (reference: Equi7Grid.py get_parent_from_name /
    get_children_from_name define the T1<T3<T6 nesting): the full-data
    aggregation happens ONCE at the finest grain (T1 integer cell keys,
    map-side partial agg, one shuffle of ~10^4 distinct keys); the T3/T6
    levels are derived by exploding each T1 AGGREGATE row into its three
    ancestors and re-aggregating — the second shuffle moves 3x the T1
    AGGREGATE (~10^4 rows), never 3x the input, which is what
    F.rollup/GROUPING SETS (Expand on the raw scan) would do at 100 TB.
    Tilenames are formatted post-agg on the tiny result, never per row.
    Nested-floor identity floor(x/(k*u)) == floor(floor(x/u)/k) makes the
    ancestor derivation exact on the integer cell keys."""
    d = _derived_xy(spark, sf_dir)
    t1 = d.groupBy(
        "subgrid",
        F.floor(F.col("x") / 100000).alias("tx"),
        F.floor(F.col("y") / 100000).alias("ty"),
    ).agg(F.count(F.lit(1)).alias("n"))
    anc = F.explode(
        F.array(
            F.struct(
                F.lit("T1").alias("level"),
                F.col("tx").alias("atx"),
                F.col("ty").alias("aty"),
            ),
            F.struct(
                F.lit("T3").alias("level"),
                (F.floor(F.col("tx") / 3) * 3).alias("atx"),
                (F.floor(F.col("ty") / 3) * 3).alias("aty"),
            ),
            F.struct(
                F.lit("T6").alias("level"),
                (F.floor(F.col("tx") / 6) * 6).alias("atx"),
                (F.floor(F.col("ty") / 6) * 6).alias("aty"),
            ),
        )
    ).alias("g")
    lv = (
        t1.select("subgrid", "n", anc)
        .groupBy("g.level", "subgrid", "g.atx", "g.aty")
        .agg(F.sum("n").alias("n"))
    )
    name = F.concat(
        F.col("subgrid"),
        F.lit("_E"),
        F.lpad(F.col("atx").cast("int").cast("string"), 3, "0"),
        F.when(F.col("aty") < 0, F.lit("S")).otherwise(F.lit("N")),
        F.lpad(F.abs(F.col("aty")).cast("int").cast("string"), 3, "0"),
        F.col("level"),
    )
    return lv.select("level", name.alias("tilename"), F.col("n").cast("long").alias("n"))


_KNN_TILES = [
    ("EU_E048N012T6", 5100000.0, 1500000.0),
    ("EU_E048N018T6", 5100000.0, 2100000.0),
    ("EU_E054N012T6", 5700000.0, 1500000.0),
    ("EU_E054N018T6", 5700000.0, 2100000.0),
    ("AF_E030N084T6", 3300000.0, 8700000.0),
    ("AF_E036N084T6", 3900000.0, 8700000.0),
    ("AS_E066N090T6", 6900000.0, 9300000.0),
    ("AS_E072N090T6", 7500000.0, 9300000.0),
    ("NA_E054N072T6", 5700000.0, 7500000.0),
    ("NA_E060N072T6", 6300000.0, 7500000.0),
    ("OC_E084N066T6", 8700000.0, 6900000.0),
    ("SA_E066N054T6", 6900000.0, 5700000.0),
]

_KNN_TILES_SQL = ", ".join(f"('{n}', {x!r}, {y!r})" for n, x, y in _KNN_TILES)


@register(
    "knn_tiles",
    f"""
    WITH d AS ({_SQL_DERIVED_XY}),
    pts AS (SELECT DISTINCT key, x, y FROM d WHERE key % 97 = 0),
    tiles(tname, cx, cy) AS (VALUES {_KNN_TILES_SQL}),
    scored AS (
      SELECT key, tname,
             (x - cx)*(x - cx) + (y - cy)*(y - cy) AS d2,
             row_number() OVER (
               PARTITION BY key
               ORDER BY (x - cx)*(x - cx) + (y - cy)*(y - cy), tname
             ) AS rank
      FROM pts CROSS JOIN tiles
    )
    SELECT key, rank::INT AS rank, tname FROM scored WHERE rank <= 3
    """,
)
def q_knn_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-side top-k (round 5): the tile list is a driver-side
    constant, so the 3 nearest tiles per point are a per-row array
    computation — score every tile in one `transform` pass, array_sort
    the (d2, tname) structs (field order = the window's ORDER BY d2,
    tname), slice 3, posexplode. Zero exchange beyond the scan — the
    previous crossJoin+row_number shuffled n_points x n_tiles rows
    through a per-key window exchange, which at 10^12 points is a
    36x-amplified shuffle for a result computable map-side.

    The point dedup (the synthetic key derivation collides; the old
    window silently collapsed duplicates) is the only exchange left —
    a map-side-partial hash aggregate on the FILTERED points (n/97 of
    the input), vs the old plan's full n_points x n_tiles window
    exchange. The DuckDB oracle mirrors it (SELECT DISTINCT)."""
    d = _derived_xy(spark, sf_dir).filter(F.col("key") % 97 == 0).dropDuplicates(["key"])
    x, y = F.col("x"), F.col("y")
    scored = F.array(
        *[
            F.struct(
                ((x - F.lit(cx)) * (x - F.lit(cx)) + (y - F.lit(cy)) * (y - F.lit(cy))).alias("d2"),
                F.lit(n).alias("tname"),
            )
            for n, cx, cy in _KNN_TILES
        ]
    )
    top3 = F.slice(F.array_sort(scored), 1, 3)
    return d.select("key", F.posexplode(top3)).select(
        "key",
        (F.col("pos") + 1).cast("int").alias("rank"),
        F.col("col.tname").alias("tname"),
    )


# ---------------------------------------------------------------------------
# text / dedup / similarity (training-pipeline ops; SQL-oracled)
# ---------------------------------------------------------------------------

@register(
    "dedup_exact",
    """
    SELECT md5(text) AS text_hash,
           min(doc_id)::BIGINT AS rep_id,
           count(*)::BIGINT AS n_dups
    FROM documents GROUP BY md5(text)
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.col("text").cast("binary")).alias("text_hash"))
        .agg(F.min("doc_id").alias("rep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


# BPE-ish pre-tokenizer pieces (GPT-2-style coarse classes: letter
# runs, single digits, punctuation runs) — syntax chosen to mean the
# same thing in Java regex (Spark) and RE2 (DuckDB)
_BPE_RE = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]+"


@register(
    "token_count",
    f"""
    SELECT doc_id, len(string_split(text, ' '))::INT AS n_tokens,
           len(regexp_extract_all(text, '{_BPE_RE}'))::INT AS n_subtokens,
           length(text)::INT AS n_chars_actual
    FROM documents
    """,
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting both ways a data pipeline needs it: whitespace
    tokens (split) and BPE-ish pre-tokenizer pieces (regexp_count over
    coarse GPT-2-style classes — the budget estimator used before a
    real tokenizer pass). Both integer columns, value-exact vs DuckDB."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("int").alias("n_tokens"),
        F.regexp_count(F.col("text"), F.lit(_BPE_RE)).cast("int").alias(
            "n_subtokens"
        ),
        F.length("text").cast("int").alias("n_chars_actual"),
    )


@register(
    "quality_score",
    """
    SELECT doc_id,
           round(length(regexp_replace(text, '[aeiou]', '', 'g'))::DOUBLE
                 / length(text), 9) AS consonant_ratio,
           round(len(string_split(text, ' '))::DOUBLE / length(text), 9)
             AS token_density
    FROM documents
    """,
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # try_divide: Spark 4 ANSI throws DIVIDE_BY_ZERO on empty text;
    # DuckDB double division by zero yields NULL — try_divide matches.
    d = _t(spark, sf_dir, "documents")
    cons = F.length(F.regexp_replace(F.col("text"), "[aeiou]", "")).cast("double")
    toks = F.size(F.split(F.col("text"), " ")).cast("double")
    return d.select(
        "doc_id",
        F.round(F.try_divide(cons, F.length("text")), 9).alias("consonant_ratio"),
        F.round(F.try_divide(toks, F.length("text")), 9).alias("token_density"),
    )


@register(
    "lang_id",
    """
    SELECT doc_id,
           CASE WHEN length(regexp_replace(text, '[^aeiou]', '', 'g'))::DOUBLE
                     / length(regexp_replace(text, '[^a-z]', '', 'g')) BETWEEN 0.25 AND 0.55
                THEN 'en' ELSE 'other' END AS lang_guess
    FROM documents
    """,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    # try_divide: a letterless doc would throw DIVIDE_BY_ZERO under
    # Spark 4 ANSI; DuckDB yields NULL -> CASE falls to 'other', and
    # when(NULL) falls to otherwise('other') — identical semantics.
    d = _t(spark, sf_dir, "documents")
    vowels = F.length(F.regexp_replace(F.col("text"), "[^aeiou]", "")).cast("double")
    letters = F.length(F.regexp_replace(F.col("text"), "[^a-z]", ""))
    ratio = F.try_divide(vowels, letters)
    return d.select(
        "doc_id",
        F.when((ratio >= 0.25) & (ratio <= 0.55), F.lit("en")).otherwise(F.lit("other")).alias("lang_guess"),
    )


@register(
    "doc_fingerprint",
    """
    SELECT doc_id,
           md5(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))) AS fp
    FROM documents
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    norm = F.lower(F.regexp_replace(F.col("text"), "[^a-zA-Z0-9 ]", ""))
    return d.select("doc_id", F.md5(norm.cast("binary")).alias("fp"))


# --- dot-product strategy --------------------------------------------------
# Every dot product is a compiled kernel call accumulating left to
# right, the order of DuckDB's list_dot_product: the cosine verify
# (dedup.cosine_seq -> equi7_cosine_seq) and every LSH bucket sign
# (equi7_sign_buckets, equi7_emb_buckets). (An unrolled element_at sum
# is value-identical and codegen-able, but 96 dots x 64 terms made a
# ~6k-node expression tree whose Catalyst planning + codegen took 40s.)
# Bucket ids consume only the SIGN, and the minimum |dot| over every
# (vector, plane) pair in the test sets is >= 5e-6, so their
# cross-engine parity does not even need the shared order.
# Cosine normalizations use try_divide: a zero-norm vector throws
# DIVIDE_BY_ZERO under Spark 4 ANSI while DuckDB yields NULL; NULL
# cosines sort NULLS LAST under DESC in both engines and fail every
# >= threshold, so the semantics agree.


@register(
    "ann_cosine_topk",
    """
    WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 10 AND embedding IS NOT NULL),
    c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings
         WHERE embedding IS NOT NULL),
    scored AS (
      SELECT qid, cid,
             list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
               AS cosine,
             row_number() OVER (
               PARTITION BY qid
               ORDER BY list_dot_product(qv, cv)
                 / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) DESC,
               cid
             ) AS rank
      FROM q CROSS JOIN c
      WHERE qid <> cid
    )
    SELECT qid, rank::INT AS rank, cid FROM scored WHERE rank <= 5
    """,
)
def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from equi7grid_spark.operators.partitioning import spread_small_input

    e = _t(spark, sf_dir, "embeddings")
    # spread the file-bound single-partition read: the cosine runs
    # over every candidate row
    base = spread_small_input(e.filter(F.col("embedding").isNotNull())).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = base.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    c = base.select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
    # pin the 10-row query side as the broadcast build: the BNLJ choice
    # must not hinge on size estimation of a filtered scan at scale
    j = F.broadcast(q).crossJoin(c).filter(F.col("qid") != F.col("cid"))
    from equi7grid_spark.dedup import cosine_seq

    # compiled sequential-order cosine (bit-identical to the former
    # interpreted HOF chain — dedup.cosine_seq): identical doubles,
    # hence identical rank order/ties
    cosine = cosine_seq(spark, F.col("qv"), F.col("cv"))
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid").asc())
    return (
        j.withColumn("cosine", cosine)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("qid", F.col("rank").cast("int").alias("rank"), "cid")
    )


@register(
    "events_windowed",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type,
           count(*)::BIGINT AS n,
           round(sum(value), 3) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ts is TIMESTAMP_NTZ: truncate + format as a tz-free string so the
    # comparison is independent of either engine's session timezone.
    e = _t(spark, sf_dir, "events")
    win = F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss")
    return (
        e.groupBy(win.alias("win_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 3).alias("total_value"))
    )


@register(
    "sessionize",
    """
    WITH g AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL
                  OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session,
             event_id
      FROM events
    ),
    s AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING
             ) AS session_id
      FROM g
    )
    SELECT user_id, session_id::INT AS session_id,
           count(*)::BIGINT AS n_events,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
           round(sum(value), 3) AS total_value
    FROM s GROUP BY user_id, session_id
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag → flag →
    running sum → per-session agg. Batch twin of the stateful
    streaming sessionizer (streaming/pipeline.py)."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lag_ts = F.lag("ts").over(w)
    new_s = F.when(
        lag_ts.isNull() | F.expr("ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL 30 MINUTES"),
        F.lit(1),
    ).otherwise(F.lit(0))
    s = e.withColumn("new_session", new_s).withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return s.groupBy("user_id", F.col("session_id").cast("int").alias("session_id")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        F.round(F.sum("value"), 3).alias("total_value"),
    )


_SQL_SHINGLES = """
  SELECT DISTINCT doc_id, sh AS shingle FROM (
    SELECT doc_id,
           unnest(list_transform(
             generate_series(1, greatest(len(string_split(text,' ')) - 2, 0)),
             i -> array_to_string(list_slice(string_split(text,' '), i, i+2), ' ')
           )) AS sh
    FROM documents)
"""

# MinHash: ONE md5 per shingle; permutation p = hex segment [4p, 4p+4)
# of the digest (independent 16-bit uniform hashes); one aggregation
# pass with 8 min() aggregates. Mirrors dedup.minhash_wide exactly.
_SQL_LSH_BANDS = f"""
  WITH sh AS ({_SQL_SHINGLES}),
  sig AS (
    SELECT doc_id,
           min(substr(md5(shingle),  1, 4)) AS m0,
           min(substr(md5(shingle),  5, 4)) AS m1,
           min(substr(md5(shingle),  9, 4)) AS m2,
           min(substr(md5(shingle), 13, 4)) AS m3,
           min(substr(md5(shingle), 17, 4)) AS m4,
           min(substr(md5(shingle), 21, 4)) AS m5,
           min(substr(md5(shingle), 25, 4)) AS m6,
           min(substr(md5(shingle), 29, 4)) AS m7
    FROM sh GROUP BY doc_id
  ),
  bands AS (
    SELECT doc_id, 0::INT AS band,
           md5(m0 || ',' || m1 || ',' || m2 || ',' || m3) AS band_sig
    FROM sig
    UNION ALL
    SELECT doc_id, 1::INT AS band,
           md5(m4 || ',' || m5 || ',' || m6 || ',' || m7) AS band_sig
    FROM sig
  )
"""


@register(
    "dedup_minhash_lsh",
    f"""
    {_SQL_LSH_BANDS}
    SELECT band, band_sig, count(*)::BIGINT AS n_docs, min(doc_id)::BIGINT AS rep_id
    FROM bands GROUP BY band, band_sig HAVING count(*) > 1
    """,
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from equi7grid_spark.dedup import minhash_candidate_groups

    return minhash_candidate_groups(_t(spark, sf_dir, "documents"))


@register(
    "dedup_ngram_jaccard",
    f"""
    {_SQL_LSH_BANDS},
    pairs AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM bands l JOIN bands r
        ON l.band = r.band AND l.band_sig = r.band_sig AND l.doc_id < r.doc_id
    ),
    sh2 AS ({_SQL_SHINGLES}),
    sizes AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM sh2 GROUP BY doc_id),
    inter AS (
      SELECT p.a, p.b, count(*)::BIGINT AS n_inter
      FROM pairs p
      JOIN sh2 sa ON sa.doc_id = p.a
      JOIN sh2 sb ON sb.doc_id = p.b AND sb.shingle = sa.shingle
      GROUP BY p.a, p.b
    )
    SELECT i.a, i.b,
           round(n_inter::DOUBLE / (za.n_sh + zb.n_sh - n_inter), 9) AS jaccard
    FROM inter i
    JOIN sizes za ON za.doc_id = i.a
    JOIN sizes zb ON zb.doc_id = i.b
    WHERE n_inter::DOUBLE / (za.n_sh + zb.n_sh - n_inter) >= 0.8
    """,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from equi7grid_spark.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.8)


# shared by the dedup_clusters and corpus_curation oracles: LSH
# candidates -> exact Jaccard verify (threshold 0.8, arithmetic
# identical to dedup.ngram_jaccard_pairs) -> symmetric edge list ->
# recursive transitive closure
_SQL_CLUSTER_CTES = f"""
    {_SQL_LSH_BANDS.replace("WITH sh", "WITH RECURSIVE sh", 1)},
    cpairs AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM bands l JOIN bands r
        ON l.band = r.band AND l.band_sig = r.band_sig AND l.doc_id < r.doc_id
    ),
    sh2 AS ({_SQL_SHINGLES}),
    sizes AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM sh2 GROUP BY doc_id),
    inter AS (
      SELECT p.a, p.b, count(*)::BIGINT AS n_inter
      FROM cpairs p
      JOIN sh2 sa ON sa.doc_id = p.a
      JOIN sh2 sb ON sb.doc_id = p.b AND sb.shingle = sa.shingle
      GROUP BY p.a, p.b
    ),
    vpairs AS (
      SELECT i.a, i.b
      FROM inter i
      JOIN sizes za ON za.doc_id = i.a
      JOIN sizes zb ON zb.doc_id = i.b
      WHERE n_inter::DOUBLE / (za.n_sh + zb.n_sh - n_inter) >= 0.8
    ),
    edges AS (
      SELECT a, b FROM vpairs UNION ALL SELECT b AS a, a AS b FROM vpairs
    ),
    reach AS (
      SELECT DISTINCT a AS id, a AS lab FROM edges
      UNION
      SELECT e.a AS id, r.lab AS lab FROM edges e JOIN reach r ON r.id = e.b
    )
"""


@register(
    "dedup_clusters",
    f"""
    {_SQL_CLUSTER_CTES}
    SELECT id AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY id
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-duplicate clustering (the dedup pipeline closer:
    candidates → verify → connected components → canonical doc per
    cluster). Spark runs min-label propagation with pointer jumping,
    O(log diameter) rounds (dedup.duplicate_clusters); the DuckDB
    oracle computes the same fixpoint as a recursive transitive-closure
    CTE — both sides converge to cluster_id = min doc_id reachable, so
    the comparison is exact despite the different algorithms."""
    from equi7grid_spark.dedup import duplicate_clusters

    return duplicate_clusters(_t(spark, sf_dir, "documents"), threshold=0.8)


@register(
    "corpus_curation",
    f"""
    {_SQL_CLUSTER_CTES},
    dupes AS (
      SELECT id AS doc_id FROM reach GROUP BY id HAVING min(lab) <> id
    )
    SELECT d.doc_id,
           len(string_split(d.text, ' '))::INT AS n_tokens
    FROM documents d
    WHERE length(regexp_replace(d.text, '[^aeiou]', '', 'g'))::DOUBLE
            / length(regexp_replace(d.text, '[^a-z]', '', 'g')) BETWEEN 0.33 AND 0.55
      AND len(string_split(d.text, ' ')) >= 20
      AND length(regexp_replace(d.text, '[aeiou]', '', 'g'))::DOUBLE
            / length(d.text) <= 0.725
      AND d.doc_id NOT IN (SELECT doc_id FROM dupes)
    """,
)
def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data curation pass, composed from the
    oracled building blocks in ONE job: language filter (vowel-ratio
    heuristic) + minimum-length filter + near-duplicate removal
    keeping each cluster's canonical (minimum doc_id) member. The
    anti-join side is the clustered duplicate set — at 10^12 docs it
    is a small fraction of the corpus, and the join key is doc_id, so
    the plan is scan → filter (pushed down) → one anti-join against
    the (much smaller) duplicate list."""
    from equi7grid_spark.dedup import duplicate_clusters

    d = _t(spark, sf_dir, "documents")
    # try_divide: letterless/empty docs must filter out (NULL ratio),
    # not crash under ANSI — mirrors DuckDB's NULL on double /0
    vowels = F.length(F.regexp_replace(F.col("text"), "[^aeiou]", "")).cast("double")
    letters = F.length(F.regexp_replace(F.col("text"), "[^a-z]", ""))
    ratio = F.try_divide(vowels, letters)
    cons = F.length(F.regexp_replace(F.col("text"), "[aeiou]", "")).cast("double")
    n_tokens = F.size(F.split(F.col("text"), " "))
    dupes = (
        duplicate_clusters(d, threshold=0.8)
        .filter(F.col("cluster_id") != F.col("doc_id"))
        .select("doc_id")
    )
    return (
        d.filter(
            (ratio >= 0.33)
            & (ratio <= 0.55)
            & (n_tokens >= 20)
            & (F.try_divide(cons, F.length("text")) <= 0.725)
        )
        .join(dupes, "doc_id", "left_anti")
        .select("doc_id", n_tokens.cast("int").alias("n_tokens"))
    )


@register(
    "dedup_simhash",
    """
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
    h AS (SELECT doc_id, md5(t) AS m FROM tok),
    bits AS (
      SELECT doc_id, i.i AS i,
             sum((strpos('0123456789abcdef', substr(m, i.i + 1, 1)) % 2) * 2 - 1) AS s
      FROM h CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i) i
      GROUP BY doc_id, i.i
    ),
    sh AS (
      SELECT doc_id,
             sum(CASE WHEN s > 0 THEN 1 ELSE 0 END * (1::BIGINT << i))::INT AS simhash
      FROM bits GROUP BY doc_id
    )
    SELECT simhash, count(*)::BIGINT AS n_docs, min(doc_id)::BIGINT AS rep_id
    FROM sh GROUP BY simhash HAVING count(*) > 1
    """,
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from equi7grid_spark.dedup import simhash_near_dups

    return simhash_near_dups(_t(spark, sf_dir, "documents"))


# Deterministic hyperplanes for the near-dup LSH bands: 24 bands x 2
# planes. Literal values are embedded in BOTH the Spark plan and the
# DuckDB oracle, so the candidate sets agree by construction. Band/
# plane counts tuned so the banded candidates recover every pair with
# cosine >= 0.45 on all sf test sets (recall pinned 1.0 vs the exact
# all-pairs SQL by tests/test_queries_scale.py); at cos = 0.45 the
# single-band hit rate is (1 - acos(0.45)/pi)^2 = 0.42, so 24 bands
# miss a borderline pair with p = 0.58^24 ~ 2e-6.
_ND_BANDS = 24


def _nd_planes() -> list[list[float]]:
    import numpy as np

    rng = np.random.default_rng(20260816)
    return np.round(rng.standard_normal((2 * _ND_BANDS, 64)), 6).tolist()


def _nd_sql_planes() -> str:
    planes = _nd_planes()

    def arr(p):
        return "[" + ",".join(repr(float(v)) for v in p) + "]::DOUBLE[]"

    return ",".join(
        f"({b}, {arr(planes[2 * b])}, {arr(planes[2 * b + 1])})"
        for b in range(_ND_BANDS)
    )


@register(
    "embedding_near_dup",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
               WHERE embedding IS NOT NULL),
    planes(band, p1, p2) AS (VALUES {_nd_sql_planes()}),
    buckets AS (
      SELECT vec_id, band,
             (CASE WHEN list_dot_product(v, p1) > 0 THEN 2 ELSE 0 END)
           + (CASE WHEN list_dot_product(v, p2) > 0 THEN 1 ELSE 0 END) AS bucket
      FROM e CROSS JOIN planes
    ),
    cand AS (
      SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
      FROM buckets x JOIN buckets y
        ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id < y.vec_id
    )
    SELECT c.a, c.b,
           round(list_dot_product(ea.v, eb.v)
                 / (sqrt(list_dot_product(ea.v, ea.v))
                    * sqrt(list_dot_product(eb.v, eb.v))), 9) AS cosine
    FROM cand c JOIN e ea ON ea.vec_id = c.a JOIN e eb ON eb.vec_id = c.b
    WHERE list_dot_product(ea.v, eb.v)
          / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v)))
          >= 0.45
    """,
)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-banded near-duplicate pairs: candidates come from a
    24-band x 2-plane hyperplane LSH (the bucket id is the join key —
    the shuffle moves (band, bucket, vec) tuples, never all pairs),
    then ONLY candidates get the exact cosine verify. Banding and the
    verify are compiled kernel calls (equi7_sign_buckets,
    equi7_cosine_seq): the plan has no Python stage.

    Band granularity is threshold-driven: this query's 0.45 threshold
    (the test data's near-dup pairs sit at cos 0.45-0.65) forces
    2-plane bands — per-pair miss prob (1-0.647^2)^24 ~ 2e-6, recall
    pinned 1.0 vs exact all-pairs by tests/test_queries_scale.py —
    at the cost of coarse 4-way buckets. At a production near-dup
    threshold (cos >= 0.9) the same structure takes 8-16 planes per
    band, giving 256-65536-way buckets whose candidate volume stays
    near-linear in n; the bucket width is a parameter of the
    threshold, not of the engine design. The DuckDB oracle mirrors
    the banding literally, so the gate stays value-exact."""
    import numpy as np

    from equi7grid_spark.operators import kernel
    from equi7grid_spark.operators.partitioning import spread_small_input

    kernel.require_kernel(spark, "embedding_near_dup banding")
    e = _t(spark, sf_dir, "embeddings")
    ev = spread_small_input(e.filter(F.col("embedding").isNotNull())).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # the oracle's band value is 2 * (p1 dot > 0) + (p2 dot > 0): bit 0
    # of band b is plane 2b+1, bit 1 is plane 2b
    planes = np.array(_nd_planes()).reshape(_ND_BANDS, 2, -1)[:, ::-1]
    buckets = kernel.sign_buckets_col(F.col("v"), planes)
    bands = ev.select("vec_id", F.posexplode(buckets).alias("band", "bucket"))
    x = bands.select(
        F.col("vec_id").alias("a"), F.col("band").alias("band_a"), F.col("bucket").alias("bucket_a")
    )
    y = bands.select(
        F.col("vec_id").alias("b"), F.col("band").alias("band_b"), F.col("bucket").alias("bucket_b")
    )
    cand = (
        x.join(
            y,
            (F.col("band_a") == F.col("band_b"))
            & (F.col("bucket_a") == F.col("bucket_b"))
            & (F.col("a") < F.col("b")),
        )
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )
    ea = ev.select(F.col("vec_id").alias("a"), F.col("v").alias("va"))
    eb = ev.select(F.col("vec_id").alias("b"), F.col("v").alias("vb"))
    j = cand.join(ea, "a").join(eb, "b")
    from equi7grid_spark.dedup import cosine_seq

    # compiled sequential-order cosine (bit-identical to the former
    # interpreted HOF chain — dedup.cosine_seq); Generate barrier keeps
    # the threshold filter from duplicating the evaluation (guide §4.4)
    cosine = cosine_seq(spark, F.col("va"), F.col("vb"))
    return (
        j.withColumn("cos_raw", F.explode(F.array(cosine)))
        .filter(F.col("cos_raw") >= 0.45)
        .select("a", "b", F.round("cos_raw", 9).alias("cosine"))
    )


# deterministic LSH hyperplanes for the bucketed-ANN scale path
_N_PLANES = 3
_EMB_DIM = 64


def _lsh_plane(j: int) -> list[float]:
    return [float(((j * 37 + d * 101) % 19) - 9) for d in range(_EMB_DIM)]


def _sql_plane(j: int) -> str:
    return "[" + ",".join(repr(v) for v in _lsh_plane(j)) + "]::DOUBLE[]"


@register(
    "ann_lsh_bucketed",
    f"""
    WITH e AS (
      -- NULL embeddings are excluded by contract on both engines (the
      -- Spark side filters isNotNull); NOTE DuckDB 1.0.0 evaluates
      -- join-key projections before this filter and its vectorized
      -- list_inner_product rejects batches with NULL rows, so a table
      -- that still CONTAINS NULLs must be pre-filtered at the view
      -- (see tests/test_documents_edge_parity.py)
      SELECT vec_id, embedding::DOUBLE[] AS v,
             (CASE WHEN list_dot_product(embedding::DOUBLE[], {_sql_plane(0)}) > 0 THEN 1 ELSE 0 END)
           + (CASE WHEN list_dot_product(embedding::DOUBLE[], {_sql_plane(1)}) > 0 THEN 2 ELSE 0 END)
           + (CASE WHEN list_dot_product(embedding::DOUBLE[], {_sql_plane(2)}) > 0 THEN 4 ELSE 0 END)
             AS bucket
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    q AS (SELECT vec_id AS qid, v AS qv, bucket FROM e WHERE vec_id < 10),
    scored AS (
      SELECT qid, c.vec_id AS cid, q.bucket,
             row_number() OVER (
               PARTITION BY qid
               ORDER BY list_dot_product(qv, c.v)
                 / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(c.v, c.v))) DESC,
               c.vec_id
             ) AS rank
      FROM q JOIN e c ON c.bucket = q.bucket AND c.vec_id <> q.qid
    )
    SELECT qid, bucket::INT AS bucket, rank::INT AS rank, cid
    FROM scored WHERE rank <= 3
    """,
)
def q_ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path for ANN: random-hyperplane LSH buckets shrink the
    candidate set ~2^planes-fold before the exact cosine top-k; at
    10^12 rows the bucket id becomes the shuffle/partition key."""
    from pyspark.sql import Window

    from equi7grid_spark.operators import kernel
    from equi7grid_spark.operators.partitioning import spread_small_input

    e = _t(spark, sf_dir, "embeddings")
    base = spread_small_input(e.filter(F.col("embedding").isNotNull())).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # eager checkpoint: the query and candidate branches are two plan
    # consumers of `ev` — without it the scan + banding run TWICE (one
    # per join side; interleaved A/B at sf1 when the banding was an
    # Arrow UDF: min 2.54s → 1.13s noop). Eager per the r5 lazy-cache
    # race lesson; the frame is O(n) vector rows, the same bytes the
    # join must materialize anyway.
    kernel.require_kernel(spark, "ann_lsh_bucketed banding")
    planes = [[_lsh_plane(j) for j in range(_N_PLANES)]]  # one band
    bucket = kernel.sign_buckets_col(F.col("v"), planes)[0]
    ev = base.select("vec_id", "v", bucket.alias("bucket")).localCheckpoint()
    q = ev.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv"), "bucket"
    )
    c = ev.select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"),
                  F.col("bucket").alias("cbucket"))
    j = q.join(c, (F.col("bucket") == F.col("cbucket")) & (F.col("qid") != F.col("cid")))
    from equi7grid_spark.dedup import cosine_seq

    # compiled sequential-order cosine (bit-identical to the former
    # interpreted HOF chain — dedup.cosine_seq)
    cos = cosine_seq(spark, F.col("qv"), F.col("cv"))
    w = Window.partitionBy("qid").orderBy(F.col("_cos").desc(), F.col("cid").asc())
    return (
        j.withColumn("_cos", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("qid", F.col("bucket").cast("int").alias("bucket"),
                F.col("rank").cast("int").alias("rank"), "cid")
    )


# ---------------------------------------------------------------------------
# geodesic pipeline (no SQL equivalent → rows-only oracle)
# ---------------------------------------------------------------------------

@register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           sum(CAST(l_quantity AS BIGINT))::BIGINT AS sum_qty,
           sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))::BIGINT
             AS revenue_cents,
           count(*)::BIGINT AS n_rows,
           count(DISTINCT l_orderkey)::BIGINT AS n_orders
    FROM lineitem
    WHERE l_shipdate < TIMESTAMP '1998-09-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic relational aggregation (filter pushdown + partial agg +
    distinct count) with an exact DuckDB oracle. Money is summed as
    per-row-rounded integer cents: double sums are order-dependent in
    the last ulp, and Spark's parallel partial aggregation vs DuckDB's
    sequential sum can flip a round(...,2) boundary."""
    li = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    return (
        li.filter(F.col("l_shipdate") < "1998-09-01")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(cents).alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("l_orderkey").alias("n_orders"),
        )
    )


@register(
    "top_customers_by_zone",
    f"""
    WITH pts AS ({_SQL_DERIVED_LONLAT}),
    spend AS (
      SELECT o_custkey, round(sum(o_totalprice), 2) AS total
      FROM orders GROUP BY o_custkey
    )
    SELECT p.pt_id, s.total,
           row_number() OVER (ORDER BY s.total DESC, p.pt_id) AS rank
    FROM pts p JOIN spend s ON s.o_custkey = p.pt_id
    ORDER BY rank LIMIT 50
    """,
)
def q_top_customers_by_zone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + top-k across the star schema (customer x orders), exact
    DuckDB oracle. The top-k is orderBy().limit() — Spark plans it as
    TakeOrderedAndProject (per-partition partial top-k, then a single
    merge of 50-row heads), not a global single-task window sort; the
    rank column derives from a window over just the 50 collected rows.
    (Zone columns are attached in the rows-only variant
    zone_assign_counts; this one stays SQL-pure.)"""
    from pyspark.sql import Window

    pts = _derived_lonlat(spark, sf_dir)
    orders = _t(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(F.round(F.sum("o_totalprice"), 2).alias("total"))
    j = pts.join(spend, pts["pt_id"] == spend["o_custkey"]).select("pt_id", "total")
    top = j.orderBy(F.col("total").desc(), F.col("pt_id").asc()).limit(50)
    w = Window.orderBy(F.col("total").desc(), F.col("pt_id").asc())
    return top.withColumn("rank", F.row_number().over(w))


def _oracle_zone_assign_full() -> str:
    """FULL-domain zone oracle (round 4): decided cells via the digit
    map + boundary cells via the exact parity resolve
    (functions/zones_sql) — no subset, every input row oracled."""
    from equi7grid_spark.functions.zones_sql import resolve_zone_sql

    return f"""
    WITH pts AS ({_SQL_DERIVED_LONLAT}),
    {resolve_zone_sql("pts", "pt_id")}
    SELECT {_SQL_SUBGRID} AS subgrid, count(*)::BIGINT AS n
    FROM zoned GROUP BY subgrid ORDER BY subgrid
    """


def _oracle_zone_assign_merged() -> str:
    """Both domains in one entry (the driver harness runs only the
    first 50 queries() entries — r5 dropped entry #51 — so the decided
    twin rides its full-domain parent under a `domain` tag)."""
    return f"""
    SELECT 'full' AS domain, subgrid, n
    FROM ({_oracle_zone_assign_full()})
    UNION ALL
    SELECT 'decided' AS domain, subgrid, n
    FROM ({_oracle_zone_assign_decided()})
    """


@register("zone_assign_counts", _oracle_zone_assign_merged)
def q_zone_assign_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone assignment counts, value-exact over BOTH domains: 'full'
    (every row, boundary cells resolved by the exact parity PIP —
    oracle mirrors it via the inline edge tables, functions/zones_sql)
    and 'decided' (the 95.8% prefilter-decided subset: one compiled
    equi7_decided_zone filter in Spark, the 64,800-digit cell map in
    the oracle)."""
    full = q_zone_assign_full_counts(spark, sf_dir)
    dec = q_zone_assign_decided_counts(spark, sf_dir)
    return full.withColumn("domain", F.lit("full")).unionByName(
        dec.withColumn("domain", F.lit("decided"))
    ).select("domain", "subgrid", "n")


def q_zone_assign_full_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from equi7grid_spark.operators.assign_jvm import assign_tiles_jvm

    pts = _derived_lonlat(spark, sf_dir)
    out = assign_tiles_jvm(pts, tiling_id="T6")
    return out.groupBy("subgrid").agg(F.count(F.lit(1)).alias("n")).orderBy("subgrid")


def _oracle_zone_assign_buffered() -> str:
    """Buffered MEMBERSHIP oracle (round 6): one row per (point,
    containing buffered zone) via the per-(cell, zone) parity export
    (functions/zones_sql.membership_zone_sql), rolled up per zone with
    the multi-membership count."""
    from equi7grid_spark.functions.zones_sql import membership_zone_sql

    return f"""
    WITH pts AS ({_SQL_DERIVED_LONLAT}),
    {membership_zone_sql("pts", "pt_id")},
    sized AS (
      SELECT pt_id, zc,
             count(*) OVER (PARTITION BY pt_id) AS n_zones
      FROM members
    )
    SELECT {_SQL_SUBGRID} AS subgrid,
           count(*)::BIGINT AS n_member,
           (count(*) FILTER (WHERE n_zones >= 2))::BIGINT AS n_multi
    FROM sized GROUP BY subgrid
    """


@register("zone_assign_buffered_counts", _oracle_zone_assign_buffered)
def q_zone_assign_buffered_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUFFERED multi-zone assignment at table scale, value-oracled
    (round 6 — the last oracle-able reference zone semantic): buffered
    zones overlap ~100 km past the continental divides, so a point can
    belong to up to 2 zones (reference search_tiles_in_roi over
    buffered grids, tests/test_equi7grid.py:412-418). The engine path
    is one compiled equi7_zone_members call per row (the per-cell IN
    mask + two-leg parity of zones_pip.membership_cands, baked into
    the jar); n_zones derives from the array size BEFORE the explode,
    so the plan has no per-point window or extra shuffle. The DuckDB
    mirror runs the same per-(cell, zone) parity export; both are
    certified against the NumPy ray test (zones.zone_membership) by
    tests/test_zones_pip_membership.py and tests/test_kernel_jar.py."""
    from equi7grid_spark.operators import kernel
    from equi7grid_spark.operators.assign_jvm import subgrid_from_code

    kernel.require_kernel(spark, "zone_assign_buffered_counts")
    pts = _derived_lonlat(spark, sf_dir)
    z = pts.select(kernel.zone_members_col(F.col("lon"), F.col("lat")).alias("arr"))
    # explode_outer + the zc filter, not explode: Spark infers
    # size(arr) > 0 AND isnotnull(arr) under a plain explode of an
    # attribute and pushes it down as two more calls of the kernel
    z = z.select(
        F.size("arr").alias("n_zones"), F.explode_outer("arr").alias("zc")
    ).filter(F.col("zc").isNotNull())
    return (
        z.groupBy("zc")
        .agg(
            F.count(F.lit(1)).alias("n_member"),
            F.sum((F.col("n_zones") >= 2).cast("long")).alias("n_multi"),
        )
        .select(
            subgrid_from_code(F.col("zc")).alias("subgrid"),
            "n_member",
            "n_multi",
        )
    )


def _oracle_tile_assign_full() -> str:
    """FULL-domain flagship oracle: parity zone resolve + the 6-round
    unrolled Vincenty mirror + T6 floor keying, over every row."""
    from equi7grid_spark.functions.geodesy_sql import aeqd_forward_sql
    from equi7grid_spark.functions.zones_sql import resolve_zone_sql

    return f"""
    WITH pts AS ({_SQL_DERIVED_LONLAT}),
    {resolve_zone_sql("pts", "pt_id")},
    proj AS ({aeqd_forward_sql("zoned")}),
    {_SQL_T6_COUNTS_FROM_PROJ}
    """


@register("tile_assign_t6_counts", _oracle_tile_assign_full)
def q_tile_assign_t6_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship operator on the JVM-only path (one compiled
    equi7_zone_tile_key call per row; operators/assign_jvm) —
    value-parity with the NumPy golden is pinned by
    tests/test_assign_jvm.py. Round 4: now value-oracled over the FULL
    domain (boundary cells included) via the parity-resolve SQL
    mirror."""
    from equi7grid_spark.operators.assign_jvm import tile_counts_jvm

    pts = _derived_lonlat(spark, sf_dir)
    return tile_counts_jvm(pts, tiling_id="T6").select("subgrid", "tilename", "n")


def _sql_decided(id_col: str, src: str) -> str:
    """CTEs `coded` and `dec` (id_col, lon, lat, zc): the rows of `src`
    in 1-degree cells whose primary zone the prefilter alone decides
    (digit 0..6 of the engine's decided-cell map —
    functions/geodesy_sql). SQL twin of _decided."""
    from equi7grid_spark.functions.geodesy_sql import cell_id_sql, decided_digit_string

    digits = decided_digit_string()
    return f"""coded AS (
      SELECT {id_col}, lon, lat,
             CAST(substr('{digits}', {cell_id_sql()} + 1, 1) AS TINYINT) AS zc
      FROM {src}
    ),
    dec AS (SELECT * FROM coded WHERE zc <= 6)
    """


def _decided_pts_sql() -> str:
    """CTE body `dec`: derived lonlat points in decided cells."""
    return f"""
    pts AS ({_SQL_DERIVED_LONLAT}),
    {_sql_decided("pt_id", "pts")}"""


_SQL_SUBGRID = "list_extract(['AF','AN','AS','EU','OC','NA','SA'], zc + 1)"


def _oracle_zone_assign_decided() -> str:
    return f"""
    WITH {_decided_pts_sql()}
    SELECT {_SQL_SUBGRID} AS subgrid, count(*)::BIGINT AS n
    FROM dec GROUP BY subgrid ORDER BY subgrid
    """


def _decided(df: DataFrame) -> DataFrame:
    """Rows of df (lon, lat) whose 1-degree cell the prefilter alone
    decides, with that zone code as zc (tinyint 0..6): one compiled
    equi7_decided_zone call per row, no join, no Python. The
    explode-of-one barrier keeps the not-null filter from being pushed
    down as a second evaluation of the call."""
    from equi7grid_spark.operators import kernel

    kernel.require_kernel(df.sparkSession, "the decided-cell zone lookup")
    zc = F.explode(F.array(kernel.decided_zone_col(F.col("lon"), F.col("lat"))))
    return df.withColumn("zc", zc).filter(F.col("zc").isNotNull())


def q_zone_assign_decided_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone assignment, value-exact DuckDB oracle on the decided-cell
    subset (95.8% of cells; the boundary-cell PIP remainder is covered
    by the full rows-only zone_assign_counts + the golden test suite).
    The oracle embeds the engine's 64,800-digit cell map as a substr
    lookup and the jar bakes the same map (equi7_decided_zone), so the
    two agree cell by cell."""
    from equi7grid_spark.operators.assign_jvm import subgrid_from_code

    d = _decided(_derived_lonlat(spark, sf_dir))
    return (
        d.groupBy("zc")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(subgrid_from_code(F.col("zc")).alias("subgrid"), "n")
        .orderBy("subgrid")
    )


# SQL tilename from integer T6 tile indices (tx, ty) — shared by every
# decided-cell tile oracle and the global ROI catalog oracle.
def _sql_t6_tilename(tx: str, ty: str, subgrid: str) -> str:
    return f"""{subgrid} || '_E' ||
           lpad((({tx} * 600000.0)/100000)::INT::VARCHAR, 3, '0') ||
           (CASE WHEN {ty} * 600000.0 < 0 THEN 'S' ELSE 'N' END) ||
           lpad(abs(({ty} * 600000.0)/100000)::INT::VARCHAR, 3, '0') ||
           'T6'"""


# CTE fragment: relation `proj` (zc, x, y) -> `agg` (zc, tx, ty, n).
# The GROUP BY is deliberately the FIRST thing above `proj`: it is a
# pipeline breaker, so DuckDB cannot inline the (huge) layered Vincenty
# projection tree into the tilename expression's multiple x/y
# references — pre-aggregation naming made the optimizer flatten the
# tree once per reference and hang (same class of trap as the
# CLAUDE.md CSE notes).
_SQL_T6_KEYED_AGG = """
    keyed AS (
      SELECT zc,
             CAST(floor(x/600000.0) AS BIGINT) AS tx,
             CAST(floor(y/600000.0) AS BIGINT) AS ty
      FROM proj
    ),
    agg AS MATERIALIZED (
      SELECT zc, tx, ty, count(*)::BIGINT AS n FROM keyed GROUP BY zc, tx, ty
    )
"""

# CTE tail: relation `proj` (zc, x, y) -> per-tile counts
_SQL_T6_COUNTS_FROM_PROJ = f"""
    {_SQL_T6_KEYED_AGG}
    SELECT {_sql_t6_tilename('tx', 'ty', _SQL_SUBGRID)} AS tilename,
           {_SQL_SUBGRID} AS subgrid, n
    FROM agg
"""


def _oracle_tile_assign_decided() -> str:
    from equi7grid_spark.functions.geodesy_sql import aeqd_forward_sql

    return f"""
    WITH {_decided_pts_sql()},
    proj AS ({aeqd_forward_sql("dec")}),
    {_SQL_T6_COUNTS_FROM_PROJ}
    """


@register("tile_assign_decided_t6_counts", _oracle_tile_assign_decided)
def q_tile_assign_decided_t6_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship's geodesic core under a value-exact DuckDB oracle:
    the oracle re-derives the AEQD forward (Vincenty inverse problem)
    as 6 unrolled rounds of plain arithmetic in pure SQL
    (functions/geodesy_sql), the engine runs the compiled kernel
    (equi7_xy). Outputs are tile indices/counts — floor-robust against
    the <1e-6 m cross-engine convergence slack — on the decided-cell
    subset (boundary-cell PIP stays rows-only in tile_assign_t6_counts)."""
    d = _decided(_derived_lonlat(spark, sf_dir)).select("zc", "lon", "lat")
    return _t6_counts_from_proj(_aeqd_proj(d))


def _aeqd_proj(d: DataFrame) -> DataFrame:
    """(zc, lon, lat) -> (zc, x, y) with the compiled Vincenty kernel
    (one call/row, tiny plan — within 1e-6 m of the SQL mirror's 6
    unrolled rounds, far inside the tile-floor margin)."""
    from equi7grid_spark.operators import kernel

    kernel.require_kernel(d.sparkSession, "the AEQD forward projection")
    return d.withColumn(
        "_xy", kernel.xy_col(F.col("zc"), F.col("lon"), F.col("lat"))
    ).select(
        "zc",
        F.element_at("_xy", 1).alias("x"),
        F.element_at("_xy", 2).alias("y"),
    )


def _t6_counts_from_keys(agg: DataFrame) -> DataFrame:
    """(zc, tx, ty, n) -> (tilename, subgrid, n): post-agg tilename
    formatting on the ~10^3 aggregate rows, never per input row."""
    from equi7grid_spark.functions.tiling import tilename
    from equi7grid_spark.operators.assign_jvm import subgrid_from_code

    ts = 600000.0
    sub = subgrid_from_code(F.col("zc"))
    return agg.select(
        tilename(sub, F.col("tx") * ts, F.col("ty") * ts, "T6").alias("tilename"),
        sub.alias("subgrid"),
        "n",
    )


def _t6_counts_from_proj(proj: DataFrame) -> DataFrame:
    """(zc, x, y) -> (tilename, subgrid, n); Spark twin of
    _SQL_T6_COUNTS_FROM_PROJ."""
    ts = 600000.0
    agg = (
        proj.select(
            "zc",
            F.floor(F.col("x") / ts).cast("long").alias("tx"),
            F.floor(F.col("y") / ts).cast("long").alias("ty"),
        )
        .groupBy("zc", "tx", "ty")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return _t6_counts_from_keys(agg)


def _oracle_tile_roundtrip() -> str:
    """Full-domain roundtrip oracle: resolve -> forward -> inverse ->
    forward -> T6 counts, each giant layered chain fenced MATERIALIZED
    so DuckDB plans them independently."""
    from equi7grid_spark.functions.geodesy_sql import (
        aeqd_forward_sql,
        aeqd_inverse_sql,
    )
    from equi7grid_spark.functions.zones_sql import resolve_zone_sql

    return f"""
    WITH pts AS ({_SQL_DERIVED_LONLAT}),
    {resolve_zone_sql("pts", "pt_id")},
    p1 AS MATERIALIZED ({aeqd_forward_sql("zoned")}),
    inv AS MATERIALIZED ({aeqd_inverse_sql("p1")}),
    proj AS MATERIALIZED ({aeqd_forward_sql("inv")}),
    {_SQL_T6_COUNTS_FROM_PROJ}
    """


@register("tile_roundtrip_t6_counts", _oracle_tile_roundtrip)
def q_tile_roundtrip_t6_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection roundtrip closure at table scale, value-oracled over
    the FULL domain: zone resolve -> AEQD forward -> inverse -> forward
    again -> per-T6-tile counts, all in the compiled kernel. A drift in
    EITHER direction would land the second projection in different
    tiles than tile_assign_t6_counts computes; the measured closure is
    < 1e-11 deg ≈ 1e-6 m against the 600 km tile floor (reference
    xy_to_lonlat roundtrip semantics, tests/test_equi7grid.py:50-99)."""
    from equi7grid_spark.operators import kernel

    kernel.require_kernel(spark, "tile_roundtrip_t6_counts")
    pts = _derived_lonlat(spark, sf_dir)
    # fused roundtrip kernel (round 7): zone resolve + fwd → inv → fwd
    # + floor keying in ONE compiled call per row — the same Vincenty
    # invocations as an xy_col → lonlat_col → xy_col chain
    # (bit-identical doubles), minus three per-row boxed-array UDF
    # round-trips. Same one-scan/one-shuffle shape as the flagship
    # (guide §2.4). Explode-of-one barrier: the isNotNull filter must
    # not push down as a second evaluation of the (deterministic) UDF.
    ts = 600000.0
    keyed = pts.select(
        F.explode(
            F.array(
                kernel.roundtrip_zone_tile_key_col(F.col("lon"), F.col("lat"), ts)
            )
        ).alias("ztkey")
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
    return _t6_counts_from_keys(agg)


def _oracle_lonlat_roundtrip_buckets() -> str:
    """Bucketed roundtrip-closure oracle (round 6, replacing the
    rows-only maxerr scalar whose ~1e-12-deg value sits below the
    9-decimal cross-engine rounding floor): per-zone counts of points
    whose forward->inverse closure error falls under 1e-9 deg / under
    1e-7 / at-or-above 1e-7. Integer-valued, hence hashable. Boundary
    robustness: BOTH engines' chains close to < 1e-11 deg (measured
    decade histogram: worst decade -12 on the kernel path and on the
    6-round unrolled arithmetic the SQL mirror emits), so every
    point sits >= 2 decades from the 1e-9 edge — the buckets are a
    regression tripwire, not a knife-edge comparison."""
    from equi7grid_spark.functions.geodesy_sql import (
        aeqd_forward_sql,
        aeqd_inverse_sql,
    )
    from equi7grid_spark.functions.zones_sql import resolve_zone_sql

    err = (
        "greatest(abs(lat - olat),"
        " abs(fmod(fmod(lon - olon + 540.0, 360.0) + 360.0, 360.0) - 180.0)"
        " * cos(radians(olat)))"
    )
    return f"""
    WITH pts AS ({_SQL_DERIVED_LONLAT}),
    {resolve_zone_sql("pts", "pt_id")},
    src AS (SELECT zc, lon AS olon, lat AS olat, lon, lat FROM zoned),
    p1 AS MATERIALIZED ({aeqd_forward_sql("src", carry=("zc", "olon", "olat"))}),
    inv AS MATERIALIZED ({aeqd_inverse_sql("p1", carry=("zc", "olon", "olat"))}),
    e AS (SELECT zc, {err} AS err FROM inv)
    SELECT {_SQL_SUBGRID} AS subgrid,
           CASE WHEN err < 1e-9 THEN 'lt_1e9'
                WHEN err < 1e-7 THEN 'lt_1e7'
                ELSE 'ge_1e7' END AS err_bucket,
           count(*)::BIGINT AS n
    FROM e GROUP BY subgrid, err_bucket
    """


@register("lonlat_roundtrip_err_buckets", _oracle_lonlat_roundtrip_buckets)
def q_lonlat_roundtrip_err_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-zone closure-error buckets of the lonlat -> xy -> lonlat
    roundtrip (reference xy_to_lonlat roundtrip semantics,
    tests/test_equi7grid.py:50-99), VALUE-ORACLED (round 6): the former
    lonlat_roundtrip_maxerr scalar was rows-only because the max error
    (~1e-12 deg) vanishes under the 9-decimal rounding floor; integer
    bucket counts at 1e-9 / 1e-7 survive hashing and still trip on any
    closure regression. Uses the compiled kernel both ways (closure
    < 1e-11 deg — 2+ decades inside the first bucket edge)."""
    from equi7grid_spark.operators import kernel
    from equi7grid_spark.operators.assign_jvm import subgrid_from_code

    kernel.require_kernel(spark, "lonlat_roundtrip_err_buckets")
    pts = _derived_lonlat(spark, sf_dir)
    # zone resolve + forward in ONE compiled call per row (equi7_zone_xy),
    # then the compiled inverse. Explode-of-one barrier: the isNotNull
    # filter must not push down as a second evaluation of the UDF.
    zxy = F.explode(F.array(kernel.zone_xy_col(F.col("lon"), F.col("lat"))))
    fwd = (
        pts.select("lon", "lat", zxy.alias("_zxy"))
        .filter(F.col("_zxy").isNotNull())
        .select(
            F.col("_zxy")[0].cast("tinyint").alias("zc"),
            F.col("lon").alias("olon"),
            F.col("lat").alias("olat"),
            F.col("_zxy")[1].alias("x"),
            F.col("_zxy")[2].alias("y"),
        )
    )
    inv = fwd.withColumn(
        "_ll", kernel.lonlat_col(F.col("zc"), F.col("x"), F.col("y"))
    ).select(
        "zc", "olon", "olat",
        F.element_at("_ll", 1).alias("lon"),
        F.element_at("_ll", 2).alias("lat"),
    )
    err = F.greatest(
        F.abs(F.col("lat") - F.col("olat")),
        F.abs((F.col("lon") - F.col("olon") + 540.0) % 360.0 - 180.0)
        * F.cos(F.radians(F.col("olat"))),
    )
    bucket = (
        F.when(err < 1e-9, "lt_1e9").when(err < 1e-7, "lt_1e7").otherwise("ge_1e7")
    )
    return (
        inv.select("zc", bucket.alias("err_bucket"))
        .groupBy("zc", "err_bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            subgrid_from_code(F.col("zc")).alias("subgrid"), "err_bucket", "n"
        )
    )


# Fixed bitmap dimensions covering every zone's T6 index range
# (ix 0..31, iy -3..20); one 0/1 digit per (zone, ix, iy) cell.
_ROI_NIX, _ROI_IY0, _ROI_NIY = 32, -3, 24


def _oracle_roi_search_global() -> str:
    """The global-bbox ROI search must return exactly the engine's T6
    tile catalog (reference golden: 1801 tiles,
    tests/test_equi7grid.py:293-298). The oracle embeds each zone's
    membership + covers_land as bitmap strings (same trust model as the
    decided-cell digit map) and re-derives every tilename / ll_x / ll_y
    from tile-index arithmetic — so the geometry-clip path is checked
    value-exactly against catalog data + pure SQL arithmetic."""
    from equi7grid_spark.catalog import catalog_cells

    per_zone = _ROI_NIX * _ROI_NIY
    bits, land = [], []
    for sg in DEFAULT_SYSTEM_ORDER:
        cells = catalog_cells(sg, "T6")
        for ix in range(_ROI_NIX):
            for iy in range(_ROI_IY0, _ROI_IY0 + _ROI_NIY):
                e = cells.get((ix, iy))
                bits.append("1" if e else "0")
                land.append("1" if (e and e[1]) else "0")
    bits_s, land_s = "".join(bits), "".join(land)
    n_total = len(DEFAULT_SYSTEM_ORDER) * per_zone
    sub = f"list_extract(['AF','AN','AS','EU','OC','NA','SA'], (k // {per_zone}) + 1)"
    ix = f"((k % {per_zone}) // {_ROI_NIY})"
    iy = f"((k % {per_zone}) % {_ROI_NIY} + {_ROI_IY0})"
    return f"""
    WITH e AS (
      SELECT k, {sub} AS subgrid, {ix} AS ix, {iy} AS iy
      FROM generate_series(0, {n_total - 1}) AS t(k)
      WHERE substr('{bits_s}', k + 1, 1) = '1'
    )
    SELECT subgrid,
           {_sql_t6_tilename('ix', 'iy', 'subgrid')} AS tilename,
           (ix * 600000.0)::DOUBLE AS ll_x,
           (iy * 600000.0)::DOUBLE AS ll_y,
           substr('{land_s}', k + 1, 1) = '1' AS covers_land
    FROM e
    """


@register("roi_search_global_t6", _oracle_roi_search_global)
def q_roi_search_global_t6(spark: SparkSession, sf_dir: str) -> DataFrame:
    from equi7grid_spark.roi import get_tiles_in_geog_bbox

    tiles = get_tiles_in_geog_bbox((-179.9, -89.9, 179.9, 89.9), "T6")
    rows = [(t.subgrid, t.tilename, t.ll_x, t.ll_y, t.covers_land) for t in tiles]
    return spark.createDataFrame(
        rows, "subgrid string, tilename string, ll_x double, ll_y double, covers_land boolean"
    )


@register("image_decode_stats", None)
def q_image_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode path: synthesize 3000 images (raw/png/q8),
    decode each, aggregate per-format pixel stats. Deterministic;
    rows-only oracle (binary codecs not SQL-expressible)."""
    from equi7grid_spark.images import synthetic_images
    from equi7grid_spark.operators.multimodal import image_stats

    # the SAME host-cached fixture the phash pipeline scans (identical
    # synthesis call — one shared materialization): re-synthesizing
    # 3000 byte-carrying images per run cost 0.59s of this query's
    # 1.18s noop wall, and in production the decode reads a stored
    # table, not a generator
    imgs = _host_cached_fixture(
        spark,
        "pipeline_imgs_3000",
        synthetic_images(spark, 3000, with_bytes=True),
        params="synthetic_images(3000, with_bytes=True, seed=42)",
        files=32,
    )
    stats = image_stats(imgs)
    return (
        stats.groupBy("fmt")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("px_mean"), 6).alias("avg_mean"),
            F.max("px_max").alias("max_px"),
        )
        .orderBy("fmt")
    )


@register("warp_raster_to_tiles", None)
def q_warp_raster_to_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster→tile resample on the reference's synthetic lonlat fixture
    (reference tests/test_warp.py:43-80,129-174): 4 deterministic output
    tiles; rows-only oracle (geodesic warp not SQL-expressible)."""
    import numpy as np
    import pandas as pd

    from equi7grid_spark.warp.resample import resample_to_equi7_tiles

    extent = (50.0, 60.7, 51.2, 63.2)
    nodata = -9999
    w, h = 12, 25
    w_ar, h_ar = np.meshgrid(np.arange(w), np.arange(h))
    arr = (w_ar**2 + h_ar**2).astype(np.int16)
    arr[h // 2, w // 2] = nodata
    pdf = pd.DataFrame([{
        "image_id": "lonlat_img_continuous", "bytes": arr.tobytes(),
        "fmt": "raw", "dtype": "int16", "w": w, "h": h, "crs": "EPSG:4326",
        "x_min": extent[0], "y_min": extent[1],
        "x_max": extent[2], "y_max": extent[3], "nodata": float(nodata),
    }])
    out = resample_to_equi7_tiles(
        spark.createDataFrame(
            pdf,
            schema=(
                "image_id string, bytes binary, fmt string, dtype string,"
                " w int, h int, crs string, x_min double, y_min double,"
                " x_max double, y_max double, nodata double"
            ),
        ),
        "T6",
        1000.0,
        resampling="bilinear",
    )
    return out.select("image_id", "subgrid", "tilename", "n_valid").orderBy("tilename")


_IVF_K = 8
_IVF_ITERS = 2
_IVF_DIM = 64


def _oracle_ann_ivf_kmeans() -> str:
    """Unrolled-CTE mirror of the quantized Lloyd's chain
    (operators/kmeans.py): EVERY step of init / assignment / centroid
    update is exact integer arithmetic (sums ≤ 2^48, exact in BIGINT
    and in IEEE double), so the chain is bit-identical cross-engine
    regardless of summation order — the property that made the
    round-1 float KMeans un-oracle-able. Assignment distances are
    dims-exploded integer SUMs (order-free); the centroid mean
    floor((2s+n)/(2n)) uses floor() over double division (Python //
    floors, DuckDB // truncates — floor() matches Python; the
    quotient's distance from an integer is ≥ 1/(2n) ≫ double
    rounding at oracle scale, so the floor is exact). The final
    cosine top-k mirrors ann_lsh_bucketed's arithmetic."""
    from equi7grid_spark.operators.kmeans import Q_BITS

    scale = float(1 << Q_BITS)
    dmax = _IVF_DIM - 1

    def assign(prev_cd: str, out: str) -> str:
        return f"""
    {out} AS MATERIALIZED (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        FROM (
          SELECT qd.vec_id, cd.cell,
                 sum((qd.q - cd.qc) * (qd.q - cd.qc)) AS dist
          FROM qd JOIN {prev_cd} cd ON qd.d = cd.d
          GROUP BY qd.vec_id, cd.cell
        )
      ) WHERE rn = 1
    )"""

    def update(a: str, prev_cd: str, out: str) -> str:
        return f"""
    {out} AS MATERIALIZED (
      SELECT p.cell, p.d, coalesce(u.qc, p.qc) AS qc
      FROM {prev_cd} p LEFT JOIN (
        SELECT {a}.cell, qd.d,
               CAST(floor((2 * sum(qd.q) + count(*)) / (2.0 * count(*)))
                    AS BIGINT) AS qc
        FROM {a} JOIN qd ON {a}.vec_id = qd.vec_id
        GROUP BY {a}.cell, qd.d
      ) u ON u.cell = p.cell AND u.d = p.d
    )"""

    iter_ctes = []
    prev = "c0d"
    for i in range(1, _IVF_ITERS + 1):
        iter_ctes.append(assign(prev, f"a{i}"))
        iter_ctes.append(update(f"a{i}", prev, f"c{i}d"))
        prev = f"c{i}d"
    iter_ctes.append(assign(prev, "fin"))
    chain = ",".join(iter_ctes)
    return f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(floor(x * {scale!r} + 0.5) AS BIGINT)) AS qv
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    qd AS MATERIALIZED (
      SELECT vec_id, d, qv[d + 1] AS q
      FROM e, generate_series(0, {dmax}) AS t(d)
    ),
    c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, qv
      FROM e ORDER BY vec_id LIMIT {_IVF_K}
    ),
    c0d AS MATERIALIZED (
      SELECT cell, d, qv[d + 1] AS qc
      FROM c0, generate_series(0, {dmax}) AS t(d)
    ),{chain},
    q AS (SELECT vec_id AS qid, cell AS qcell FROM fin WHERE vec_id < 10),
    scored AS (
      SELECT qid, q.qcell, cf.vec_id AS cid,
             row_number() OVER (
               PARTITION BY qid
               ORDER BY list_dot_product(eq.v, ec.v)
                 / (sqrt(list_dot_product(eq.v, eq.v))
                    * sqrt(list_dot_product(ec.v, ec.v))) DESC,
               cf.vec_id
             ) AS rank
      FROM q
      JOIN fin cf ON cf.cell = q.qcell AND cf.vec_id <> q.qid
      JOIN e eq ON eq.vec_id = q.qid
      JOIN e ec ON ec.vec_id = cf.vec_id
    )
    SELECT qid, qcell::INT AS cell, rank::INT AS rank, cid
    FROM scored WHERE rank <= 3
    """


@register("ann_ivf_kmeans", _oracle_ann_ivf_kmeans)
def q_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN under a VALUE-EXACT oracle (round 5): the coarse
    quantizer is the deterministic quantized Lloyd's
    (operators/kmeans.quantized_kmeans — integer-exact init/assign/
    update, order-independent hence partitioning-independent and
    DuckDB-mirrorable as unrolled CTEs); candidates restrict to the
    query's cell before the exact cosine top-k. Replaces the round-1
    MLlib KMeans whose k-means|| init kept this rows-only."""
    from pyspark.sql import Window

    from equi7grid_spark.operators.kmeans import quantized_kmeans

    e = _t(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    ).select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    assigned, _ = quantized_kmeans(e, k=_IVF_K, update_iters=_IVF_ITERS)
    q = assigned.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("cell").alias("qcell"), F.col("v").alias("qv")
    )
    c = assigned.select(
        F.col("vec_id").alias("cid"), F.col("cell").alias("ccell"), F.col("v").alias("cv")
    )
    # Broadcast the 10-row query side: unpinned, this join shuffles BOTH
    # sides on an 8-value `cell` key (guaranteed skew at scale); pinned,
    # the candidate side streams map-side with zero shuffle.
    j = F.broadcast(q).join(
        c, (F.col("qcell") == F.col("ccell")) & (F.col("qid") != F.col("cid"))
    )
    from equi7grid_spark.dedup import cosine_seq

    # compiled sequential-order cosine (bit-identical to the former
    # interpreted HOF chain — dedup.cosine_seq)
    cos = cosine_seq(spark, F.col("qv"), F.col("cv"))
    w = Window.partitionBy("qid").orderBy(F.col("_c").desc(), F.col("cid").asc())
    return (
        j.withColumn("_c", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "qid",
            F.col("qcell").cast("int").alias("cell"),
            F.col("rank").cast("int").alias("rank"),
            "cid",
        )
    )


def _oracle_images_in_roi_full() -> str:
    """FULL-domain image-in-ROI oracle: splitmix64 location synthesis
    + parity zone resolve + Vincenty mirror + (subgrid, tilename) IN
    roi pair list — the PAIR key mirrors the engine's semi-join key
    (tilenames are zone-local strings, so a bare tilename IN list
    could admit a same-named tile from another subgrid)."""
    from equi7grid_spark.functions.geodesy_sql import aeqd_forward_sql
    from equi7grid_spark.functions.images_sql import synthetic_lonlat_sql
    from equi7grid_spark.functions.zones_sql import resolve_zone_sql
    from equi7grid_spark.roi import get_tiles_in_geog_bbox

    pairs = ", ".join(
        f"('{t.subgrid}', '{t.tilename}')"
        for t in get_tiles_in_geog_bbox(_IMG_ROI_BBOX, "T6")
    )
    return f"""
    WITH {synthetic_lonlat_sql(_N_IMG_ORACLE)},
    {resolve_zone_sql("img", "img_id")},
    proj AS ({aeqd_forward_sql("zoned")}),
    {_SQL_T6_KEYED_AGG},
    cnt AS (
      SELECT {_sql_t6_tilename('tx', 'ty', _SQL_SUBGRID)} AS tilename,
             {_SQL_SUBGRID} AS subgrid, n
      FROM agg
    )
    SELECT subgrid, tilename, n AS n_images
    FROM cnt WHERE (subgrid, tilename) IN ({pairs})
    """


def _oracle_images_in_roi_merged() -> str:
    """Full + decided domains in one entry (50-entry driver window —
    see _oracle_zone_assign_merged)."""
    return f"""
    SELECT 'full' AS domain, subgrid, tilename, n_images
    FROM ({_oracle_images_in_roi_full()})
    UNION ALL
    SELECT 'decided' AS domain, subgrid, tilename, n_images
    FROM ({_oracle_images_in_roi_decided()})
    """


@register("images_in_roi", _oracle_images_in_roi_merged)
def q_images_in_roi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROI-filtered image selection: tile-assign synthetic images, then
    semi-join against the broadcast ROI tile list (the engine's
    point-in-ROI query at table scale), value-oracled over BOTH
    domains: 'full' (boundary-cell PIP included via functions/
    zones_sql, round 4) and 'decided' (round 3's images_in_roi_decided
    — absorbed here for the 50-entry driver window)."""
    full = q_images_in_roi_full(spark, sf_dir)
    dec = q_images_in_roi_decided(spark, sf_dir)
    return full.withColumn("domain", F.lit("full")).unionByName(
        dec.withColumn("domain", F.lit("decided"))
    ).select("domain", "subgrid", "tilename", "n_images")


def q_images_in_roi_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    from equi7grid_spark.images import synthetic_images
    from equi7grid_spark.roi import get_tiles_in_geog_bbox

    from equi7grid_spark.operators.assign_jvm import assign_tiles_jvm

    imgs = synthetic_images(spark, 20000, with_bytes=False)
    assigned = assign_tiles_jvm(imgs, tiling_id="T6")
    roi_tiles = get_tiles_in_geog_bbox(_IMG_ROI_BBOX, "T6")
    tiles_df = spark.createDataFrame(
        [(t.subgrid, t.tilename) for t in roi_tiles], "subgrid string, tilename string"
    )
    sel = assigned.join(F.broadcast(tiles_df), ["subgrid", "tilename"], "left_semi")
    return sel.groupBy("subgrid", "tilename").agg(F.count(F.lit(1)).alias("n_images"))


def _oracle_images_tile_assign_full() -> str:
    """FULL-domain per-subgrid image rollup. n_tiles counts distinct
    (tx, ty) keys per zone — bijective with distinct tilenames within a
    subgrid, and floor-keyed BEFORE any string building so the huge
    Vincenty projection is fenced behind the keyed aggregation (the
    DuckDB planning trap in CLAUDE.md)."""
    from equi7grid_spark.functions.geodesy_sql import aeqd_forward_sql
    from equi7grid_spark.functions.images_sql import synthetic_lonlat_sql
    from equi7grid_spark.functions.zones_sql import resolve_zone_sql

    return f"""
    WITH {synthetic_lonlat_sql(_N_IMG_ORACLE)},
    {resolve_zone_sql("img", "img_id")},
    proj AS ({aeqd_forward_sql("zoned")}),
    {_SQL_T6_KEYED_AGG}
    SELECT {_SQL_SUBGRID} AS subgrid,
           sum(n)::BIGINT AS n_images,
           count(*)::BIGINT AS n_tiles
    FROM agg GROUP BY subgrid ORDER BY subgrid
    """


def _oracle_images_tile_assign_merged() -> str:
    """Full + decided domains in one entry (50-entry driver window —
    see _oracle_zone_assign_merged). The decided branch rolls the
    per-tile keyed aggregate up to subgrid grain, so both domains share
    the (domain, subgrid, n_images, n_tiles) schema."""
    from equi7grid_spark.functions.geodesy_sql import aeqd_forward_sql

    decided = f"""
    WITH {_sql_decided_images()},
    proj AS ({aeqd_forward_sql("dec")}),
    {_SQL_T6_KEYED_AGG}
    SELECT {_SQL_SUBGRID} AS subgrid,
           sum(n)::BIGINT AS n_images,
           count(*)::BIGINT AS n_tiles
    FROM agg GROUP BY subgrid
    """
    return f"""
    SELECT 'full' AS domain, subgrid, n_images, n_tiles
    FROM ({_oracle_images_tile_assign_full()})
    UNION ALL
    SELECT 'decided' AS domain, subgrid, n_images, n_tiles
    FROM ({decided})
    """


@register("images_tile_assign", _oracle_images_tile_assign_merged)
def q_images_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-subgrid image geotagging rollup, value-oracled over BOTH
    domains: 'full' (every row, parity-PIP boundary resolve in the
    oracle, round 4) and 'decided' (the splitmix64-synthesized
    decided-cell subset through the compiled-kernel AEQD, round 3's
    images_tile_assign_decided — absorbed here for the 50-entry driver
    window). n_tiles is an exact distinct count so DuckDB can reproduce
    it bit-for-bit (at 100 TB approx_count_distinct is the drop-in
    swap)."""
    from equi7grid_spark.images import synthetic_images

    from equi7grid_spark.operators.assign_jvm import assign_tiles_jvm

    imgs = synthetic_images(spark, 20000, with_bytes=False)
    out = assign_tiles_jvm(imgs, tiling_id="T6")
    full = out.groupBy("subgrid").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.countDistinct("tilename").alias("n_tiles"),
    )
    dec = (
        _t6_counts_from_proj(_aeqd_proj(_spark_decided_images(spark)))
        .groupBy("subgrid")
        .agg(
            F.sum("n").alias("n_images"),
            F.count(F.lit(1)).alias("n_tiles"),
        )
    )
    return full.withColumn("domain", F.lit("full")).unionByName(
        dec.withColumn("domain", F.lit("decided"))
    ).select("domain", "subgrid", "n_images", "n_tiles")


# ---------------------------------------------------------------------------
# value-oracled twins of the image pipelines (round 3): the synthetic
# image locations are pure splitmix64 arithmetic, mirrored bit-for-bit
# in DuckDB SQL (functions/images_sql), so the decided-cell subset of
# the image->tile pipeline gets the same exact oracle treatment as the
# customer-derived flagship. The full-PIP variants above stay rows-only
# (boundary-cell point-in-polygon is not SQL-expressible).
# ---------------------------------------------------------------------------

_N_IMG_ORACLE = 20000


def _host_cached_fixture(
    spark: SparkSession, name: str, df: DataFrame, params: str = "",
    files: int = 8,
) -> DataFrame:
    """Materialize a deterministic fixture DataFrame to a host-local
    parquet once and scan it. Completeness is judged by _SUCCESS (a
    bare exists() would trust a crashed half-write forever) and
    publication is an atomic rename of a PID-unique temp dir, so
    concurrent sessions can't read each other's partial output.
    Seeded synthesis -> identical rows regardless of who writes.

    The cache path carries os.getuid() (a second user on the host must
    not collide on permissions) and an md5 tag of `params` — callers
    pass the synthesis parameters/version string, so editing the
    variant-synthesis logic invalidates the cache instead of silently
    reusing stale fixture rows (ADVICE r4).

    `files` bounds the fixture's file count (guide §6 small-files):
    the synthesis session's 32+ tasks otherwise emit ~64 KB-sized
    parquet files, and every downstream scan pays ~64 footer/open
    round-trips — measured 0.85s → 0.26s for a trivial groupBy over
    the 24k-row phash fixture when rewritten 64 → 8 files. The dedup
    consumers scan these fixtures 2-5x per query, so the open cost
    dominated. Parallelism is unaffected where it matters: every
    consumer shuffles within its first operator or two, and callers
    with expensive pre-shuffle per-row work (the decode pipeline)
    pass a larger `files`."""
    import hashlib
    import os
    import shutil

    tag = hashlib.md5(f"{params};files={files}".encode()).hexdigest()[:10]
    src = f"/tmp/equi7_fixture_{os.getuid()}_{name}_{tag}.parquet"
    if not os.path.exists(os.path.join(src, "_SUCCESS")):
        tmp = f"{src}.tmp{os.getpid()}"
        df.coalesce(files).write.mode("overwrite").parquet(tmp)
        shutil.rmtree(src, ignore_errors=True)  # crashed half-write, if any
        try:
            os.rename(tmp, src)
        except OSError:  # lost a race to a concurrent complete writer
            shutil.rmtree(tmp, ignore_errors=True)
    return spark.read.parquet(src)


def _spark_decided_images(spark: SparkSession) -> DataFrame:
    """Decided-cell subset of the synthetic images table (zc 0..6 from
    the prefilter alone, _decided; boundary cells dropped)."""
    from equi7grid_spark.images import synthetic_images

    imgs = synthetic_images(spark, _N_IMG_ORACLE, with_bytes=False)
    return _decided(imgs.select("image_id", "lon", "lat"))


def _sql_decided_images() -> str:
    """CTE chain ending in `dec` (img_id, lon, lat, zc): SQL twin of
    _spark_decided_images."""
    from equi7grid_spark.functions.images_sql import synthetic_lonlat_sql

    return f"""
    {synthetic_lonlat_sql(_N_IMG_ORACLE)},
    {_sql_decided("img_id", "img")}"""


_IMG_ROI_BBOX = (0.0, 40.0, 30.0, 55.0)


def _oracle_images_in_roi_decided() -> str:
    from equi7grid_spark.functions.geodesy_sql import aeqd_forward_sql
    from equi7grid_spark.roi import get_tiles_in_geog_bbox

    pairs = ", ".join(
        f"('{t.subgrid}', '{t.tilename}')"
        for t in get_tiles_in_geog_bbox(_IMG_ROI_BBOX, "T6")
    )
    return f"""
    WITH {_sql_decided_images()},
    proj AS ({aeqd_forward_sql("dec")}),
    {_SQL_T6_KEYED_AGG},
    cnt AS (
      SELECT {_sql_t6_tilename('tx', 'ty', _SQL_SUBGRID)} AS tilename,
             {_SQL_SUBGRID} AS subgrid, n
      FROM agg
    )
    SELECT subgrid, tilename, n AS n_images
    FROM cnt WHERE (subgrid, tilename) IN ({pairs})
    """


def q_images_in_roi_decided(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decided-domain branch of q_images_in_roi: the broadcast
    semi-join against the ROI tile list on the decided-cell subset."""
    from equi7grid_spark.functions.tiling import tilename
    from equi7grid_spark.operators.assign_jvm import subgrid_from_code
    from equi7grid_spark.roi import get_tiles_in_geog_bbox

    ts = 600000.0
    proj = _aeqd_proj(_spark_decided_images(spark))
    sub = subgrid_from_code(F.col("zc"))
    named = proj.select(
        sub.alias("subgrid"),
        tilename(
            sub,
            F.floor(F.col("x") / ts).cast("long") * ts,
            F.floor(F.col("y") / ts).cast("long") * ts,
            "T6",
        ).alias("tilename"),
    )
    roi_tiles = get_tiles_in_geog_bbox(_IMG_ROI_BBOX, "T6")
    tiles_df = spark.createDataFrame(
        [(t.subgrid, t.tilename) for t in roi_tiles],
        "subgrid string, tilename string",
    )
    sel = named.join(F.broadcast(tiles_df), ["subgrid", "tilename"], "left_semi")
    return sel.groupBy("subgrid", "tilename").agg(
        F.count(F.lit(1)).alias("n_images")
    )


def _sql_phash_variant_pairs() -> str:
    """Shared CTE chain for the phash-dedup oracles: splitmix64 corpus
    (base + planted hamming-1 `_v1` + hamming-4 `_v4` variants) ->
    4x16-bit banded candidates -> exact hamming<=3 pairs (`ppairs`).
    MATERIALIZED: the pair set is consumed downstream (directly or by a
    recursive closure) and must not be re-planned per reference."""
    from equi7grid_spark.functions.images_sql import synthetic_lonlat_sql

    return f"""{synthetic_lonlat_sql(_N_IMG_ORACLE)},
    base AS (
      SELECT img_id, 'img' || lpad(img_id::VARCHAR, 12, '0') AS id, phash AS ph
      FROM img
    ),
    v1 AS (  -- hamming-1 variant for every 10th image
      SELECT id || '_v1' AS id, xor(ph, 1::BIGINT << (img_id % 63)::INT) AS ph
      FROM base WHERE img_id % 10 = 0
    ),
    v4 AS (  -- hamming-4 vs its base (excluded vs base; when img_id%63
             -- coincides with one of the four positions, v1^v4 is a
             -- genuine hamming-3 pair — both engines emit it identically)
      SELECT id || '_v4' AS id,
             xor(ph, (1::BIGINT << (img_id % 14)::INT)
                     | (1::BIGINT << (16 + img_id % 14)::INT)
                     | (1::BIGINT << (32 + img_id % 14)::INT)
                     | (1::BIGINT << (48 + img_id % 14)::INT)) AS ph
      FROM base WHERE img_id % 40 = 0
    ),
    allv AS (
      SELECT id, ph FROM base
      UNION ALL SELECT id, ph FROM v1
      UNION ALL SELECT id, ph FROM v4
    ),
    bands AS (
      SELECT id, ph, b AS band_idx, (ph >> (b * 16)::INT) & 65535 AS band_val
      FROM allv, generate_series(0, 3) AS t(b)
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.ph AS ph_a, b.ph AS ph_b
      FROM bands a JOIN bands b USING (band_idx, band_val)
      WHERE a.id < b.id
    ),
    ppairs AS MATERIALIZED (
      SELECT id_a, id_b, hamming FROM (
        SELECT id_a, id_b, CAST(bit_count(xor(ph_a, ph_b)) AS INT) AS hamming
        FROM cand
      ) WHERE hamming <= 3
    )"""


def _oracle_image_phash_near_dup() -> str:
    return f"""
    WITH {_sql_phash_variant_pairs()}
    SELECT id_a, id_b, hamming FROM ppairs
    """


def _phash_variant_corpus(spark: SparkSession) -> DataFrame:
    """Spark twin of _sql_phash_variant_pairs's corpus CTEs: the
    deterministic phash fixture (base + planted hamming-1 `_v1` for
    every 10th image + hamming-4 `_v4` distractor for every 40th),
    (image_id, phash)."""
    from equi7grid_spark.images import synthetic_images

    base = (
        synthetic_images(spark, _N_IMG_ORACLE, with_bytes=False)
        .select(
            F.substring("image_id", 4, 12).cast("long").alias("i"),
            "image_id",
            "phash",
        )
    )
    # ONE synthesis pass: each row explodes into [base, v1?, v4?]
    # structs instead of a 3-branch union that re-runs the splitmix64
    # source per branch (bench A/B r4: 4.6s -> ~2.9s). F.shiftleft only
    # takes a literal bit count; column-valued shifts go through SQL
    # expressions.
    mask4 = (
        "shiftleft(1L, CAST(i % 14 AS INT)) | "
        "shiftleft(1L, CAST(i % 14 AS INT) + 16) | "
        "shiftleft(1L, CAST(i % 14 AS INT) + 32) | "
        "shiftleft(1L, CAST(i % 14 AS INT) + 48)"
    )
    variants = F.array(
        F.struct(F.col("image_id").alias("image_id"), F.col("phash").alias("phash")),
        F.when(
            F.col("i") % 10 == 0,
            F.struct(
                F.concat("image_id", F.lit("_v1")).alias("image_id"),
                F.expr("phash ^ shiftleft(1L, CAST(i % 63 AS INT))").alias("phash"),
            ),
        ),
        F.when(
            F.col("i") % 40 == 0,
            F.struct(
                F.concat("image_id", F.lit("_v4")).alias("image_id"),
                F.expr(f"phash ^ ({mask4})").alias("phash"),
            ),
        ),
    )
    allv = (
        base.select(F.explode(variants).alias("s"))
        .filter(F.col("s").isNotNull())
        .select("s.image_id", "s.phash")
    )
    # The clustering consumers scan the corpus several times (groupBy
    # to representatives, member re-attach join, banded join sides) —
    # materialize the deterministic fixture once per host so the bench
    # measures the dedup operators, not repeated splitmix synthesis
    # (in production the corpus is a stored table; same pattern as the
    # multimodal fixtures).
    return _host_cached_fixture(
        spark,
        f"phash_variants_{_N_IMG_ORACLE}",
        allv,
        params=f"n={_N_IMG_ORACLE};v1%10 ham1;v4%40 mask14",
    )


@register("image_phash_near_dup", _oracle_image_phash_near_dup)
def q_image_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-scale image dedup by perceptual hash: EXACT hamming<=3 pairs
    via the 4x16-bit banded multi-index (dedup.phash_near_dup — the
    only shuffle is on 16-bit band values, never all-pairs). The
    deterministic fixture plants a hamming-1 variant for every 10th
    image and a hamming-4-vs-base distractor for every 40th; the
    oracle mirrors the synthesis (splitmix64 SQL twin) AND the banded
    join, so both engines must emit identical pair sets: the planted
    hamming-1 pairs, plus v1/v4 cross pairs at hamming 3 where the
    flipped bits coincide (random 63-bit phashes collide within
    hamming<=3 with probability ~2e-13 per pair, so nothing else)."""
    from equi7grid_spark.dedup import phash_near_dup

    return phash_near_dup(_phash_variant_corpus(spark), max_hamming=3)


def _oracle_image_phash_dup_clusters() -> str:
    return f"""
    WITH RECURSIVE {_sql_phash_variant_pairs()},
    edges AS (
      SELECT id_a AS a, id_b AS b FROM ppairs
      UNION ALL SELECT id_b AS a, id_a AS b FROM ppairs
    ),
    reach AS (
      SELECT DISTINCT a AS id, a AS lab FROM edges
      UNION
      SELECT e.a AS id, r.lab AS lab FROM edges e JOIN reach r ON r.id = e.b
    )
    SELECT id AS image_id, min(lab) AS cluster_id FROM reach GROUP BY id
    """


@register("image_phash_dup_clusters", _oracle_image_phash_dup_clusters)
def q_image_phash_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive phash image clustering — the image-side closer of the
    dedup pipeline: exact banded hamming<=3 pairs -> min-label
    connected components -> (image_id, cluster_id = canonical image).
    Near-dup is not transitive (a re-encode chain A~B~C can hold
    hamming(A,C) > 3), so canonical selection needs the closure, not
    the pair list: in this fixture the v4 distractor joins its
    component only through v1 (v4~base is hamming 4). Spark runs
    min-label propagation with pointer jumping
    (dedup.phash_dup_clusters, O(log diameter) rounds); the DuckDB
    oracle closes the SAME pair
    set with a recursive transitive-closure CTE — both converge to
    cluster_id = min image_id reachable, so the comparison is exact
    despite the different algorithms."""
    from equi7grid_spark.dedup import phash_dup_clusters

    return phash_dup_clusters(_phash_variant_corpus(spark), max_hamming=3)


def _oracle_image_dedup_keep_canonical() -> str:
    return f"""
    WITH RECURSIVE {_sql_phash_variant_pairs()},
    edges AS (
      SELECT id_a AS a, id_b AS b FROM ppairs
      UNION ALL SELECT id_b AS a, id_a AS b FROM ppairs
    ),
    reach AS (
      SELECT DISTINCT a AS id, a AS lab FROM edges
      UNION
      SELECT e.a AS id, r.lab AS lab FROM edges e JOIN reach r ON r.id = e.b
    ),
    noncanon AS (
      SELECT id FROM reach GROUP BY id HAVING min(lab) <> id
    )
    SELECT id AS image_id, ph AS phash FROM allv
    WHERE id NOT IN (SELECT id FROM noncanon)
    """


@register("image_dedup_keep_canonical", _oracle_image_dedup_keep_canonical)
def q_image_dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The image-corpus curation pass (mirror of corpus_curation for
    the image table): drop every image that is a non-canonical member
    of a phash near-dup cluster, keeping each cluster's minimum-id
    representative plus all singletons. The anti-join side is the
    clustered duplicate set — at web scale a small fraction of the
    corpus, keyed by image_id, so the plan is scan → one left-anti
    join against the (much smaller) duplicate list; the clusters come
    from the banded pair graph closed by min-label propagation
    (dedup.phash_dup_clusters)."""
    from equi7grid_spark.dedup import phash_dup_clusters

    corpus = _phash_variant_corpus(spark)
    noncanon = (
        phash_dup_clusters(corpus, max_hamming=3)
        .filter(F.col("cluster_id") != F.col("image_id"))
        .select("image_id")
    )
    return corpus.join(noncanon, "image_id", "left_anti").select(
        "image_id", "phash"
    )


_SQL_CAP_MASK8 = (
    "(1::BIGINT << (img_id % 13)::INT)"
    " | (1::BIGINT << ((img_id % 13) + 2)::INT)"
    " | (1::BIGINT << ((img_id % 13) + 16)::INT)"
    " | (1::BIGINT << ((img_id % 13) + 18)::INT)"
    " | (1::BIGINT << ((img_id % 13) + 32)::INT)"
    " | (1::BIGINT << ((img_id % 13) + 34)::INT)"
    " | (1::BIGINT << ((img_id % 13) + 48)::INT)"
    " | (1::BIGINT << ((img_id % 13) + 50)::INT)"
)


def _oracle_image_multimodal_near_dup() -> str:
    """Cross-signal mirror: the phash side replays the banded join
    (like _oracle_image_phash_near_dup); the caption side models
    caption equality by the planted group key (base/_cap/_b share the
    base caption, _v1 gets a unique one — caption text itself is
    irrelevant to md5-equality semantics); signals merge by FULL JOIN
    on the pair key exactly like the operator."""
    from equi7grid_spark.functions.images_sql import synthetic_lonlat_sql

    return f"""
    WITH {synthetic_lonlat_sql(_N_IMG_ORACLE)},
    base AS (
      SELECT img_id, 'img' || lpad(img_id::VARCHAR, 12, '0') AS id, phash AS ph
      FROM img
    ),
    allv AS (
      SELECT id, ph, img_id AS ck FROM base
      UNION ALL  -- _v1: hamming-1, caption differs (disjoint neg key)
      SELECT id || '_v1', xor(ph, 1::BIGINT << (img_id % 63)::INT),
             -(img_id + 1)
      FROM base WHERE img_id % 10 = 0
      UNION ALL  -- _cap: same caption, 2 flipped bits per band (no
                 -- shared band -> never a phash candidate)
      SELECT id || '_cap', xor(ph, {_SQL_CAP_MASK8}), img_id
      FROM base WHERE img_id % 15 = 0
      UNION ALL  -- _b: same caption AND hamming-1
      SELECT id || '_b', xor(ph, 1::BIGINT << ((img_id % 62) + 1)::INT),
             img_id
      FROM base WHERE img_id % 20 = 0
    ),
    bands AS (
      SELECT id, ph, b AS band_idx, (ph >> (b * 16)::INT) & 65535 AS band_val
      FROM allv, generate_series(0, 3) AS t(b)
    ),
    phpairs AS MATERIALIZED (
      SELECT id_a, id_b, hamming FROM (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b,
               CAST(bit_count(xor(a.ph, b.ph)) AS INT) AS hamming
        FROM bands a JOIN bands b USING (band_idx, band_val)
        WHERE a.id < b.id
      ) WHERE hamming <= 3
    ),
    cappairs AS MATERIALIZED (
      SELECT a.id AS id_a, b.id AS id_b
      FROM allv a JOIN allv b ON a.ck = b.ck AND a.id < b.id
    )
    SELECT coalesce(p.id_a, c.id_a) AS id_a,
           coalesce(p.id_b, c.id_b) AS id_b,
           CASE WHEN p.id_a IS NOT NULL AND c.id_a IS NOT NULL THEN 'both'
                WHEN p.id_a IS NOT NULL THEN 'phash'
                ELSE 'caption' END AS signal,
           p.hamming AS hamming
    FROM phpairs p FULL JOIN cappairs c
      ON p.id_a = c.id_a AND p.id_b = c.id_b
    """


@register("image_multimodal_near_dup", _oracle_image_multimodal_near_dup)
def q_image_multimodal_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-signal dedup of an image+caption corpus
    (dedup.multimodal_near_dup): visual near-dups by banded phash
    hamming, textual dups by exact caption match, merged with
    provenance. The fixture plants, per image index i: a hamming-1
    re-encode with a reworded caption (i%10, 'phash'), a
    caption-duplicate with a hamming-8 phash (i%15, 'caption' — two
    flipped bits per band so it is never even a phash candidate), and
    a near-identical repost sharing BOTH signals (i%20, 'both'). Every
    pair set is value-exact against the DuckDB mirror."""
    from equi7grid_spark.dedup import multimodal_near_dup
    from equi7grid_spark.images import synthetic_images

    base = synthetic_images(spark, _N_IMG_ORACLE, with_bytes=False).select(
        F.substring("image_id", 4, 12).cast("long").alias("i"),
        "image_id",
        "phash",
        "caption",
    )
    # Spark twin of _SQL_CAP_MASK8 (F.shiftleft needs literal counts,
    # so column-valued shifts go through SQL expressions)
    cap_mask = " | ".join(
        f"shiftleft(1L, CAST(i % 13 AS INT){off})"
        for off in ("", " + 2", " + 16", " + 18", " + 32", " + 34", " + 48", " + 50")
    )
    variants = F.array(
        F.struct(
            F.col("image_id").alias("image_id"),
            F.col("phash").alias("phash"),
            F.col("caption").alias("caption"),
        ),
        F.when(
            F.col("i") % 10 == 0,
            F.struct(
                F.concat("image_id", F.lit("_v1")).alias("image_id"),
                F.expr("phash ^ shiftleft(1L, CAST(i % 63 AS INT))").alias("phash"),
                F.concat("caption", F.lit(" v1")).alias("caption"),
            ),
        ),
        F.when(
            F.col("i") % 15 == 0,
            F.struct(
                F.concat("image_id", F.lit("_cap")).alias("image_id"),
                F.expr(f"phash ^ ({cap_mask})").alias("phash"),
                F.col("caption").alias("caption"),
            ),
        ),
        F.when(
            F.col("i") % 20 == 0,
            F.struct(
                F.concat("image_id", F.lit("_b")).alias("image_id"),
                F.expr("phash ^ shiftleft(1L, CAST(i % 62 AS INT) + 1)").alias("phash"),
                F.col("caption").alias("caption"),
            ),
        ),
    )
    allv = (
        base.select(F.explode(variants).alias("s"))
        .filter(F.col("s").isNotNull())
        .select("s.image_id", "s.phash", "s.caption")
    )
    # The two signal branches shuffle on DIFFERENT keys (band values vs
    # caption md5), so allv would be computed twice; materialize the
    # deterministic fixture once per host — in production the dedup
    # reads a stored table, so scanning twice is the honest shape
    # (same pattern + atomic publication as image_phash_pipeline).
    allv = _host_cached_fixture(
        spark,
        f"multimodal_variants_{_N_IMG_ORACLE}",
        allv,
        params=f"n={_N_IMG_ORACLE};v1%10 ham1;cap%15 {_SQL_CAP_MASK8};b%20 ham1",
    )
    return multimodal_near_dup(allv)


# phash mask for the embed-only variant: 2 flipped bits per 16-bit band
# at positions (img_id%11)+{1,3,...} — never a phash candidate of its
# base (pigeonhole needs one agreeing band); max position 10+51=61
# stays under DuckDB's range-checked bit-62 shift ceiling (CLAUDE.md)
_SQL_EMB_MASK8 = (
    "(1::BIGINT << ((img_id % 11) + 1)::INT)"
    " | (1::BIGINT << ((img_id % 11) + 3)::INT)"
    " | (1::BIGINT << ((img_id % 11) + 17)::INT)"
    " | (1::BIGINT << ((img_id % 11) + 19)::INT)"
    " | (1::BIGINT << ((img_id % 11) + 33)::INT)"
    " | (1::BIGINT << ((img_id % 11) + 35)::INT)"
    " | (1::BIGINT << ((img_id % 11) + 49)::INT)"
    " | (1::BIGINT << ((img_id % 11) + 51)::INT)"
)

_EMB_DIM_MM = 16


def _oracle_image_multimodal_embed_near_dup() -> str:
    """Three-signal mirror: phash side replays the banded hamming join;
    caption side joins on the planted group key ck; embedding side
    replays the hyperplane-LSH banding LITERALLY (plane arrays emitted
    from dedup.emb_plane_value, sign-of-dot bucket bits, candidate
    join on (band, bucket), exact cosine on candidates only) over
    embeddings synthesized value-exactly from the ek key
    (images_sql.embedding_from_key_sql — bit-exact splitmix64 twin).
    Signals merge through two FULL JOINs in the engine's order with
    concat_ws provenance."""
    from equi7grid_spark.dedup import EMB_N_BANDS, EMB_N_PLANES, emb_plane_value
    from equi7grid_spark.functions.images_sql import (
        embedding_from_key_sql,
        synthetic_lonlat_sql,
    )

    def plane(b: int, p: int) -> str:
        vals = ",".join(
            repr(emb_plane_value(b, p, d)) for d in range(_EMB_DIM_MM)
        )
        return f"[{vals}]::DOUBLE[]"

    def bucket_expr(b: int) -> str:
        return " + ".join(
            f"(CASE WHEN list_dot_product(v, {plane(b, p)}) > 0"
            f" THEN {1 << p} ELSE 0 END)"
            for p in range(EMB_N_PLANES)
        )

    ebands_union = "\n      UNION ALL ".join(
        f"SELECT id, {b} AS band, {bucket_expr(b)} AS bucket FROM emb"
        for b in range(EMB_N_BANDS)
    )
    return f"""
    WITH {synthetic_lonlat_sql(_N_IMG_ORACLE)},
    base AS (
      SELECT img_id, 'img' || lpad(img_id::VARCHAR, 12, '0') AS id, phash AS ph
      FROM img
    ),
    allv AS MATERIALIZED (
      SELECT id, ph, img_id AS ck, ph AS ek FROM base
      UNION ALL  -- _v1: hamming-1, unique caption, unrelated embedding
      SELECT id || '_v1', xor(ph, 1::BIGINT << (img_id % 63)::INT),
             -(img_id + 1), xor(ph, 1)
      FROM base WHERE img_id % 10 = 0
      UNION ALL  -- _cap: same caption; 2 flips/band; unrelated embedding
      SELECT id || '_cap', xor(ph, {_SQL_CAP_MASK8}), img_id, xor(ph, 2)
      FROM base WHERE img_id % 15 = 0
      UNION ALL  -- _emb: same embedding; 2 flips/band; unique caption
      SELECT id || '_emb', xor(ph, {_SQL_EMB_MASK8}), -(img_id + 100001), ph
      FROM base WHERE img_id % 12 = 0
      UNION ALL  -- _all: hamming-1 AND same caption AND same embedding
      SELECT id || '_all', xor(ph, 1::BIGINT << ((img_id % 62) + 1)::INT),
             img_id, ph
      FROM base WHERE img_id % 20 = 0
    ),
    bands AS (
      SELECT id, ph, b AS band_idx, (ph >> (b * 16)::INT) & 65535 AS band_val
      FROM allv, generate_series(0, 3) AS t(b)
    ),
    phpairs AS MATERIALIZED (
      SELECT id_a, id_b, hamming FROM (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b,
               CAST(bit_count(xor(a.ph, b.ph)) AS INT) AS hamming
        FROM bands a JOIN bands b USING (band_idx, band_val)
        WHERE a.id < b.id
      ) WHERE hamming <= 3
    ),
    cappairs AS MATERIALIZED (
      SELECT a.id AS id_a, b.id AS id_b
      FROM allv a JOIN allv b ON a.ck = b.ck AND a.id < b.id
    ),
    {embedding_from_key_sql("allv", "id", "ek", _EMB_DIM_MM)},
    ebands AS MATERIALIZED (
      {ebands_union}
    ),
    ecand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM ebands a JOIN ebands b USING (band, bucket)
      WHERE a.id < b.id
    ),
    epairs AS MATERIALIZED (
      SELECT id_a, id_b, round(cosx, 9) AS cosine FROM (
        SELECT c.id_a, c.id_b,
               list_dot_product(ea.v, eb.v)
               / (sqrt(list_dot_product(ea.v, ea.v))
                  * sqrt(list_dot_product(eb.v, eb.v))) AS cosx
        FROM ecand c JOIN emb ea ON ea.id = c.id_a
                     JOIN emb eb ON eb.id = c.id_b
      ) WHERE cosx >= 0.98
    ),
    pc AS MATERIALIZED (
      SELECT coalesce(p.id_a, c.id_a) AS id_a,
             coalesce(p.id_b, c.id_b) AS id_b,
             p.hamming AS hamming,
             (c.id_a IS NOT NULL) AS has_cap
      FROM phpairs p FULL JOIN cappairs c
        ON p.id_a = c.id_a AND p.id_b = c.id_b
    )
    SELECT coalesce(pc.id_a, e.id_a) AS id_a,
           coalesce(pc.id_b, e.id_b) AS id_b,
           concat_ws('+',
             CASE WHEN pc.hamming IS NOT NULL THEN 'phash' END,
             CASE WHEN pc.has_cap THEN 'caption' END,
             CASE WHEN e.cosine IS NOT NULL THEN 'embed' END) AS signal,
           pc.hamming AS hamming, e.cosine AS cosine
    FROM pc FULL JOIN epairs e
      ON pc.id_a = e.id_a AND pc.id_b = e.id_b
    """


@register(
    "image_multimodal_embed_near_dup", _oracle_image_multimodal_embed_near_dup
)
def q_image_multimodal_embed_near_dup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """THREE-signal dedup of a CLIP-style (image, caption, embedding)
    corpus (dedup.multimodal_near_dup with embedding_col): visual
    near-dups by banded phash hamming, textual dups by exact caption
    match, semantic dups by hyperplane-LSH-banded cosine >= 0.98 —
    merged with '+'-joined provenance. The fixture plants
    signal-exclusive variants for ALL three signals, per image index
    i: a hamming-1 re-encode with reworded caption and fresh embedding
    (i%10 -> 'phash'), a caption duplicate with hamming-8 phash and
    fresh embedding (i%15 -> 'caption'), an embedding duplicate
    (identical vector -> cosine 1, guaranteed banding recall) with
    hamming-8 phash and unique caption (i%12 -> 'embed'), and a repost
    sharing all three (i%20 -> 'phash+caption+embed'). Cross-variant
    coincidence pairs (mask overlaps at hamming<=3, same-i variant
    caption groups) are emitted identically by both engines — the
    oracle mirrors the synthesis, the banding, and the merge order
    value-exactly. Embeddings derive from the ek key (base phash;
    xor-perturbed for the unrelated variants — xor, not +1, so ANSI
    Spark can't overflow)."""
    from equi7grid_spark.dedup import multimodal_near_dup
    from equi7grid_spark.images import embedding_from_key, synthetic_images

    base = synthetic_images(spark, _N_IMG_ORACLE, with_bytes=False).select(
        F.substring("image_id", 4, 12).cast("long").alias("i"),
        "image_id",
        "phash",
        "caption",
    )
    cap_mask = " | ".join(
        f"shiftleft(1L, CAST(i % 13 AS INT){off})"
        for off in ("", " + 2", " + 16", " + 18", " + 32", " + 34", " + 48", " + 50")
    )
    emb_mask = " | ".join(
        f"shiftleft(1L, CAST(i % 11 AS INT) + {off})"
        for off in (1, 3, 17, 19, 33, 35, 49, 51)
    )

    def var(suffix: str, ph_expr: str, cap_col, ek_expr: str):
        return F.struct(
            F.concat("image_id", F.lit(suffix)).alias("image_id"),
            F.expr(ph_expr).alias("phash"),
            cap_col.alias("caption"),
            F.expr(ek_expr).alias("ek"),
        )

    variants = F.array(
        F.struct(
            F.col("image_id").alias("image_id"),
            F.col("phash").alias("phash"),
            F.col("caption").alias("caption"),
            F.col("phash").alias("ek"),
        ),
        F.when(
            F.col("i") % 10 == 0,
            var("_v1", "phash ^ shiftleft(1L, CAST(i % 63 AS INT))",
                F.concat("caption", F.lit(" v1")), "phash ^ 1L"),
        ),
        F.when(
            F.col("i") % 15 == 0,
            var("_cap", f"phash ^ ({cap_mask})", F.col("caption"), "phash ^ 2L"),
        ),
        F.when(
            F.col("i") % 12 == 0,
            var("_emb", f"phash ^ ({emb_mask})",
                F.concat("caption", F.lit(" emb")), "phash"),
        ),
        F.when(
            F.col("i") % 20 == 0,
            var("_all", "phash ^ shiftleft(1L, CAST(i % 62 AS INT) + 1)",
                F.col("caption"), "phash"),
        ),
    )
    allv = (
        base.select(F.explode(variants).alias("s"))
        .filter(F.col("s").isNotNull())
        .select("s.image_id", "s.phash", "s.caption", "s.ek")
        .withColumn(
            "embedding", embedding_from_key(F.col("ek"), dim=_EMB_DIM_MM)
        )
        .drop("ek")
    )
    # three signal branches scan the fixture on three different keys —
    # materialize once per host (same rationale as the 2-signal query)
    allv = _host_cached_fixture(
        spark,
        f"mm_embed_variants_{_N_IMG_ORACLE}",
        allv,
        params=(
            f"n={_N_IMG_ORACLE};dim={_EMB_DIM_MM};v1%10;cap%15 {_SQL_CAP_MASK8};"
            f"emb%12 {_SQL_EMB_MASK8};all%20;ek=xor"
        ),
    )
    return multimodal_near_dup(allv, embedding_col="embedding")


def _oracle_image_phash_band_occupancy() -> str:
    from equi7grid_spark.functions.images_sql import synthetic_lonlat_sql

    return f"""
    WITH {synthetic_lonlat_sql(_N_IMG_ORACLE)},
    bands AS (
      SELECT CAST(b AS INT) AS band_idx,
             (phash >> (b * 16)::INT) & 65535 AS band_val
      FROM img, generate_series(0, 3) AS t(b)
    ),
    occ AS (
      SELECT band_idx, band_val, count(*)::BIGINT AS n_rows
      FROM bands GROUP BY band_idx, band_val
    )
    SELECT band_idx, band_val, n_rows
    FROM occ ORDER BY n_rows DESC, band_idx, band_val LIMIT 100
    """


@register("image_phash_band_occupancy", _oracle_image_phash_band_occupancy)
def q_image_phash_band_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-bucket skew audit (dedup.phash_band_occupancy) under a
    value-exact oracle: hottest 100 (band_idx, band_val) buckets of the
    synthetic corpus. Deterministic LIMIT: the ordering is total
    ((band_idx, band_val) is unique), so both engines cut the same
    rows. This is the pre-flight a 100 TB dedup runs to size
    phash_near_dup's chunk_size."""
    from equi7grid_spark.dedup import phash_band_occupancy
    from equi7grid_spark.images import synthetic_images

    imgs = synthetic_images(spark, _N_IMG_ORACLE, with_bytes=False)
    return (
        phash_band_occupancy(imgs)
        .orderBy(F.col("n_rows").desc(), "band_idx", "band_val")
        .limit(100)
    )


@register("image_phash_pipeline", None)
def q_image_phash_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end content-based image dedup: decode pixels -> 32x32 DCT
    perceptual hash (multimodal.compute_phash, one batched tensor pass
    per Arrow batch) -> exact-recall banded hamming join
    (dedup.phash_near_dup). Every 10th image is re-encoded through the
    lossy q8 codec (~2 LSB) under a new id; the pipeline re-finds
    those pairs from PIXEL CONTENT alone (measured at n=3000: 298/300
    planted pairs within hamming<=2; the remainder of the ~320 output
    pairs are GENUINE content near-dups — the synthetic pixel pattern
    makes same-size images with nearby indices near-identical, which
    is exactly what a perceptual hash should catch). Rows-only oracle
    (binary codecs + DCT not SQL-expressible); deterministic (seeded
    synthesis, fixed contraction order)."""
    from equi7grid_spark.dedup import phash_near_dup
    from equi7grid_spark.images import synthetic_images
    from equi7grid_spark.operators.multimodal import compute_phash, transcode_images

    # Materialize the deterministic fixture once per host and SCAN it:
    # the union below consumes the source twice, and re-running the
    # synthesis per branch would benchmark the fixture generator, not
    # the decode->transcode->phash->dedup pipeline (which in production
    # reads bytes from a table).
    imgs = _host_cached_fixture(
        spark,
        "pipeline_imgs_3000",
        synthetic_images(spark, 3000, with_bytes=True),
        params="synthetic_images(3000, with_bytes=True, seed=42)",
        # larger file count than the metadata fixtures: the consumer's
        # first operator is the mapInPandas decode, whose parallelism
        # is the scan split count (files pack ~4 per 16 MB split)
        files=32,
    )
    tenth = imgs.filter(
        F.substring("image_id", 4, 12).cast("long") % 10 == 0
    )
    dups = transcode_images(tenth, "q8").withColumn(
        "image_id", F.concat("image_id", F.lit("_q8"))
    )
    allv = imgs.select("image_id", "bytes", "fmt", "w", "h").unionByName(
        dups.select("image_id", "bytes", "fmt", "w", "h")
    )
    hashed = compute_phash(allv)
    pairs = phash_near_dup(hashed, max_hamming=3)
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(
            (F.substring("id_a", 4, 12) == F.substring("id_b", 4, 12)).cast("long")
        ).alias("n_planted_refound"),
        F.max("hamming").alias("max_hamming"),
    )


# ---------------------------------------------------------------------------
# audio/video modality under value oracles (round 6): the synthetic
# payloads are pure small-integer byte arithmetic (media.py), so DuckDB
# recomputes the decoded stats from the FORMULA while Spark runs the
# real bytes -> decode -> aggregate path — certifying the fake-pcm /
# fake-frames encode/decode roundtrip and the stats arithmetic at once.
# ---------------------------------------------------------------------------

_N_AUDIO = 2000
_N_VIDEO = 300


_ORACLE_AUDIO_STATS = f"""
    WITH clips AS (SELECT k FROM generate_series(0, {_N_AUDIO - 1}) t(k)),
    -- DuckDB 1.0 generate_series cannot take column bounds: fixed
    -- 0..1999 + filter (n_samples < 2000 by construction)
    samples AS (
      SELECT k, ((k*131 + j*31) % 4001) - 2000 AS s
      FROM clips, generate_series(0, 1999) t2(j)
      WHERE j < 500 + (k*7919) % 1500
    ),
    agg AS (
      SELECT k, count(*)::BIGINT AS n_samples,
             sum(s * s)::BIGINT AS ss,
             max(abs(s))::INT AS peak
      FROM samples GROUP BY k
    )
    SELECT 'clip' || lpad(k::VARCHAR, 8, '0') AS clip_id,
           n_samples,
           round(sqrt(ss / CAST(n_samples AS DOUBLE)), 9) AS rms,
           peak
    FROM agg
"""


@register("audio_stats", _ORACLE_AUDIO_STATS)
def q_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio modality end-to-end under a VALUE-EXACT oracle: synthesize
    fake-pcm int16 clips (media.synthetic_audio — every sample a pure
    function of (clip, position)), decode through the stubbed-codec
    path (multimodal.audio_stats, the real mapInPandas plumbing), emit
    per-clip (n_samples, rms, peak). The sum of squares stays < 2^33,
    so mean + sqrt are single correctly-rounded IEEE ops on both
    engines — rms agrees bit-for-bit before the round(9)."""
    from equi7grid_spark.media import synthetic_audio
    from equi7grid_spark.operators.multimodal import audio_stats

    # host-cached deterministic fixture (same pattern as the image
    # queries): the timed path should measure bytes -> decode ->
    # aggregate, not per-run clip synthesis
    clips = _host_cached_fixture(
        spark,
        f"audio_clips_{_N_AUDIO}",
        synthetic_audio(spark, _N_AUDIO),
        params=f"synthetic_audio(n={_N_AUDIO}) fake-pcm v1",
    )
    out = audio_stats(clips)
    return out.select(
        "clip_id", "n_samples", F.round("rms", 9).alias("rms"), "peak"
    )


_ORACLE_VIDEO_FRAME_SAMPLE = f"""
    WITH v AS (
      SELECT k, 8 + k % 5 AS w, 8 + k % 7 AS h, 4 + k % 5 AS nf
      FROM generate_series(0, {_N_VIDEO - 1}) t(k)
    ),
    f AS (  -- every_n = 2 sampling of the frame index
      SELECT k, w, h, fi FROM v, generate_series(0, 7) t2(fi)
      WHERE fi < nf AND fi % 2 = 0
    ),
    px AS (
      SELECT k, fi, w, h,
             sum((k*7 + fi*13 + r*31 + c*17) % 251)::BIGINT AS px_sum
      FROM f, generate_series(0, 13) rr(r), generate_series(0, 11) cc(c)
      WHERE r < h AND c < w
      GROUP BY k, fi, w, h
    )
    SELECT 'vid' || lpad(k::VARCHAR, 6, '0') AS video_id,
           fi::INT AS frame_idx, w::INT AS w, h::INT AS h, px_sum
    FROM px
"""


@register("video_frame_sample", _ORACLE_VIDEO_FRAME_SAMPLE)
def q_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video modality end-to-end under a VALUE-EXACT oracle: synthesize
    fake-frames payloads (media.synthetic_video — every pixel a pure
    function of (video, frame, row, col)), explode every 2nd frame
    through the UDTF-shaped sampler (multimodal.sample_video_frames),
    reduce each sampled frame's bytes with the vectorized Arrow sum
    (multimodal.binary_u8_sum). The oracle recomputes the per-frame
    pixel sums straight from the formula."""
    from equi7grid_spark.media import synthetic_video
    from equi7grid_spark.operators.multimodal import (
        binary_u8_sum,
        sample_video_frames,
    )

    vids = synthetic_video(spark, _N_VIDEO)
    frames = sample_video_frames(vids, every_n=2)
    return frames.select(
        "video_id", "frame_idx", "w", "h",
        binary_u8_sum(F.col("bytes")).alias("px_sum"),
    )
