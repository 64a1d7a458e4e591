"""DuckDB-SQL mirror of the boundary-cell parity zone resolve.

Round 3 left four geo queries rows-only because 4.2% of 1-degree
cells (2,701 prefilter-BOUNDARY cells) resolve their primary zone via
exact point-in-polygon, which the decided-cell digit map cannot
express. But the engine's boundary resolve (zones_pip) is NOT a
general PIP: it is a closed-form parity test — per-cell reference
point parity XOR axis-parallel crossing counts over tiny pruned edge
lists (~50k edges total, ~12 per candidate). That IS ANSI-SQL: ship
the per-cell candidate/edge structure as inline VALUES tables and the
parity test becomes a join + COUNT(*) FILTER ... % 2.

This module emits that SQL, term for term in the same double
arithmetic as zones_pip._numpy_parity and the compiled resolver
jvm ZoneData.parity (pinned equal by tests/test_assign_jvm.py and
tests/test_zones_sql.py):

- edge endpoints and reference points are emitted with repr()
  (shortest round-trip — DuckDB parses back the identical double), so
  the crossing arithmetic is bit-for-bit the engine's;
- the two-leg test: h = y-interval crossing of leg R->(R.x,P.y)->P's
  horizontal segment, v = vertical-leg crossing; a point is inside a
  candidate iff ref_par XOR (count of h<>v edges is odd);
- candidates are ordered (system_order, truncated after the first
  prefilter-IN zone) and the FIRST inside candidate wins
  (arg_min(zc, ord) over inside rows), mirroring the reference's
  get_systems_from_lonlat ordering (reference core.py:436).

The inline edge table is ~4 MB of SQL text (~2 s DuckDB parse) — paid
only by the four full-domain oracles, fenced AS MATERIALIZED so the
optimizer never inlines the VALUES list into point predicates.
"""

from __future__ import annotations

from functools import lru_cache

from equi7grid_spark.constants import DEFAULT_SYSTEM_ORDER


@lru_cache(maxsize=1)
def _boundary_values() -> tuple[str, str]:
    """(cands_rows, edges_rows) VALUES bodies for the default order.

    cands: (cell_id, ord, zc, ref_par, refx, refy) — ord is the
    candidate's position in the per-cell ordered list.
    edges: (cell_id, ord, x1, y1, x2, y2).
    """
    from equi7grid_spark.zones_pip import boundary_cands

    cand_rows: list[str] = []
    edge_rows: list[str] = []
    for c in boundary_cands(tuple(DEFAULT_SYSTEM_ORDER)):
        cid = c["cell_id"]
        for o, cand in enumerate(c["cands"]):
            cand_rows.append(
                f"({cid},{o},{cand['zc']},"
                f"{'TRUE' if cand['ref_par'] else 'FALSE'},"
                f"{float(cand['refx'])!r},{float(cand['refy'])!r})"
            )
            # float() before repr: NumPy 2.x scalar repr is
            # 'np.float64(1.5)', which is not SQL
            for e in cand["edges"]:
                edge_rows.append(
                    f"({cid},{o},{float(e[0])!r},{float(e[1])!r},"
                    f"{float(e[2])!r},{float(e[3])!r})"
                )
    return ",".join(cand_rows), ",".join(edge_rows)


def resolve_zone_sql(src: str, id_col: str) -> str:
    """CTE chain (to splice into a WITH list) from relation `src` with
    columns ({id_col}, lon, lat) to relation `zoned` with columns
    ({id_col}, lon, lat, zc): the FULL-domain primary zone assignment
    — decided cells via the 64,800-digit map, boundary cells via the
    exact parity test — dropping out-of-every-zone rows, exactly like
    assign_tiles_jvm(drop_out_of_zone=True).

    lon/lat must already lie in [-180, 180) x [-90, 90] (true for
    every synthesis in queries.py); the compiled resolver normalizes
    lon/lat itself, so the two agree on that domain. Supports
    DEFAULT_SYSTEM_ORDER only (the cached VALUES body is built for it;
    every oracled query uses the default order).
    """
    from equi7grid_spark.functions.geodesy_sql import (
        cell_id_sql,
        decided_digit_string,
    )

    digits = decided_digit_string()
    cands, edges = _boundary_values()
    i = id_col
    # x_int / y_int reproduce zones_pip._numpy_parity's guarded-division order:
    # x1 + (lat - y1) * dx / (dy == 0 ? 1 : dy)
    x_int = (
        "e.x1 + (p.lat - e.y1) * (e.x2 - e.x1)"
        " / (CASE WHEN e.y2 - e.y1 = 0.0 THEN 1.0 ELSE e.y2 - e.y1 END)"
    )
    y_int = (
        "e.y1 + (p.refx - e.x1) * (e.y2 - e.y1)"
        " / (CASE WHEN e.x2 - e.x1 = 0.0 THEN 1.0 ELSE e.x2 - e.x1 END)"
    )
    return f"""
    zcoded AS (
      SELECT {i}, lon, lat,
             CAST(substr('{digits}', {cell_id_sql()} + 1, 1) AS TINYINT) AS zd,
             {cell_id_sql()} AS cell
      FROM {src}
    ),
    zdec AS (
      SELECT {i}, lon, lat, CAST(zd AS INT) AS zc FROM zcoded WHERE zd <= 6
    ),
    zbnd AS MATERIALIZED (
      SELECT {i}, lon, lat, cell FROM zcoded WHERE zd = 8
    ),
    bcands AS MATERIALIZED (
      SELECT * FROM (VALUES {cands})
      AS t(cell_id, ord, zc, ref_par, refx, refy)
    ),
    bedges AS MATERIALIZED (
      SELECT * FROM (VALUES {edges})
      AS t(cell_id, ord, x1, y1, x2, y2)
    ),
    zpc AS MATERIALIZED (
      SELECT b.{i}, b.lon, b.lat, b.cell,
             c.ord, c.zc, c.ref_par, c.refx, c.refy
      FROM zbnd b JOIN bcands c ON b.cell = c.cell_id
    ),
    zflip AS MATERIALIZED (
      SELECT {i}, ord,
             (count(*) FILTER (WHERE
                (ycross AND xlo < x_int AND x_int <= xhi)
                <> (xcross AND ylo < y_int AND y_int <= yhi))) % 2 = 1 AS flip
      FROM (
        SELECT p.{i}, p.ord,
               (e.y1 > p.lat) <> (e.y2 > p.lat) AS ycross,
               (e.x1 > p.refx) <> (e.x2 > p.refx) AS xcross,
               least(p.lon, p.refx) AS xlo, greatest(p.lon, p.refx) AS xhi,
               least(p.lat, p.refy) AS ylo, greatest(p.lat, p.refy) AS yhi,
               {x_int} AS x_int,
               {y_int} AS y_int
        FROM zpc p JOIN bedges e ON p.cell = e.cell_id AND p.ord = e.ord
      ) GROUP BY {i}, ord
    ),
    zres AS MATERIALIZED (
      SELECT {i}, arg_min(zc, ord) AS zc, min(lon) AS lon, min(lat) AS lat
      FROM (
        SELECT p.{i}, p.ord, CAST(p.zc AS INT) AS zc, p.lon, p.lat
        FROM zpc p LEFT JOIN zflip f USING ({i}, ord)
        WHERE p.ref_par <> coalesce(f.flip, FALSE)
      ) GROUP BY {i}
    ),
    zoned AS (
      SELECT {i}, lon, lat, zc FROM zdec
      UNION ALL
      SELECT {i}, lon, lat, zc FROM zres
    )
    """


@lru_cache(maxsize=1)
def _membership_values() -> tuple[str, str, str]:
    """(in_rows, cands_rows, edges_rows) VALUES bodies for the BUFFERED
    zone MEMBERSHIP test (zones_pip.membership_cands):

    in: (cell_id, zc) — prefilter-IN (cell, zone) pairs;
    cands: (cell_id, zc, ref_par, refx, refy) — boundary pairs;
    edges: (cell_id, zc, x1, y1, x2, y2) — cell-local bfrd edges.
    """
    from equi7grid_spark.zones_pip import membership_cands

    in_pairs, cands = membership_cands("bfrd", tuple(DEFAULT_SYSTEM_ORDER))
    in_rows = ",".join(f"({cid},{zc})" for cid, zc in in_pairs)
    cand_rows: list[str] = []
    edge_rows: list[str] = []
    for c in cands:
        cand_rows.append(
            f"({c['cell_id']},{c['zc']},"
            f"{'TRUE' if c['ref_par'] else 'FALSE'},"
            f"{float(c['refx'])!r},{float(c['refy'])!r})"
        )
        for e in c["edges"]:
            edge_rows.append(
                f"({c['cell_id']},{c['zc']},{float(e[0])!r},{float(e[1])!r},"
                f"{float(e[2])!r},{float(e[3])!r})"
            )
    return in_rows, ",".join(cand_rows), ",".join(edge_rows)


def membership_zone_sql(src: str, id_col: str) -> str:
    """CTE chain from relation `src` ({id_col}, lon, lat) to relation
    `members` ({id_col}, zc): one row per (point, containing BUFFERED
    zone) — zones.zone_membership(buffered=True) semantics, which the
    engine runs as the jar entry equi7_zone_members (buffered zones
    overlap, so a point can emit up to 2 rows; reference
    tests/test_equi7grid.py:412-418). Same two-leg parity arithmetic
    as resolve_zone_sql, but per (cell, ZONE) with no
    ordering/truncation — every boundary-pair candidate tests
    independently, as ZoneMembers does. Certified against the NumPy
    ray-crossing membership by tests (zones_pip.membership_numpy twin).

    lon/lat must already lie in [-180, 180) x [-90, 90], as for
    resolve_zone_sql: the parity legs use the raw lon/lat, while
    ZoneMembers normalizes them first (lon 411.12 here misses the EU
    membership that 51.12 has).
    """
    from equi7grid_spark.functions.geodesy_sql import cell_id_sql

    in_rows, cands, edges = _membership_values()
    i = id_col
    x_int = (
        "e.x1 + (p.lat - e.y1) * (e.x2 - e.x1)"
        " / (CASE WHEN e.y2 - e.y1 = 0.0 THEN 1.0 ELSE e.y2 - e.y1 END)"
    )
    y_int = (
        "e.y1 + (p.refx - e.x1) * (e.y2 - e.y1)"
        " / (CASE WHEN e.x2 - e.x1 = 0.0 THEN 1.0 ELSE e.x2 - e.x1 END)"
    )
    return f"""
    mcoded AS (
      SELECT {i}, lon, lat, {cell_id_sql()} AS cell FROM {src}
    ),
    min_pairs AS MATERIALIZED (
      SELECT * FROM (VALUES {in_rows}) AS t(cell_id, zc)
    ),
    mdec AS (
      SELECT p.{i}, CAST(m.zc AS INT) AS zc
      FROM mcoded p JOIN min_pairs m ON p.cell = m.cell_id
    ),
    mcands AS MATERIALIZED (
      SELECT * FROM (VALUES {cands})
      AS t(cell_id, zc, ref_par, refx, refy)
    ),
    medges AS MATERIALIZED (
      SELECT * FROM (VALUES {edges})
      AS t(cell_id, zc, x1, y1, x2, y2)
    ),
    mpc AS MATERIALIZED (
      SELECT b.{i}, b.lon, b.lat, b.cell,
             c.zc, c.ref_par, c.refx, c.refy
      FROM mcoded b JOIN mcands c ON b.cell = c.cell_id
    ),
    mflip AS MATERIALIZED (
      SELECT {i}, zc,
             (count(*) FILTER (WHERE
                (ycross AND xlo < x_int AND x_int <= xhi)
                <> (xcross AND ylo < y_int AND y_int <= yhi))) % 2 = 1 AS flip
      FROM (
        SELECT p.{i}, p.zc,
               (e.y1 > p.lat) <> (e.y2 > p.lat) AS ycross,
               (e.x1 > p.refx) <> (e.x2 > p.refx) AS xcross,
               least(p.lon, p.refx) AS xlo, greatest(p.lon, p.refx) AS xhi,
               least(p.lat, p.refy) AS ylo, greatest(p.lat, p.refy) AS yhi,
               {x_int} AS x_int,
               {y_int} AS y_int
        FROM mpc p JOIN medges e ON p.cell = e.cell_id AND p.zc = e.zc
      ) GROUP BY {i}, zc
    ),
    mbnd AS (
      SELECT p.{i}, CAST(p.zc AS INT) AS zc
      FROM mpc p LEFT JOIN mflip f USING ({i}, zc)
      WHERE p.ref_par <> coalesce(f.flip, FALSE)
    ),
    members AS (
      SELECT {i}, zc FROM mdec
      UNION ALL
      SELECT {i}, zc FROM mbnd
    )
    """
