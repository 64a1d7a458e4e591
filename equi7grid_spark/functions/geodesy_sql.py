"""DuckDB-SQL Vincenty: the AEQD forward and inverse as plain SQL.

Purpose: value-exact DuckDB oracles for the geodesic tile-assignment
queries (driver contract). The AEQD forward projection is iterative,
so round 1 left those queries rows-only; but the Vincenty fixed-point
unrolled to ITERS=6 rounds of plain arithmetic IS ANSI-SQL-expressible
(the measured convergence floor for in-zone points: max |dx, dy| vs
the converged NumPy kernel 6.2e-7 m at 6 rounds, identical at 8 — the
iteration contracts ~1e-3/round and every zone point is far from the
antipode). This module emits that arithmetic as SQL text, in
geodesy.geodesic_inverse / geodesic_direct's evaluation order:

- every folded Python-float constant is emitted with repr() (shortest
  round-trip — DuckDB parses it back to the identical double);
- java.lang.Math.toRadians is `x / 180.0 * pi` (that operation order),
  not `x * (pi/180)`;
- Spark's double pmod(a, b) is `fmod(fmod(a, b) + b, b)`;
- hypot(a, b) becomes `sqrt(a*a + b*b)` — the one knowingly
  non-identical term (Math.hypot is correctly rounded, sqrt-of-sum is
  ~1 ulp off). Residual cross-engine error against the engine's
  compiled kernel (operators/kernel, converged to tol=1e-13) is
  bounded by the convergence floor itself (<1e-6 m), so oracled
  outputs must be floor-robust: tile indices / counts / names, never
  raw projected doubles (the driver compares floats rounded to 9
  decimals — 1e-6 m would flap).

Zone constants are list literals indexed by the int zone code.
"""

from __future__ import annotations

import math

from equi7grid_spark.constants import (
    DEFAULT_SYSTEM_ORDER,
    SYSTEMS,
    WGS84_A,
    WGS84_B,
    WGS84_F,
)

ITERS = 6

_PI = repr(math.pi)
_A = WGS84_A
_B = WGS84_B
_F = WGS84_F


def _system_consts(system_order: tuple[str, ...]) -> dict[str, list[float]]:
    """Per-zone constants for the INVERSE problem (the AEQD forward):
    sinU1/cosU1 through atan + sin/cos, as geodesy.geodesic_inverse."""
    sinU1, cosU1, phi1, lon0, x0, y0 = [], [], [], [], [], []
    for cc in system_order:
        s = SYSTEMS[cc]
        p1 = math.radians(s.lat_0)
        u1 = math.atan((1.0 - _F) * math.tan(p1))
        sinU1.append(math.sin(u1))
        cosU1.append(math.cos(u1))
        phi1.append(p1)
        lon0.append(s.lon_0)
        x0.append(s.x_0)
        y0.append(s.y_0)
    return {
        "sinU1": sinU1,
        "cosU1": cosU1,
        "phi1": phi1,
        "lon0": lon0,
        "x0": x0,
        "y0": y0,
    }


def _system_consts_direct(system_order: tuple[str, ...]) -> dict[str, list[float]]:
    """Per-zone constants for the DIRECT problem, computed in
    geodesy.geodesic_direct's exact formula order (tanU1 -> cosU1 via
    1/sqrt -> sinU1 via product), NOT reused from _system_consts (which
    derives sinU1/cosU1 through atan+sin/cos — last-ulp different)."""
    tanU1, cosU1, sinU1, lon0, x0, y0 = [], [], [], [], [], []
    for cc in system_order:
        s = SYSTEMS[cc]
        t = (1.0 - _F) * math.tan(math.radians(s.lat_0))
        cu = 1.0 / math.sqrt(1.0 + t * t)
        tanU1.append(t)
        cosU1.append(cu)
        sinU1.append(t * cu)
        lon0.append(s.lon_0)
        x0.append(s.x_0)
        y0.append(s.y_0)
    return {
        "tanU1": tanU1,
        "cosU1": cosU1,
        "sinU1": sinU1,
        "lon0": lon0,
        "x0": x0,
        "y0": y0,
    }


def _zc_list(values: list[float]) -> str:
    lits = ", ".join(repr(float(v)) for v in values)
    return f"list_extract([{lits}], zc + 1)"


def aeqd_forward_sql(
    src: str,
    *,
    iters: int = ITERS,
    system_order: tuple[str, ...] = DEFAULT_SYSTEM_ORDER,
    carry: tuple[str, ...] = ("zc",),
) -> str:
    """SELECT producing (carry..., x, y) from a relation `src` that has
    columns (zc, lon, lat): the Vincenty INVERSE problem from the zone
    center, `iters` unrolled rounds of geodesy.geodesic_inverse."""
    c = _system_consts(tuple(system_order))
    keep = ", ".join(dict.fromkeys(("zc",) + tuple(carry)))

    # layer 0: hoist the per-zone constants once (alias = identical value)
    q = f"""
      SELECT {keep}, lon, lat,
             {_zc_list(c["sinU1"])} AS k_sinU1,
             {_zc_list(c["cosU1"])} AS k_cosU1,
             {_zc_list(c["phi1"])} AS k_phi1,
             {_zc_list(c["lon0"])} AS k_lon0,
             {_zc_list(c["x0"])} AS k_x0,
             {_zc_list(c["y0"])} AS k_y0
      FROM {src}
    """
    # setup: normalized longitude difference + auxiliary latitude
    q = f"""
      SELECT {keep}, k_sinU1, k_cosU1, k_phi1, k_x0, k_y0,
             (fmod(fmod(lon - k_lon0 + 180.0, 360.0) + 360.0, 360.0) - 180.0)
               / 180.0 * {_PI} AS L,
             lat / 180.0 * {_PI} AS phi2
      FROM ({q})
    """
    q = f"""
      SELECT *, atan({repr(1.0 - _F)} * tan(phi2)) AS U2 FROM ({q})
    """
    q = f"""
      SELECT {keep}, k_sinU1, k_cosU1, k_phi1, k_x0, k_y0, L, phi2,
             sin(U2) AS sinU2, cos(U2) AS cosU2, L AS lam
      FROM ({q})
    """
    base = f"{keep}, k_sinU1, k_cosU1, k_phi1, k_x0, k_y0, L, phi2, sinU2, cosU2"
    sa = "(CASE WHEN ss <> 0.0 THEN k_cosU1*cosU2*sl/ss ELSE 0.0 END)"
    for it in range(iters):
        last = it == iters - 1
        q = f"""
          SELECT {base}, lam, sin(lam) AS sl, cos(lam) AS cl FROM ({q})
        """
        q = f"""
          SELECT {base}, lam, sl,
                 sqrt((cosU2*sl)*(cosU2*sl)
                      + (k_cosU1*sinU2 - k_sinU1*cosU2*cl)
                        * (k_cosU1*sinU2 - k_sinU1*cosU2*cl)) AS ss,
                 k_sinU1*sinU2 + k_cosU1*cosU2*cl AS cs
          FROM ({q})
        """
        q = f"""
          SELECT {base}, lam, sl, ss, cs,
                 atan2(ss, cs) AS sig,
                 1.0 - {sa}*{sa} AS csa
          FROM ({q})
        """
        q = f"""
          SELECT {base}, lam, sl, ss, cs, sig, csa,
                 CASE WHEN csa <> 0.0
                      THEN cs - 2.0*k_sinU1*sinU2/csa ELSE 0.0 END AS c2sm,
                 {repr(_F / 16.0)} * csa
                   * (4.0 + {repr(_F)}*(4.0 - 3.0*csa)) AS Cc
          FROM ({q})
        """
        tail = "ss, cs, sig, c2sm, csa," if last else ""
        q = f"""
          SELECT {base}, {tail}
                 L + (1.0 - Cc) * {repr(_F)} * {sa}
                   * (sig + Cc*ss*(c2sm + Cc*cs*(-1.0 + 2.0*c2sm*c2sm))) AS lam
          FROM ({q})
        """
    u2c = repr((_A * _A - _B * _B) / (_B * _B))
    q = f"""
      SELECT *, csa * {u2c} AS u2 FROM ({q})
    """
    q = f"""
      SELECT {base}, ss, cs, sig, c2sm, lam,
             u2/1024.0 * (256.0 + u2*(-128.0 + u2*(74.0 - 47.0*u2))) AS Bb,
             1.0 + u2/16384.0
               * (4096.0 + u2*(-768.0 + u2*(320.0 - 175.0*u2))) AS Ab
      FROM ({q})
    """
    dsig = (
        "Bb*ss*(c2sm + Bb/4.0*(cs*(-1.0 + 2.0*c2sm*c2sm)"
        " - Bb/6.0*c2sm*(-3.0 + 4.0*ss*ss)*(-3.0 + 4.0*c2sm*c2sm)))"
    )
    coin = "(abs(k_phi1 - phi2) < 1e-15 AND abs(L) < 1e-15)"
    q = f"""
      SELECT {keep}, k_x0, k_y0,
             CASE WHEN {coin} THEN 0.0
                  ELSE {repr(_B)} * Ab * (sig - {dsig}) END AS s,
             CASE WHEN {coin} THEN 0.0
                  ELSE atan2(cosU2*sin(lam),
                             k_cosU1*sinU2 - k_sinU1*cosU2*cos(lam)) END AS az1
      FROM ({q})
    """
    return f"""
      SELECT {keep},
             k_x0 + s*sin(az1) AS x,
             k_y0 + s*cos(az1) AS y
      FROM ({q})
    """


def aeqd_inverse_sql(
    src: str,
    *,
    iters: int = ITERS,
    system_order: tuple[str, ...] = DEFAULT_SYSTEM_ORDER,
    carry: tuple[str, ...] = ("zc",),
) -> str:
    """SELECT producing (carry..., lon, lat) from a relation `src` with
    columns (zc, x, y) — the Vincenty DIRECT problem, `iters` unrolled
    rounds of geodesy.geodesic_direct (same caveats as the forward:
    hypot -> sqrt-of-squares is the one ~1-ulp divergence; consuming
    oracles must stay floor-robust)."""
    c = _system_consts_direct(tuple(system_order))
    keep = ", ".join(dict.fromkeys(("zc",) + tuple(carry)))

    # layer 0: per-zone constants + offsets
    q = f"""
      SELECT {keep},
             {_zc_list(c["tanU1"])} AS k_tanU1,
             {_zc_list(c["cosU1"])} AS k_cosU1,
             {_zc_list(c["sinU1"])} AS k_sinU1,
             {_zc_list(c["lon0"])} AS k_lon0,
             x - {_zc_list(c["x0"])} AS dx,
             y - {_zc_list(c["y0"])} AS dy
      FROM {src}
    """
    q = f"""
      SELECT {keep}, k_tanU1, k_cosU1, k_sinU1, k_lon0,
             sqrt(dx*dx + dy*dy) AS s, atan2(dx, dy) AS az1
      FROM ({q})
    """
    q = f"""
      SELECT {keep}, k_tanU1, k_cosU1, k_sinU1, k_lon0, s,
             sin(az1) AS sina1, cos(az1) AS cosa1
      FROM ({q})
    """
    # cheap arithmetic recomputed inline
    sin_alpha = "(k_cosU1 * sina1)"
    csa = f"(1.0 - {sin_alpha}*{sin_alpha})"
    u2 = f"({csa} * {repr((_A * _A - _B * _B) / (_B * _B))})"
    q = f"""
      SELECT {keep}, k_cosU1, k_sinU1, k_lon0, s, sina1, cosa1,
             atan2(k_tanU1, cosa1) AS sig1,
             1.0 + {u2}/16384.0
               * (4096.0 + {u2}*(-768.0 + {u2}*(320.0 - 175.0*{u2}))) AS Ab,
             {u2}/1024.0
               * (256.0 + {u2}*(-128.0 + {u2}*(74.0 - 47.0*{u2}))) AS Bb
      FROM ({q})
    """
    base = f"{keep}, k_cosU1, k_sinU1, k_lon0, sina1, cosa1, sig1, Bb, sig0"
    q = f"""
      SELECT {base}, sig0 AS sig FROM (
        SELECT {keep}, k_cosU1, k_sinU1, k_lon0, sina1, cosa1, sig1, Bb,
               s / ({repr(_B)} * Ab) AS sig0
        FROM ({q})
      )
    """
    for _ in range(iters):
        q = f"""
          SELECT {base},
                 cos(2.0*sig1 + sig) AS c2sm, sin(sig) AS ssig,
                 cos(sig) AS csig
          FROM ({q})
        """
        q = f"""
          SELECT {base},
                 sig0 + Bb*ssig*(c2sm + Bb/4.0*(csig*(-1.0 + 2.0*c2sm*c2sm)
                   - Bb/6.0*c2sm*(-3.0 + 4.0*ssig*ssig)
                     *(-3.0 + 4.0*c2sm*c2sm))) AS sig
          FROM ({q})
        """
    q = f"""
      SELECT {base}, sig,
             cos(2.0*sig1 + sig) AS c2sm, sin(sig) AS ssig, cos(sig) AS csig
      FROM ({q})
    """
    tmp = "(k_sinU1*ssig - k_cosU1*csig*cosa1)"
    q = f"""
      SELECT {keep}, k_lon0, sig, c2sm, ssig, csig, sina1, cosa1,
             k_cosU1, k_sinU1,
             atan2(k_sinU1*csig + k_cosU1*ssig*cosa1,
                   {repr(1.0 - _F)}
                     * sqrt({sin_alpha}*{sin_alpha} + {tmp}*{tmp})) AS phi2,
             atan2(ssig*sina1, k_cosU1*csig - k_sinU1*ssig*cosa1) AS lam
      FROM ({q})
    """
    Cc = f"({repr(_F / 16.0)} * {csa} * (4.0 + {repr(_F)}*(4.0 - 3.0*{csa})))"
    Lval = (
        f"(lam - (1.0 - {Cc}) * {repr(_F)} * {sin_alpha}"
        f" * (sig + {Cc}*ssig*(c2sm + {Cc}*csig*(-1.0 + 2.0*c2sm*c2sm))))"
    )
    return f"""
      SELECT {keep},
             fmod(fmod(k_lon0 + degrees({Lval}) + 180.0, 360.0) + 360.0, 360.0)
               - 180.0 AS lon,
             degrees(phi2) AS lat
      FROM ({q})
    """


def decided_digit_string() -> str:
    """64,800-char digit string of zones.decided_cell_codes indexed by
    1-degree cell_id (+1 for SQL substr): '0'..'6' = decided primary
    zone code, '7' = out of every zone, '8' = prefilter-boundary
    (needs exact PIP — excluded from the decided-only oracled queries
    on BOTH sides; the engine's equi7_decided_zone is null there)."""
    from equi7grid_spark.zones import decided_cell_codes

    lut = {-1: "7", -2: "8"}
    return "".join(lut.get(int(v), str(int(v))) for v in decided_cell_codes().ravel())


def cell_id_sql(lon: str = "lon", lat: str = "lat") -> str:
    """1-degree cell id, the cell arithmetic of the jar's ZoneData.cell
    (lon normalized to [-180, 180), lat clamped, floor + clip)."""
    lon_n = f"(fmod(fmod({lon} + 180.0, 360.0) + 360.0, 360.0) - 180.0)"
    lat_c = f"greatest(least({lat}, 90.0), -90.0)"
    ix = f"greatest(least(floor({lon_n} + 180.0), 359), 0)"
    iy = f"greatest(least(floor({lat_c} + 90.0), 179), 0)"
    return f"CAST(({ix}) * 180 + ({iy}) AS INT)"
