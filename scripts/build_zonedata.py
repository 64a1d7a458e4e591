"""Serialize the zone-assignment structures into the JVM kernel's
resource blob (equi7grid_spark/jvm/resources/equi7/zonedata.bin).

Contents (little-endian):
  [64800 bytes]  decided_cell_codes, int8, cell = ix*180 + iy
                 (0..6 = zone code, -2 = boundary cell)
  [int32]        number of boundary cells
  per boundary cell:
    [int32]      cell_id
    [uint8]      n_cands
    per cand:    [int8 zc][uint8 ref_par][f64 refx][f64 refy]
                 [int32 n_edges][n_edges x 4 f64: x1 y1 x2 y2]

The data is zones.decided_cell_codes + zones_pip.boundary_cands (the
structure the DuckDB oracle inlines, functions/zones_sql) — baked into
the jar so the compiled kernel can resolve zones with zero joins. Rebuild
(then scripts/build_jvm_kernel.sh) whenever zone geometry changes:
    python scripts/build_zonedata.py
"""

from __future__ import annotations

import struct
import sys
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from equi7grid_spark.zones import decided_cell_codes  # noqa: E402
from equi7grid_spark.zones_pip import boundary_cands  # noqa: E402

OUT = (
    Path(__file__).resolve().parents[1]
    / "equi7grid_spark" / "jvm" / "resources" / "equi7" / "zonedata.bin"
)


def main() -> None:
    OUT.parent.mkdir(parents=True, exist_ok=True)
    codes = decided_cell_codes()
    bc = boundary_cands()
    buf = bytearray()
    buf += codes.astype("<i1").tobytes()  # lon-major [360,180]
    buf += struct.pack("<i", len(bc))
    for cell in bc:
        buf += struct.pack("<i", cell["cell_id"])
        buf += struct.pack("<B", len(cell["cands"]))
        for cand in cell["cands"]:
            e = np.ascontiguousarray(cand["edges"], dtype="<f8")
            buf += struct.pack(
                "<bBdd", cand["zc"], int(cand["ref_par"]), cand["refx"], cand["refy"]
            )
            buf += struct.pack("<i", e.shape[0])
            buf += e.tobytes()
    OUT.write_bytes(bytes(buf))
    print(f"wrote {OUT} ({len(buf)/1e6:.2f} MB, {len(bc)} boundary cells)")


if __name__ == "__main__":
    main()
