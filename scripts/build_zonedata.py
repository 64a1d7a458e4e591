"""Serialize the zone structures into the JVM kernel's resource blobs
(equi7grid_spark/jvm/resources/equi7/zonedata.bin and members.bin).

zonedata.bin (primary-zone resolve, read by ZoneData), little-endian:
  [64800 bytes]  decided_cell_codes, int8, cell = ix*180 + iy
                 (0..6 = zone code, -2 = boundary cell)
  [cand section] zones_pip.boundary_cands

members.bin (buffered membership, read by MemberData):
  [64800 bytes]  per-cell zone mask, bit zc set when the prefilter
                 decides the cell fully inside buffered zone zc
  [cand section] zones_pip.membership_cands("bfrd") grouped by cell,
                 ascending zone code within a cell

cand section:
  [int32]        number of cells
  per cell:
    [int32]      cell_id
    [uint8]      n_cands
    per cand:    [int8 zc][uint8 ref_par][f64 refx][f64 refy]
                 [int32 n_edges][n_edges x 4 f64: x1 y1 x2 y2]

The data is the structure the DuckDB oracle inlines (functions/
zones_sql) -- baked into the jar so the compiled kernel resolves zones
with zero joins. tests/test_kernel_jar.py checks that the jar holds
exactly these bytes. Rebuild (then scripts/build_jvm_kernel.sh)
whenever zone geometry changes:
    python scripts/build_zonedata.py
"""

from __future__ import annotations

import struct
import sys
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from equi7grid_spark.zones import PF_NX, PF_NY, decided_cell_codes  # noqa: E402
from equi7grid_spark.zones_pip import boundary_cands, membership_cands  # noqa: E402

OUT = (
    Path(__file__).resolve().parents[1] / "equi7grid_spark" / "jvm" / "resources" / "equi7"
)


def _cand_section(cells: list[dict]) -> bytes:
    buf = bytearray(struct.pack("<i", len(cells)))
    for cell in cells:
        buf += struct.pack("<iB", cell["cell_id"], len(cell["cands"]))
        for cand in cell["cands"]:
            e = np.ascontiguousarray(cand["edges"], dtype="<f8")
            buf += struct.pack(
                "<bBdd", cand["zc"], int(cand["ref_par"]), cand["refx"], cand["refy"]
            )
            buf += struct.pack("<i", e.shape[0])
            buf += e.tobytes()
    return bytes(buf)


def zonedata_bytes() -> bytes:
    codes = decided_cell_codes()
    return codes.astype("<i1").tobytes() + _cand_section(boundary_cands())  # lon-major [360,180]


def members_bytes() -> bytes:
    in_pairs, cands = membership_cands("bfrd")
    mask = np.zeros(PF_NX * PF_NY, dtype=np.uint8)
    for cell_id, zc in in_pairs:
        mask[cell_id] |= 1 << zc
    by_cell: dict[int, list[dict]] = {}
    for c in sorted(cands, key=lambda c: (c["cell_id"], c["zc"])):
        by_cell.setdefault(c["cell_id"], []).append(c)
    cells = [{"cell_id": k, "cands": v} for k, v in by_cell.items()]
    return mask.tobytes() + _cand_section(cells)


RESOURCES = {"zonedata.bin": zonedata_bytes, "members.bin": members_bytes}


def main() -> None:
    OUT.mkdir(parents=True, exist_ok=True)
    for name, build in RESOURCES.items():
        data = build()
        (OUT / name).write_bytes(data)
        print(f"wrote {OUT / name} ({len(data)/1e6:.2f} MB)")


if __name__ == "__main__":
    main()
