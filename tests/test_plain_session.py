"""Driver-session parity gate (see scripts/check_plain_session.py).

Runs in a SUBPROCESS so the plain SparkSession gets a fresh JVM — the
builder's configured session (Arrow on, conftest.py) must not leak in.
This is the test that would have caught round 2's Arrow-dependent
tinyint/bigint inference bug (3 red CORRECTNESS rows) before commit;
the reference's equivalent discipline is its multi-OS CI matrix
(/root/reference/.github/workflows/ci.yml:11-17).
"""

import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

# The kernel-path queries whose round-2 regression only fired on a
# plain session, plus one representative per pandas-UDF family. The
# full-surface sweep is `python scripts/check_plain_session.py` (a
# pre-commit gate, ~90 s); this subset keeps pytest under ~1 min while
# still exercising every environment-sensitive code path (JVM kernel
# registration + probe, cell-map createDataFrame dtypes, pandas-UDF
# warp without Arrow configs, PIP boundary resolve).
CRITICAL = (
    "tile_assign_t6_counts,tile_assign_decided_t6_counts,"
    "images_in_roi,images_tile_assign,zone_assign_counts,"
    "warp_raster_to_tiles,embedding_near_dup,"
    # round 4: the compiled roundtrip path (equi7_lonlat and
    # equi7_roundtrip_zone_tile_key registration) is exactly the
    # kernel-boundary surface the plain-session gate exists for
    "tile_roundtrip_t6_counts"
)


def test_plain_session_parity():
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_CPUS", None)
    proc = subprocess.run(
        [
            sys.executable,
            str(REPO / "scripts" / "check_plain_session.py"),
            "/root/testdata/sf0.001",
            CRITICAL,
        ],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    tail = "\n".join((proc.stdout + proc.stderr).splitlines()[-40:])
    assert proc.returncode == 0, f"plain-session gate failed:\n{tail}"
    assert "PLAIN-SESSION GATE: all green" in proc.stdout
