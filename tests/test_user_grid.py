"""get_user_equi7grid with custom tiling definitions (reference
core.py:538-569; docs/guides/grid.ipynb builds a T2 = 200 km grid)."""

from __future__ import annotations

import numpy as np
import pytest

from equi7grid_spark.api import (
    RegularTilingDefinition,
    get_standard_equi7grid,
    get_user_equi7grid,
)
from equi7grid_spark.tile import Tile


@pytest.fixture(scope="module")
def t2_grid():
    # the grid.ipynb user-grid example verbatim
    return get_user_equi7grid(
        500, {1: RegularTilingDefinition(name="T2", tile_shape=200_000)}
    )


def test_t2_projection_matches_standard(t2_grid):
    std = get_standard_equi7grid(500)
    assert t2_grid.EU.lonlat_to_xy(16.4, 48.2) == std.EU.lonlat_to_xy(16.4, 48.2)


def test_t2_tile_from_lonlat_and_name_roundtrip(t2_grid):
    t = t2_grid.EU.get_tile_from_lonlat(16.4, 48.2, tiling_id="T2")
    # the EU projected point lies at ~(5.29e6, 1.69e6) -> 200 km floor
    x, y = t2_grid.EU.lonlat_to_xy(16.4, 48.2)
    assert t.ll_x == np.floor(x / 200_000) * 200_000
    assert t.ll_y == np.floor(y / 200_000) * 200_000
    assert t.name.endswith("T2")
    back = t2_grid.get_tile_from_name(t.name)
    assert (back.subgrid, back.ll_x, back.ll_y) == (t.subgrid, t.ll_x, t.ll_y)


def test_t2_tilename_validity_modulus():
    # 300 km is not a multiple of 200 km -> invalid T2 corner
    with pytest.raises(ValueError):
        Tile.from_name("EU_E003N003T2")
    t = Tile.from_name("EU_E048N012T2")
    assert t.tile_size == 200_000.0


def test_t2_n_pixels_and_sampling_validation(t2_grid):
    assert t2_grid.config.n_pixels("T2") == 400
    with pytest.raises(ValueError):
        get_user_equi7grid(
            300, {1: RegularTilingDefinition(name="T2", tile_shape=200_000)}
        )


def test_tiling_definition_validation():
    with pytest.raises(ValueError):
        RegularTilingDefinition(name="T23", tile_shape=200_000)
    with pytest.raises(ValueError):
        RegularTilingDefinition(name="T2", tile_shape=250_000)
    with pytest.raises(ValueError):
        # conflicting re-registration of a standard id
        get_user_equi7grid(
            500, {1: RegularTilingDefinition(name="T6", tile_shape=200_000)}
        )


def test_t2_roi_search_consistent_with_t6(t2_grid):
    """Every T2 tile found in a bbox must be contained in some T6 tile
    found for the same bbox (T6 = 3x3 T2)."""
    bbox = (16.0, 48.0, 18.0, 50.0)
    t2_tiles = t2_grid.get_tiles_in_geog_bbox(bbox, "T2")
    std = get_standard_equi7grid(500)
    t6_tiles = std.get_tiles_in_geog_bbox(bbox, "T6")
    t6_cells = {(t.subgrid, t.ll_x // 600_000, t.ll_y // 600_000) for t in t6_tiles}
    assert len(t2_tiles) >= len(t6_tiles)
    for t in t2_tiles:
        key = (t.subgrid, t.ll_x // 600_000, t.ll_y // 600_000)
        assert key in t6_cells


def test_t2_grid_def_roundtrip(t2_grid, tmp_path):
    p = tmp_path / "t2_grid.json"
    t2_grid.to_grid_def(p)
    from equi7grid_spark.api import Equi7Grid

    back = Equi7Grid.from_grid_def.__func__  # noqa: B009  (existence check)
    import json

    d = json.loads(p.read_text())
    assert d["tilings"]["T2"] == 200_000
    g2 = Equi7Grid.from_grid_def(d)
    assert g2.config.tilings["T2"] == 200_000
    assert g2.EU.lonlat_to_xy(16.4, 48.2) == t2_grid.EU.lonlat_to_xy(16.4, 48.2)


def test_t2_spark_assignment(spark, sf_dir):
    """assign_tiles_jvm with the registered T2 id: tilenames end in T2 and
    the T6 parent relation holds row-wise."""
    from pyspark.sql import functions as F

    from equi7grid_spark.operators.assign_jvm import assign_tiles_jvm
    from equi7grid_spark.queries import _derived_lonlat

    get_user_equi7grid(500, {1: RegularTilingDefinition(name="T2", tile_shape=200_000)})
    pts = _derived_lonlat(spark, sf_dir).limit(2000)
    both = assign_tiles_jvm(pts, tiling_id="T2").withColumnRenamed(
        "tilename", "t2name"
    ).select("pt_id", "t2name", "x", "y")
    t6 = assign_tiles_jvm(pts, tiling_id="T6").select("pt_id", "tilename")
    j = both.join(t6, "pt_id")
    rows = j.collect()
    assert rows and all(r.t2name.endswith("T2") for r in rows)
    for r in rows:
        # T2 corner floors into the T6 corner of the same point
        e2 = int(r.t2name[4:7]) * 100_000
        e6 = int(r.tilename[4:7]) * 100_000
        assert (e2 // 600_000) * 600_000 == e6
