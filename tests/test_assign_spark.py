"""End-to-end Spark tile assignment (the flagship operator) against the
reference goldens."""

import pandas as pd
import pytest

from equi7grid_spark.operators.assign_jvm import assign_tiles_jvm


@pytest.fixture(scope="module")
def points(spark):
    pdf = pd.DataFrame(
        {
            "id": range(6),
            "lon": [15.1, -178.5, -178.0, 173.0, 18.507, 51.12],
            "lat": [45.3, 67.75, 51.75, 53.0, 44.571, 61.71],
        }
    )
    return spark.createDataFrame(pdf)


def test_assign_tiles_goldens(points):
    out = assign_tiles_jvm(points, tiling_id="T6", sampling=500.0).orderBy("id").collect()
    # reference tests/test_equi7grid.py:59-99 projected coords
    assert out[0].subgrid == "EU"
    assert out[0].x == pytest.approx(5138743.127891, abs=1.0)
    assert out[0].y == pytest.approx(1307029.157093, abs=1.0)
    assert out[1].subgrid == "AS"
    assert out[2].subgrid == "NA"
    assert out[3].subgrid == "NA"
    # reference :164-174 — (18.507, 44.571) → EU_E048N012T6 pixel (1199, 1199)
    assert out[4].tilename == "EU_E048N012T6"
    assert (out[4].row, out[4].col) == (1199, 1199)
    # reference :405-409 — transition point is AS only
    assert out[5].subgrid == "AS"



def test_buffered_assign_recipe(points):
    """The documented buffered recipe (operators/assign_jvm docstring,
    docs/MIGRATION.md): one row per containing buffered zone, each
    projected into its own zone (reference :412-418 — AS and EU)."""
    from pyspark.sql import functions as F

    from equi7grid_spark.geodesy import aeqd_forward
    from equi7grid_spark.operators import kernel
    from equi7grid_spark.operators.assign_jvm import subgrid_from_code, with_tile_columns

    df = points.filter(F.col("id") == 5)
    lon, lat = F.col("lon"), F.col("lat")
    z = df.withColumn("zc", F.explode(kernel.zone_members_col(lon, lat)))
    xy = kernel.xy_col(F.col("zc"), lon, lat)
    z = z.select("*", xy[0].alias("x"), xy[1].alias("y"),
                 subgrid_from_code(F.col("zc")).alias("subgrid"))
    out = with_tile_columns(z, "T6").orderBy("subgrid").collect()
    assert [r.subgrid for r in out] == ["AS", "EU"]
    for r in out:
        x, y = aeqd_forward(r.subgrid, 51.12, 61.71)
        assert (r.x, r.y) == pytest.approx((float(x), float(y)), abs=1e-6)
        assert r.tilename.startswith(r.subgrid + "_") and r.tilename.endswith("T6")


def test_assign_and_join_restores_aqe_on_failure(spark, tmp_path):
    """run() turns AQE off for its own job; a run that fails (here: an
    input path that does not exist) leaves the caller's setting as it
    was."""
    from pyspark.errors import AnalysisException

    from equi7grid_spark.jobs.assign_and_join import run

    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    with pytest.raises(AnalysisException):
        run(spark, str(tmp_path / "missing"))
    assert spark.conf.get(key) == prev
