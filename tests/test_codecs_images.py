"""Codecs, synthetic images table, catalog joins, iceberg-lite manifest."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from equi7grid_spark.images import make_batch, synthetic_images
from equi7grid_spark.warp.codecs import decode, encode, psnr


@pytest.mark.parametrize("fmt", ["raw", "png", "q8"])
def test_codec_roundtrip(fmt):
    rng = np.random.default_rng(7)
    a = rng.integers(0, 256, (41, 29)).astype(np.uint8)
    b = decode(encode(a, fmt), fmt, 29, 41)
    if fmt == "q8":
        assert psnr(a, b) >= 40.0  # BASELINE.json input_hint lossy gate
    else:
        assert np.array_equal(a, b)


def test_make_batch_deterministic():
    a = make_batch(np.arange(100), seed=42)
    b = make_batch(np.arange(100), seed=42)
    assert (a["phash"] == b["phash"]).all()
    assert (a["lon"] == b["lon"]).all()
    assert a["image_id"][0] == "img000000000000"
    assert set(a["fmt"]) == {"raw", "png", "q8"}
    assert ((a["w"] >= 16) & (a["w"] <= 64)).all()
    # caption embeds the location (FIXTURES.md: location-sensitive equality)
    lon0 = a["lon"][0]
    assert f"({lon0:.4f}," in a["caption"][0]
    # bytes decode back to the deterministic pattern
    row = a.iloc[0]
    arr = decode(row["bytes"], row["fmt"], row["w"], row["h"])
    r = np.arange(row["h"])[:, None]
    c = np.arange(row["w"])[None, :]
    expected = ((r * 31 + c * 17 + 0) % 251).astype(np.uint8)
    if row["fmt"] == "q8":
        assert psnr(expected, arr) >= 40.0
    else:
        assert np.array_equal(arr, expected)


def test_synthetic_images_spark(spark):
    df = synthetic_images(spark, 2000, with_bytes=False)
    assert df.count() == 2000
    assert df.select("image_id").distinct().count() == 2000
    # land-biased: most points in anchor boxes → zones uneven but all present
    from equi7grid_spark.operators.assign_jvm import assign_tiles_jvm

    z = assign_tiles_jvm(df).groupBy("subgrid").count().collect()
    assert len(z) == 7


def test_join_tile_catalog_and_neighbors(spark):
    from equi7grid_spark.operators.assign_jvm import assign_tiles_jvm
    from equi7grid_spark.operators.join import join_tile_catalog, knn_tiles, tile_neighbors

    df = synthetic_images(spark, 500, with_bytes=False)
    assigned = assign_tiles_jvm(df, tiling_id="T6")
    joined = join_tile_catalog(assigned, spark, "T6", how="inner")
    # every assigned tile must exist in the catalog (zones partition globe)
    assert joined.count() == assigned.count()
    assert "covers_land" in joined.columns

    nb = tile_neighbors(spark, "T6")
    row = nb.filter(F.col("tilename") == "EU_E048N012T6").collect()
    names = {r.neighbor for r in row}
    assert "EU_E054N012T6" in names and "EU_E048N018T6" in names
    assert len(names) == 8  # interior tile: full 8-neighborhood

    pts = assigned.select(F.col("image_id").alias("pt_id"), "subgrid", "x", "y")
    kn = knn_tiles(pts, spark, "T6", k=1, id_col="pt_id").select(
        "pt_id", F.col("tilename").alias("nearest_tile")
    )
    # each point's nearest tile center is its containing tile
    both = kn.join(
        assigned.select("image_id", "tilename"), kn["pt_id"] == assigned["image_id"]
    )
    mismatch = both.filter(F.col("nearest_tile") != F.col("tilename")).count()
    assert mismatch == 0


def test_iceberg_lite_resume(spark, tmp_path):
    from equi7grid_spark.table.manifest import IcebergLiteTable

    df = spark.createDataFrame(
        [("EU", 1), ("EU", 2), ("AS", 3)], "subgrid string, v int"
    )
    t = IcebergLiteTable(tmp_path / "tbl")
    m1 = t.write_partitioned(df, "subgrid", meta={"run": 1})
    assert m1["total_rows"] == 3
    assert sorted(m1["newly_written"]) == ["AS", "EU"]
    # resume: nothing new to write, same totals, new snapshot
    m2 = t.write_partitioned(df, "subgrid", meta={"run": 2})
    assert m2["newly_written"] == []
    assert m2["skipped_resume"] == ["AS", "EU"]
    assert m2["total_rows"] == 3
    assert m2["parent_id"] == m1["snapshot_id"]
    # adding a new partition appends only it
    df2 = spark.createDataFrame([("NA", 4)], "subgrid string, v int")
    m3 = t.write_partitioned(df2, "subgrid", meta={"run": 3})
    assert m3["newly_written"] == ["NA"]
    assert m3["total_rows"] == 4
    assert t.read(spark).count() == 4
