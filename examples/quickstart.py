"""Runnable quickstart mirroring the reference's four guide notebooks
(grid.ipynb, tiling_system.ipynb, tile.ipynb, warp.ipynb) plus the
Spark-scale flows the reference has no equivalent for. Every printed
value is asserted, so this doubles as an end-to-end smoke script:

    python examples/quickstart.py
"""

from __future__ import annotations

import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def scalar_flows() -> None:
    # -- grid.ipynb -------------------------------------------------------
    from equi7grid_spark.api import (
        Equi7Grid,
        RegularTilingDefinition,
        get_standard_equi7grid,
        get_user_equi7grid,
    )

    e7grid = get_standard_equi7grid(500)
    assert e7grid.get_systems_from_lonlat(16, 48) == ["EU"]
    xy = e7grid.lonlat_to_xy(16, 48)["EU"]
    assert abs(xy[0] - 5_240_688.09) < 1.0 and abs(xy[1] - 1_597_809.92) < 1.0

    # custom user grid (grid.ipynb cell 92: T2 = 200 km tiles)
    user = get_user_equi7grid(
        500, {1: RegularTilingDefinition(name="T2", tile_shape=200_000)}
    )
    t2 = user.system("EU").get_tile_from_lonlat(16, 48, "T2")
    assert t2.name.endswith("T2")

    # (de)serialization round-trip
    with tempfile.TemporaryDirectory() as td:
        p = Path(td) / "grid.json"
        e7grid.to_file(p)
        again = Equi7Grid.from_file(p)
        assert again.lonlat_to_xy(16, 48) == e7grid.lonlat_to_xy(16, 48)

    # -- tiling_system.ipynb / tile.ipynb ---------------------------------
    eu = e7grid.system("EU")
    tile = eu.get_tile_from_lonlat(16, 48, "T6")
    assert tile.name == "EU_E048N012T6"
    assert eu.get_tile_from_name("EU_E048N012T6").ll_x == tile.ll_x
    kids = e7grid.system("EU").get_children_from_name("EU_E048N012T6")
    assert len(kids) == 4  # T6 -> T3
    parent = e7grid.system("EU").get_parent_from_name(kids[0].name)
    assert parent.name == "EU_E048N012T6"

    # ROI search (reference golden: 4 tiles over Austria-ish bbox)
    from equi7grid_spark.roi import get_tiles_in_geog_bbox

    tiles = get_tiles_in_geog_bbox((16, 48, 18, 50), "T6")
    assert [t.tilename for t in tiles] == [
        "EU_E048N012T6", "EU_E048N018T6", "EU_E054N012T6", "EU_E054N018T6",
    ]
    assert len(get_tiles_in_geog_bbox((-179.9, -89.9, 179.9, 89.9), "T6")) == 1801

    print("scalar flows: OK")


def spark_flows() -> None:
    from pyspark.sql import functions as F

    from equi7grid_spark.images import synthetic_images
    from equi7grid_spark.operators.assign_jvm import assign_tiles_jvm, tile_counts_jvm
    from equi7grid_spark.operators.join import join_tile_catalog
    from equi7grid_spark.session import get_spark
    from equi7grid_spark.table.manifest import IcebergLiteTable

    spark = get_spark(app_name="quickstart", master="local[8]", shuffle_partitions=8)

    # the flagship: assign every image row a tile, count per tile,
    # enrich from the broadcast tile catalog
    imgs = synthetic_images(spark, 20_000, with_bytes=False)
    counts = tile_counts_jvm(imgs, tiling_id="T6")
    enriched = join_tile_catalog(counts, spark, "T6", how="left")
    n_tiles = enriched.count()
    n_imgs = enriched.agg(F.sum("n")).collect()[0][0]
    assert n_imgs > 19_000 and n_tiles > 100

    # row-level assignment keeps payloads intact (captions, bytes)
    assigned = assign_tiles_jvm(imgs, tiling_id="T6")
    assert assigned.filter(F.col("caption").isNull()).count() == 0

    # resumable iceberg-lite sink with per-partition lineage
    with tempfile.TemporaryDirectory() as td:
        table = IcebergLiteTable(td)
        manifest = table.write_partitioned(enriched, "subgrid", resume=True)
        assert manifest["total_rows"] == n_tiles
        again = table.write_partitioned(enriched, "subgrid", resume=True)
        assert again["newly_written"] == []  # everything skipped on resume
        assert table.read(spark).count() == n_tiles

    # training-pipeline ops on the documents table (skip cleanly when
    # the test fixtures aren't present on this machine)
    import os

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    if Path(sf, "documents.parquet").exists():
        from equi7grid_spark.queries import queries

        curated = queries()["corpus_curation"](spark, sf)
        assert curated.count() > 0
    else:
        print(f"(skipping documents flows: no fixtures at {sf})")

    # -- image near-dup dedup (round 3): pixels -> perceptual hash ->
    #    exact banded hamming pairs
    from equi7grid_spark.dedup import phash_near_dup
    from equi7grid_spark.images import synthetic_images
    from equi7grid_spark.operators.multimodal import compute_phash, transcode_images

    imgs = synthetic_images(spark, 300, with_bytes=True)
    lossy = transcode_images(imgs.limit(30), "q8").withColumn(
        "image_id", F.concat("image_id", F.lit("_q8"))
    )
    both = imgs.select("image_id", "bytes", "fmt", "w", "h").unionByName(
        lossy.select("image_id", "bytes", "fmt", "w", "h")
    )
    pairs = phash_near_dup(compute_phash(both), max_hamming=3)
    n_pairs = pairs.count()
    assert n_pairs >= 28  # the 30 planted lossy re-encodes dominate
    print(f"image near-dup pairs found: {n_pairs}")

    # hot-bucket skew audit (round 4): run before a large dedup to
    # size phash_near_dup's chunk_size
    from equi7grid_spark.dedup import phash_band_occupancy

    occ = phash_band_occupancy(compute_phash(both)).first()
    assert occ.n_rows >= 1

    # transitive clustering + canonical keep (round 5): the curation
    # closer — near-dup pairs are not an equivalence relation, so
    # canonical selection needs the connected-component closure
    from equi7grid_spark.dedup import phash_dup_clusters

    hashed = compute_phash(both)
    clusters = phash_dup_clusters(hashed, max_hamming=3)
    noncanon = clusters.filter(
        F.col("cluster_id") != F.col("image_id")
    ).select("image_id")
    kept = hashed.join(noncanon, "image_id", "left_anti")
    print(f"canonical images kept: {kept.count()} of {both.count()}")

    # -- inverse projection at table scale (round 4): xy -> lonlat in
    #    the compiled kernel; the forward-inverse roundtrip closes
    from equi7grid_spark.operators import kernel

    order = ("AF", "AN", "AS", "EU", "OC", "NA", "SA")
    pts = assigned.select(
        (
            F.array_position(
                F.array(*[F.lit(c) for c in order]), F.col("subgrid")
            )
            - 1
        ).cast("tinyint").alias("zc"),
        "x", "y",
        F.col("lon").alias("lon0"),
        F.col("lat").alias("lat0"),
    ).limit(1000)
    ll = kernel.lonlat_col(F.col("zc"), F.col("x"), F.col("y"))
    inv = pts.select("lon0", "lat0", ll[0].alias("lon"), ll[1].alias("lat"))
    dlon_raw = F.abs(F.col("lon") - F.col("lon0"))
    row = inv.agg(
        F.max(F.least(dlon_raw, 360.0 - dlon_raw)).alias("dlon"),
        F.max(F.abs(F.col("lat") - F.col("lat0"))).alias("dlat"),
    ).collect()[0]
    assert row.dlon < 1e-6 and row.dlat < 1e-6
    print(f"roundtrip closure: dlon={row.dlon:.2e} dlat={row.dlat:.2e}")

    # -- iceberg-lite snapshot time travel (round 5): overwrite one
    #    continent, read both table versions, expire history
    from equi7grid_spark.table.manifest import IcebergLiteTable

    with tempfile.TemporaryDirectory() as d:
        t = IcebergLiteTable(f"{d}/tiles")
        counts = assigned.groupBy("subgrid").count()
        # stat_cols records per-partition min/max for manifest pruning
        m1 = t.write_partitioned(counts, "subgrid", stat_cols=["count"])
        t.write_partitioned(
            counts.filter(F.col("subgrid") == "EU").withColumn(
                "count", F.col("count") * 0
            ),
            "subgrid",
            resume=False,
        )
        eu_now = t.read(spark).filter(F.col("subgrid") == "EU").first()
        eu_then = (
            t.read(spark, snapshot_id=m1["snapshot_id"])
            .filter(F.col("subgrid") == "EU")
            .first()
        )
        assert eu_now["count"] == 0 and eu_then["count"] > 0
        assert len(t.snapshots()) == 2
        mc = t.compact(spark)  # bin-pack the 2-directory read set
        assert (mc["dirs_before"], mc["dirs_after"]) == (2, 1)
        # pin the compacted state as a named, retention-proof version;
        # the maintenance planner confirms nothing is fragmented
        t.tag("quickstart-v1")
        assert t.read(spark, tag="quickstart-v1").count() == 7
        assert t.plan_compaction()["rewrite"] == []
        t.expire_snapshots(keep_last=1)
        # manifest-stat pruning (round 6): plan the scan from metadata
        # alone, then verify the pruned read equals read+filter (the
        # EU entry was overwritten without stats -> conservatively kept)
        kept, skipped = t.plan_scan(prune={"count": (1, None)})
        pruned = sorted(
            map(
                tuple,
                t.read(spark, prune={"count": (1, None)})
                .where("count >= 1")
                .collect(),
            )
        )
        full = sorted(
            map(tuple, t.read(spark).where("count >= 1").collect())
        )
        assert pruned == full and len(kept) + len(skipped) == 7
        print(f"time travel: EU {eu_then['count']} -> {eu_now['count']}")
        print(
            f"manifest pruning: kept {len(kept)}/7 partitions for count>=1"
        )
        # row-level ops + schema evolution (round 6): metadata-only
        # ADD COLUMN with an initial default, copy-on-write DELETE that
        # rewrites only the matching partition, MERGE upsert
        base_id = t.current_manifest()["snapshot_id"]
        t.add_columns({"qa": "double"}, defaults={"qa": 1.0})
        md = t.delete_where(spark, F.col("subgrid") == "AN")
        assert "AN" not in t.committed_partitions()
        src = t.read(spark).where("subgrid = 'EU'").withColumn(
            "qa", F.lit(0.25)
        )
        t.merge_upsert(spark, src, ["subgrid"])
        qa = {r[0]: r[1] for r in t.read(spark).select("subgrid", "qa").collect()}
        assert qa["EU"] == 0.25 and qa["NA"] == 1.0  # default fills pre-add rows
        print(
            f"row-level ops: deleted {md['deleted_rows']} AN rows, "
            f"merged EU qa={qa['EU']}, schema={t.read(spark).columns}"
        )
        # incremental consumption: what changed since the pre-ops
        # snapshot (the schema commit is data-neutral, re-feeds nothing)
        ch = t.changes(base_id)
        cdc = t.read_changes(spark, base_id, mode="changed_partitions")
        assert "AN" in ch["dropped"] and "EU" in ch["rewritten"]
        print(
            f"incremental: rewritten={ch['rewritten']} "
            f"dropped={ch['dropped']} cdc_rows={cdc.count()}"
        )

    spark.stop()
    print("spark flows: OK")


if __name__ == "__main__":
    scalar_flows()
    spark_flows()
    print("quickstart: all flows verified")
