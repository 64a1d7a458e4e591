"""The flagship spark-submit job: tile-assignment + spatial join.

Ships as ``spark-submit --py-files equi7grid_spark.zip
equi7grid_spark/jobs/assign_and_join.py --input <images parquet>``
(north rule: packaged job, resumable, lineage-checkpointed).

Pipeline: images table → one compiled call per row
(`equi7_zone_tile_key`: zone resolve + AEQD forward + tile key, see
operators/kernel) → per-tile counts on the packed long key → broadcast
join against the tile catalog (covers_land) → optional iceberg-lite
partitioned sink with per-partition lineage + resume.

Skew handling: the output shuffle keys on the packed (zc, tx, ty) key —
~10^3-10^5 distinct tiles, partially aggregated map-side — so hot
continental zones are split by tile (run() turns AQE off for this
fixed two-stage layout). Per-(image, tile) work is spread differently: the warp
repartitions its planned (image, tile) rows over the session's
parallelism (warp/resample.py), and `operators/partitioning.mosaic_tiles`
salts hot tiles for the per-tile merge.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from pyspark.sql import functions as F  # noqa: E402

from equi7grid_spark.operators.assign_jvm import tile_counts_jvm  # noqa: E402
from equi7grid_spark.operators.join import join_tile_catalog  # noqa: E402
from equi7grid_spark.session import get_spark  # noqa: E402
from equi7grid_spark.table.manifest import IcebergLiteTable  # noqa: E402


def run(
    spark,
    input_path: str,
    tiling_id: str = "T6",
    output_root: str | None = None,
    *,
    resume: bool = True,
    incremental_commit: bool = False,
) -> dict:
    t0 = time.time()
    # AQE's per-stage re-planning adds ~2s of scheduler idle to this short
    # two-stage job with a fixed, known shuffle layout; disable locally.
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        images = spark.read.parquet(input_path)
        counts = tile_counts_jvm(images, tiling_id=tiling_id)
        joined = join_tile_catalog(counts, spark, tiling_id, how="left")

        if output_root:
            table = IcebergLiteTable(output_root)
            meta = {"input": input_path, "tiling_id": tiling_id, "job": "assign_and_join"}
            # manifest stats on the tile lower-left coords: a reader with a
            # projected-bbox predicate prunes whole (snapshot, subgrid)
            # pairs from metadata (read(prune={"ll_x": ..., "ll_y": ...}))
            # before any file listing — folded from the written files'
            # parquet footers, so they cost no pass over the data
            stat_cols = ["ll_x", "ll_y"]
            if incremental_commit:
                # one manifest flip per subgrid: a kill mid-job resumes
                # with the committed continents skipped (scripts/
                # resume_kill_run.py is the at-scale evidence run)
                manifest = table.write_partitioned_incremental(
                    joined, "subgrid", meta=meta, resume=resume,
                    stat_cols=stat_cols,
                )
            else:
                manifest = table.write_partitioned(
                    joined, "subgrid", meta=meta, resume=resume,
                    stat_cols=stat_cols,
                )
            total = manifest["total_rows"]
            stats = {
                "tiles": int(total),
                "snapshot_id": manifest["snapshot_id"],
                "skipped_resume": manifest["skipped_resume"],
            }
        else:
            row = joined.agg(
                F.count(F.lit(1)).alias("tiles"), F.sum("n").alias("images")
            ).collect()[0]
            stats = {"tiles": int(row.tiles), "images": int(row.images)}
        stats["seconds"] = round(time.time() - t0, 3)
        if "images" in stats:
            stats["images_per_sec"] = round(stats["images"] / stats["seconds"], 1)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    return stats


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--tiling-id", default="T6")
    ap.add_argument("--output", default=None)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--incremental-commit", action="store_true")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()
    spark = get_spark(app_name="equi7_assign_and_join", master=args.master)
    stats = run(
        spark,
        args.input,
        args.tiling_id,
        args.output,
        resume=not args.no_resume,
        incremental_commit=args.incremental_commit,
    )
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
