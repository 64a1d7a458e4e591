"""Compaction + manifest-pruning read A/B (round 6): how much does the
accumulated multi-directory read set cost, does compact() recover it,
and what does manifest-stat pruning save on a ranged read?

Builds an iceberg-lite table the way a long-running incremental/
streaming pipeline does — N_COMMITS commits, each committing a slice
of partitions into its OWN snapshot directory — then times (a) a full
read+aggregate BEFORE and AFTER compact() (the pre-compaction read
opens one path per (directory, partition) pair; post-compaction scans
one directory), and (b) a narrow range query over the stat column via
plain read+filter vs read(prune=...)+filter. Layout note: v is
CLUSTERED by partition (contiguous id chunks) so per-partition
[min, max] ranges are disjoint — the layout under which manifest
stats can prune at all; under an `id % n` layout every partition
spans the full v range and stats keep everything, which is exactly
Iceberg's write-ordering lesson. Prints one JSON line.

Usage: python scripts/bench_compaction.py [rows] [n_parts] [n_commits]
"""

from __future__ import annotations

import json
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402

from equi7grid_spark.session import get_spark  # noqa: E402
from equi7grid_spark.table.manifest import IcebergLiteTable  # noqa: E402


def timed_read(spark, t: IcebergLiteTable) -> tuple[float, int]:
    t0 = time.time()
    n = t.read(spark).groupBy("part").agg(F.sum("v")).count()
    return time.time() - t0, n


def main() -> None:
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000_000
    n_parts = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    n_commits = int(sys.argv[3]) if len(sys.argv) > 3 else 64
    spark = get_spark(app_name="compaction_ab", master="local[32]",
                      shuffle_partitions=64)
    with tempfile.TemporaryDirectory() as d:
        t = IcebergLiteTable(f"{d}/tbl")
        chunk = rows // n_parts
        df = spark.range(rows).select(
            F.concat(
                F.lit("p"),
                F.lpad(
                    F.least(
                        F.floor(F.col("id") / chunk), F.lit(n_parts - 1)
                    ).cast("string"),
                    3,
                    "0",
                ),
            ).alias("part"),
            F.col("id").alias("v"),
        ).localCheckpoint()
        # one snapshot per partition group, the incremental/streaming shape
        t.write_partitioned_incremental(
            df, "part", group_size=max(1, n_parts // n_commits),
            materialize=False, stat_cols=["v"],
        )
        m = t.current_manifest()
        dirs_before = len({p["snap_dir"] for p in m["partitions"]})
        timed_read(spark, t)  # warm
        pre, n1 = timed_read(spark, t)
        pre2, _ = timed_read(spark, t)

        # manifest-pruning A/B on the multi-dir table: one 1/64-width
        # v window; same row filter both sides, only the scan set moves
        lo, hi = 10 * chunk, 11 * chunk - 1
        pred = f"v BETWEEN {lo} AND {hi}"

        def timed_range(prune):
            t0 = time.time()
            n = t.read(spark, prune=prune).where(pred).count()
            return time.time() - t0, n

        kept, skipped = t.plan_scan(prune={"v": (lo, hi)})
        timed_range(None)  # warm
        full_a, nf = timed_range(None)
        full_b, _ = timed_range(None)
        pruned_a, np_ = timed_range({"v": (lo, hi)})
        pruned_b, _ = timed_range({"v": (lo, hi)})
        assert nf == np_ == chunk

        cm = t.compact(spark, target_file_rows=5_000_000)
        timed_read(spark, t)  # warm
        post, n2 = timed_read(spark, t)
        post2, _ = timed_read(spark, t)
        assert n1 == n2 == n_parts

        # file-grain pruning A/B: sort-order compact rolls each
        # partition into ~8 files covering disjoint v ranges, then a
        # 1/16-partition-width range read — partition-grain pruning
        # keeps one partition (all its files); file-grain keeps ~1 file
        t.compact(spark, target_file_rows=max(1, chunk // 8),
                  sort_cols=["v"])
        sub_lo, sub_hi = 10 * chunk, 10 * chunk + chunk // 16
        pred2 = f"v BETWEEN {sub_lo} AND {sub_hi}"

        def timed_sub(prune):
            t0 = time.time()
            n = t.read(spark, prune=prune).where(pred2).count()
            return time.time() - t0, n

        kept_f, _ = t.plan_scan(prune={"v": (sub_lo, sub_hi)})
        files_total = sum(
            len(p["files"])
            for p in t.current_manifest()["partitions"]
        )
        files_kept = sum(len(p["files"]) for p in kept_f)
        timed_sub(None)  # warm
        sub_full_a, ns1 = timed_sub(None)
        sub_full_b, _ = timed_sub(None)
        sub_pr_a, ns2 = timed_sub({"v": (sub_lo, sub_hi)})
        sub_pr_b, _ = timed_sub({"v": (sub_lo, sub_hi)})
        assert ns1 == ns2 == chunk // 16 + 1
        # manifest byte cost per commit pre/post
        man_bytes = sum(
            f.stat().st_size for f in (Path(d) / "tbl" / "_manifests").glob("*.json")
        )
        print(json.dumps({
            "metric": "compaction_read_ab",
            "rows": rows,
            "n_parts": n_parts,
            "dirs_before": dirs_before,
            "dirs_after": 1,
            "files_before": cm["files_before"],
            "files_after": cm["files_after"],
            "read_pre_compact_sec": round(min(pre, pre2), 3),
            "read_post_compact_sec": round(min(post, post2), 3),
            "range_read_full_sec": round(min(full_a, full_b), 3),
            "range_read_pruned_sec": round(min(pruned_a, pruned_b), 3),
            "prune_partitions_kept": len(kept),
            "prune_partitions_skipped": len(skipped),
            "filegrain_files_total": files_total,
            "filegrain_files_kept": files_kept,
            "filegrain_range_full_sec": round(min(sub_full_a, sub_full_b), 3),
            "filegrain_range_pruned_sec": round(min(sub_pr_a, sub_pr_b), 3),
            "manifest_bytes_on_disk": man_bytes,
        }))
    spark.stop()


if __name__ == "__main__":
    main()
