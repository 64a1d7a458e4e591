"""The workloads. Each one generates its inputs from the seed, loads
them into a session, and runs closed-loop op cycles: one client that
issues the next op only when the previous one returned. Every op
materializes its whole output (a collect of the checked result) and is
checked; a traced cycle runs the same layer calls with a span around
each and with lazy layers forced at their boundary.

Op kinds per workload: `main` is the job the workload exists for, `side`
the smaller follow-up op a user issues next to it; other kinds (ROI reads,
table maintenance) are checked the same way and reported in the run
record's details.
"""

from __future__ import annotations

import hashlib
import json
import shutil
from pathlib import Path

import pandas as pd
from pyspark.sql import functions as F

from equi7grid_spark import roi
from equi7grid_spark.dedup import connected_components, multimodal_near_dup
from equi7grid_spark.jobs import assign_and_join
from equi7grid_spark.operators.assign_jvm import assign_tiles_jvm, tile_counts_jvm
from equi7grid_spark.operators.join import join_tile_catalog
from equi7grid_spark.operators.multimodal import compute_phash
from equi7grid_spark.table.manifest import IcebergLiteTable
from equi7grid_spark.warp.resample import resample_to_equi7_tiles

import inputs
from harness import median, tail_percentile

TILING = "T6"


class Workload:
    """Shared op-cycle plumbing. Subclasses define load (per session),
    warmup (once), cycle (the ops of one turn of the measured loop), finish
    (once, after the window) and the items one main op processes;
    `self.ctx` carries spark, the op log and the tracer."""

    name = ""
    items_per_main = 0

    def bind(self, ctx) -> None:
        self.ctx = ctx

    def span(self, name: str):
        return self.ctx.tracer.span(name)

    def op(self, kind: str, fn, check=None):
        return self.ctx.log.run(kind, fn, check)

    def details(self) -> dict:
        return {}

    def finish(self, traced: bool) -> None:
        pass


def _udf_seconds(spark) -> float:
    """Python UDF time the perf profiler gathered since the last clear."""
    res = spark._profiler_collector._perf_profile_results
    total = sum(st.total_tt for st in res.values() if st is not None)
    spark.profile.clear()
    return float(total)


# -- assign_ingest -------------------------------------------------------


class AssignIngest(Workload):
    """Tile assignment at both ends of its cost curve, beside the table it
    feeds. The main op is the north-star job (jobs.assign_and_join.run)
    over a metadata-only image table: per-row zone resolve and projection
    in the JVM kernel, one shuffle, a broadcast catalog join, no Python
    workers. The side op is an ingest commit: a regional batch goes
    through assign_tiles_jvm, where fixed per-call cost dominates, and
    merge_upsert into a subgrid-partitioned table. Each commit is followed
    by two ROI reads (roi tile search, pruned manifest read, exact
    tilename filter). A traced run compacts and expires snapshots after
    the window."""

    name = "assign_ingest"
    ROWS = 600_000
    # every seed ingests into the same region (western Europe), so the
    # share of rows in zone-boundary cells, which take the exact pandas
    # PIP path, is the same in every run
    INGEST_REGION = 0
    N_BATCHES = 10
    BATCH_ROWS = 10_000
    UPDATE_SHARE = 0.2
    MAINS_PER_CYCLE = 2
    READS_PER_COMMIT = 2
    CHECK_EVERY_READS = 2
    ROI_SPAN_DEG = 2.0
    COMPACT_FILE_ROWS = 8_000
    STAT_COLS = ["ll_x", "ll_y"]

    def __init__(self, seed: int, work: Path):
        self.bulk_dir = inputs.bulk_table(seed, self.ROWS, files=8)
        self.golden_counts = json.loads((self.bulk_dir / "golden.json").read_text())["tile_counts"]
        self.ingest_dir = inputs.ingest_batches(
            seed, self.INGEST_REGION, self.N_BATCHES, self.BATCH_ROWS, self.UPDATE_SHARE
        )
        self.golden_ingest = json.loads((self.ingest_dir / "golden.json").read_text())
        names = pd.read_parquet(self.ingest_dir / "b000_tilenames.parquet")
        self.golden_names = set(zip(names["image_id"], names["tilename"]))
        # reads after a commit look at the region the batch landed in
        self.boxes = inputs.roi_boxes(
            seed, [g["region"] for g in self.golden_ingest], self.READS_PER_COMMIT,
            self.ROI_SPAN_DEG,
        )
        self.work = work
        self.items_per_main = self.ROWS
        self.space_amp: list[float] = []

    def load(self) -> None:
        spark = self.ctx.spark
        self.path = str(self.bulk_dir / "table")
        spark.read.parquet(self.path).schema  # resolves footers once
        self._batch(0).schema

    def _batch(self, b: int):
        return self.ctx.spark.read.parquet(str(self.ingest_dir / "batches" / f"b{b:03d}.parquet"))

    # bulk pass

    def _check_totals(self, stats: dict) -> bool:
        """Totals of run(): images and tiles equal the NumPy reference
        path's in-zone rows and distinct tiles."""
        golden = self.golden_counts
        return stats["images"] == sum(golden.values()) and stats["tiles"] == len(golden)

    def _check_counts(self, rows: list) -> bool:
        """Per-tile counts equal the NumPy reference path's, tile by tile."""
        counts = {r.tilename: r.n for r in rows}
        return len(counts) == len(rows) and counts == self.golden_counts

    def _main(self, traced: bool):
        spark = self.ctx.spark
        if not traced:
            return self.op("main", lambda: assign_and_join.run(spark, self.path, TILING),
                           self._check_totals)

        def run():
            # the two layers of run(), with the shuffle output forced
            # between them; AQE off as run() has it
            prev = spark.conf.get("spark.sql.adaptive.enabled")
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            try:
                with self.span("operators.assign_jvm.tile_counts_jvm"):
                    counts = tile_counts_jvm(spark.read.parquet(self.path), tiling_id=TILING)
                    counts = counts.localCheckpoint()
                with self.span("operators.join.join_tile_catalog"):
                    return join_tile_catalog(counts, spark, TILING, how="left").collect()
            finally:
                spark.conf.set("spark.sql.adaptive.enabled", prev)

        return self.op("main", run, self._check_counts)

    # ingest commits

    def _create(self) -> list:
        """A fresh table holding batch 0; returns its (image_id, tilename)
        rows for the check against the NumPy reference path."""
        root = self.work / "table"
        shutil.rmtree(root, ignore_errors=True)
        self.table = IcebergLiteTable(root)
        self.table.write_partitioned(
            assign_tiles_jvm(self._batch(0), tiling_id=TILING), "subgrid",
            stat_cols=self.STAT_COLS,
        )
        self.next_batch = 1
        self.n_reads = self.reads_before_last_commit = 0
        return self.table.read(self.ctx.spark).select("image_id", "tilename").collect()

    def _check_table(self, b: int) -> bool:
        """Row count and content checksum equal last-writer-wins over
        batches 0..b."""
        row = self.table.read(self.ctx.spark).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.crc32(F.concat_ws("|", "image_id", F.col("version").cast("string"),
                                      "caption"))).alias("crc"),
        ).collect()[0]
        g = self.golden_ingest[b]
        return row.n == g["rows"] and int(row.crc) == g["crc_sum"]

    def _commit(self, traced: bool):
        spark = self.ctx.spark
        b = self.next_batch
        if b >= self.N_BATCHES:
            raise RuntimeError("assign_ingest ran out of pre-generated batches")
        self.next_batch += 1

        def commit():
            with self.span("operators.assign_jvm.assign_tiles_jvm"):
                assigned = assign_tiles_jvm(self._batch(b), tiling_id=TILING)
                if traced:
                    assigned = assigned.localCheckpoint()
            with self.span("table.manifest.merge_upsert") as s:
                m = self.table.merge_upsert(spark, assigned, ["image_id"],
                                            stat_cols=self.STAT_COLS)
                if s is not None:
                    s.counts["bytes_written"] = self._written_bytes(m)
                    s.counts["manifest_bytes"] = self._manifest_bytes(m)
            return m

        self.reads_before_last_commit = self.n_reads
        return self.op("side", commit, lambda m: self._check_table(b))

    def _written_bytes(self, manifest: dict) -> int:
        snap = f"snap-{manifest['snapshot_id']}"
        return sum(
            f.get("bytes", 0)
            for p in manifest["partitions"] if p["snap_dir"] == snap
            for f in p.get("files") or []
        )

    def _manifest_bytes(self, manifest: dict) -> int:
        return (self.table.manifest_dir / f"manifest-{manifest['snapshot_id']}.json").stat().st_size

    def _read(self, traced: bool):
        spark = self.ctx.spark
        reads_here = self.n_reads - self.reads_before_last_commit
        box = self.boxes[self.next_batch - 1][reads_here % self.READS_PER_COMMIT]
        self.n_reads += 1
        table = _TracedPlanScan(self.table, self) if traced else self.table
        names = []

        def read():
            with self.span("roi.get_tiles_in_geog_bbox") as s:
                tiles = roi.get_tiles_in_geog_bbox(box, TILING)
                if s is not None:
                    s.counts["tiles_out"] = len(tiles)
            names.extend(t.tilename for t in tiles)
            prune = {
                "ll_x": (min(t.ll_x for t in tiles), max(t.ll_x for t in tiles)),
                "ll_y": (min(t.ll_y for t in tiles), max(t.ll_y for t in tiles)),
            }
            with self.span("table.manifest.read"):
                df = IcebergLiteTable.read(table, spark, prune=prune)
                return df.filter(F.col("tilename").isin(names)).collect()

        def check(rows):
            if any(r.tilename not in names for r in rows):
                return False
            if self.n_reads % self.CHECK_EVERY_READS:
                return True
            full = self.table.read(spark).filter(F.col("tilename").isin(names)).count()
            return full == len(rows)

        return self.op("read", read, check)

    def _maintain(self, traced: bool):
        spark = self.ctx.spark
        self.space_amp.append(self._space_amp())

        def maintain():
            with self.span("table.manifest.compact") as s:
                m = self.table.compact(spark, target_file_rows=self.COMPACT_FILE_ROWS,
                                       sort_cols=self.STAT_COLS)
                if s is not None:
                    s.counts["bytes_rewritten"] = m["bytes_after"]
            with self.span("table.manifest.expire_snapshots"):
                return self.table.expire_snapshots(keep_last=1)

        b = self.next_batch - 1
        return self.op("maintain", maintain, lambda m: self._check_table(b))

    def _space_amp(self) -> float:
        """Bytes under the table root over the bytes of the files the live
        manifest references."""
        total = sum(f.stat().st_size for f in Path(self.table.root).rglob("*") if f.is_file())
        m = self.table.current_manifest()
        live = sum(
            (self.table.data_dir / p["snap_dir"] / f["path"]).stat().st_size
            for p in m["partitions"] for f in p.get("files") or []
        )
        return total / live

    def warmup(self) -> None:
        # a bulk pass, then the per-tile counts of the kernel entry run()
        # uses, checked tile by tile (a measured pass returns only totals)
        spark = self.ctx.spark
        self.op("warmup", lambda: assign_and_join.run(spark, self.path, TILING),
                self._check_totals)
        self.op("warmup",
                lambda: tile_counts_jvm(spark.read.parquet(self.path), tiling_id=TILING).collect(),
                self._check_counts)
        self.op("warmup", self._create,
                lambda rows: {(r.image_id, r.tilename) for r in rows} == self.golden_names)
        # a first merge into an existing partition, so that the measured
        # commit runs plans that were compiled before
        self._commit(False)
        self._read(False)

    def cycle(self, traced: bool) -> list:
        return ([lambda: self._main(traced)] * self.MAINS_PER_CYCLE
                + [lambda: self._commit(traced)]
                + [lambda: self._read(traced)] * self.READS_PER_COMMIT)

    def finish(self, traced: bool) -> None:
        """In a traced run, compaction and snapshot expiry once after the
        window, as the maintenance a table gets after a burst of commits.
        No end-to-end metric includes it, so an untraced run only measures
        the space amplification that maintenance would remove."""
        if traced:
            self._maintain(traced)
        else:
            self.space_amp.append(self._space_amp())

    def details(self) -> dict:
        reads = self.ctx.log.times.get("read", [])
        return {
            "roi_read_p50_s": median(reads) if reads else None,
            "roi_read_p90_s": tail_percentile(reads, 90),
            "space_amp": median(self.space_amp) if self.space_amp else None,
        }


# -- image_curation ------------------------------------------------------


class ImageCuration(Workload):
    """CLIP-style curation: decode + phash (Python UDF), three-signal
    near-dup pairs, connected components; between passes a warp of a
    skewed EPSG:4326 raster set onto Equi7 tiles (Python UDF, fan-out
    shuffle). No zone assignment."""

    name = "image_curation"
    N_BASE = 1_500
    DUP_SHARE = 0.25
    SIDES_PER_CYCLE = 2
    N_SMALL_RASTERS = 6
    BIG_RASTER_TILES = 4
    WARP_SAMPLING = 2000.0
    RASTER_SCHEMA = (
        "image_id string, bytes binary, fmt string, dtype string, w int, h int,"
        " crs string, x_min double, y_min double, x_max double, y_max double,"
        " nodata double"
    )

    def __init__(self, seed: int, work: Path):
        self.dir = inputs.curation_corpus(seed, self.N_BASE, self.DUP_SHARE, emb_dim=16)
        self.groups = json.loads((self.dir / "groups.json").read_text())
        self.rasters, golden = inputs.raster_set(
            seed, self.N_SMALL_RASTERS, self.BIG_RASTER_TILES, TILING
        )
        self.golden_tiles = {
            (rid, sub, name)
            for rid, tiles in zip(self.rasters["image_id"], golden)
            for sub, name in tiles
        }
        self.n_images = json.loads((self.dir / "DONE").read_text())["images"]
        self.items_per_main = self.n_images
        self.cluster_hash = None

    def load(self) -> None:
        spark = self.ctx.spark
        self.corpus_path = str(self.dir / "corpus.parquet")
        spark.read.parquet(self.corpus_path).schema  # resolves the footer
        self.raster_df = spark.createDataFrame(self.rasters, schema=self.RASTER_SCHEMA)

    def _check_clusters(self, rows: list) -> bool:
        lab = {r.id: r.lab for r in rows}
        for g in self.groups:
            if len({lab.get(m) for m in g}) != 1 or lab.get(g[0]) is None:
                return False
        h = hashlib.sha1(repr(sorted(lab.items())).encode()).hexdigest()
        if self.cluster_hash is None:
            self.cluster_hash = h
        return h == self.cluster_hash

    def _main(self, traced: bool):
        spark = self.ctx.spark

        def curate():
            corpus = spark.read.parquet(self.corpus_path)
            with self.span("operators.multimodal.compute_phash") as s:
                ph = compute_phash(corpus)
                if traced:
                    ph = ph.localCheckpoint()
                    s.counts["python_udf_s"] = _udf_seconds(spark)
            imgs = corpus.drop("phash").join(ph, "image_id")
            with self.span("dedup.multimodal_near_dup") as s:
                pairs = multimodal_near_dup(imgs, embedding_col="embedding")
                if traced:
                    pairs = pairs.localCheckpoint()
                    s.counts["python_udf_s"] = _udf_seconds(spark)
                    s.counts["pairs_out"] = pairs.count()
            with self.span("dedup.connected_components"):
                return connected_components(pairs.select("id_a", "id_b")).collect()

        return self.op("main", curate, self._check_clusters)

    def _side(self, traced: bool):
        spark = self.ctx.spark

        def warp():
            with self.span("warp.resample.resample_to_equi7_tiles") as s:
                out = resample_to_equi7_tiles(
                    self.raster_df, TILING, self.WARP_SAMPLING
                ).select("image_id", "subgrid", "tilename", "n_valid").collect()
                if traced:
                    s.counts["python_udf_s"] = _udf_seconds(spark)
                return out

        def check(rows):
            got = {(r.image_id, r.subgrid, r.tilename) for r in rows}
            return len(rows) == len(got) and got == self.golden_tiles

        return self.op("side", warp, check)

    def warmup(self) -> None:
        # two passes at full size: every connected-components round is a
        # new plan, and the second pass still spends about 25% more
        # non-JIT CPU than later ones
        self._main(False)
        self._main(False)
        self._side(False)

    def cycle(self, traced: bool) -> list:
        return [lambda: self._main(traced)] + [lambda: self._side(traced)] * self.SIDES_PER_CYCLE

    def details(self) -> dict:
        warps = self.ctx.log.times.get("side", [])
        return {
            "warp_tiles_per_s": len(self.golden_tiles) / median(warps) if warps else None,
            "images": self.n_images,
            "planted_groups": len(self.groups),
        }


class _TracedPlanScan:
    """Proxy of a table whose plan_scan runs inside a span, so that a
    traced read() splits into its planning and its Spark work."""

    def __init__(self, table: IcebergLiteTable, wl: Workload):
        self._table = table
        self._wl = wl

    def __getattr__(self, name):
        return getattr(self._table, name)

    def plan_scan(self, snapshot_id=None, prune=None):
        with self._wl.span("table.manifest.plan_scan") as s:
            kept, skipped = self._table.plan_scan(snapshot_id, prune)
            n_kept = sum(len(p.get("files") or []) for p in kept)
            n_all = n_kept + sum(p.get("files_pruned", 0) for p in kept) + sum(
                len(p.get("files") or []) for p in skipped
            )
            s.counts["files_kept_frac"] = n_kept / n_all if n_all else 1.0
            return kept, skipped


WORKLOADS = {w.name: w for w in (AssignIngest, ImageCuration)}
