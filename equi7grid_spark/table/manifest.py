"""Iceberg-lite table layer: snapshots, per-partition lineage, resume.

Real Iceberg jars are unavailable offline (SURVEY.md §7.0), so the
engine ships a thin snapshot/manifest layer over parquet with the same
operational contract the north rule demands: every run records
per-partition lineage (partition key, row count, duration, input) in
its manifest, commits are atomic, and a restarted job anti-joins away
already-committed partitions.

Manifest entries come from the files a write produced: after the
partitionBy write, each ``<col>=<value>`` directory becomes one entry
whose file records, row count and optional min/max stats are read from
the parquet footers — the write is the only pass over the data, and the
range metadata the pruner uses lives with the stored files (as in
DGFIndex). Every manifest records ``partition_col``, ``schema`` and
``column_defaults``, and every entry lists at least one file.

Atomicity model (Iceberg's, in miniature): each write lands its data
files in a NEW per-snapshot directory ``data/snap-<id>/``; the manifest
records which snapshot directory owns each partition, and ``read()``
reads ONLY the (directory, partition) pairs the manifest references —
so overwriting a partition (resume=False) hides its stale copy in the
older directory without rewriting it. The pointer flip (rename of
CURRENT) is the commit — a crash between the data write and the flip
leaves an orphan snapshot directory that is invisible to readers and
is garbage-collected by the next resumed write (a directory referenced
by ANY manifest on disk is history, not an orphan). Manifests chain
via parent_id: ``read(spark, snapshot_id=...)`` time-travels,
``snapshots()`` lists the chain, ``expire_snapshots(keep_last=N)``
bounds retention by deleting expired manifests plus directories only
they referenced. Swapping in real Iceberg later only replaces this
module's IO.

Layout under <root>/:
  data/snap-<id>/subgrid=<CC>/...parquet   per-snapshot data files
  _manifests/manifest-<id>.json            snapshot: partitions + stats
  _manifests/CURRENT                       pointer to the live manifest
"""

from __future__ import annotations

import datetime
import decimal
import json
import shutil
import time
import uuid
from functools import reduce
from pathlib import Path
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StructField, StructType


def _json_scalar(v):
    """JSON-safe copy of an aggregated stat value. Non-JSON types
    degrade order-preservingly where possible: dates/timestamps to ISO
    strings (lexicographic == chronological), Decimal to float;
    anything else to str()."""
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat(sep=" ") if isinstance(v, datetime.datetime) else v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    return str(v)


def _range_may_match(stats: dict | None, lo, hi) -> bool:
    """Conservative manifest-pruning test: keep the partition unless
    its recorded [min, max] provably cannot intersect [lo, hi]. Missing
    or NULL stats, open bounds, and cross-type comparisons all keep."""
    if not stats:
        return True
    mn, mx = stats.get("min"), stats.get("max")
    try:
        if lo is not None and mx is not None and mx < lo:
            return False
        if hi is not None and mn is not None and mn > hi:
            return False
    except TypeError:  # stored type vs bound type mismatch: keep
        return True
    return True


def _fold_stats(per_file: list[dict | None]) -> dict:
    """Partition-grain {min, max} of one column from its per-file
    stats; None marks a file without usable footer stats, which makes
    both bounds unknown (None)."""
    if any(s is None for s in per_file):
        return {"min": None, "max": None}
    mins = [s["min"] for s in per_file if s["min"] is not None]
    maxs = [s["max"] for s in per_file if s["max"] is not None]
    return {"min": min(mins, default=None), "max": max(maxs, default=None)}


def _entry_bytes(entry: dict) -> int:
    return sum(f["bytes"] for f in entry["files"])


class IcebergLiteTable:
    def __init__(self, root: str | Path):
        self.root = Path(root)
        self.manifest_dir = self.root / "_manifests"
        self.data_dir = self.root / "data"

    # -- manifest IO --------------------------------------------------
    def current_manifest(self) -> dict | None:
        cur = self.manifest_dir / "CURRENT"
        if not cur.exists():
            return None
        return json.loads((self.manifest_dir / cur.read_text().strip()).read_text())

    def committed_partitions(self) -> set[str]:
        m = self.current_manifest()
        if not m:
            return set()
        return {p["partition"] for p in m["partitions"]}

    def _manifest_files(self) -> list[Path]:
        if not self.manifest_dir.exists():
            return []
        return sorted(self.manifest_dir.glob("manifest-*.json"))

    def manifest_by_id(self, snapshot_id: str) -> dict:
        """Load a manifest by snapshot id (time travel); raises
        FileNotFoundError for unknown/expired ids AND for orphan
        manifests (written by a crash between the manifest write and
        the CURRENT flip): only ids on the committed parent_id chain
        are servable — uncommitted writes are never visible (ADVICE
        r5)."""
        f = self.manifest_dir / f"manifest-{snapshot_id}.json"
        if not f.exists():
            raise FileNotFoundError(
                f"snapshot {snapshot_id!r} not found under {self.manifest_dir} "
                "(never committed, or expired by expire_snapshots)"
            )
        if (
            snapshot_id not in self._chain_ids()
            and snapshot_id not in set(self.tags().values())
            and snapshot_id not in self.staged()
        ):
            raise FileNotFoundError(
                f"snapshot {snapshot_id!r} exists on disk but is not on the "
                "committed snapshot chain (orphan from a crashed commit) — "
                "never visible to readers; gc_uncommitted removes it"
            )
        return json.loads(f.read_text())

    def _chain_ids(self) -> set[str]:
        return {s["snapshot_id"] for s in self.snapshots()}

    def _require_manifest(self, snapshot_id: str | None = None) -> dict:
        """The manifest of `snapshot_id` (CURRENT when None); raises
        FileNotFoundError when there is none or it holds no partition."""
        m = (
            self.manifest_by_id(snapshot_id)
            if snapshot_id is not None
            else self.current_manifest()
        )
        if not m or not m["partitions"]:
            raise FileNotFoundError(f"no committed snapshots under {self.root}")
        return m

    def _flip_current(self, snapshot_id: str) -> None:
        """The commit: atomically point CURRENT at a written manifest."""
        tmp = self.manifest_dir / "CURRENT.tmp"
        tmp.write_text(f"manifest-{snapshot_id}.json")
        tmp.replace(self.manifest_dir / "CURRENT")

    # -- registries (atomically-replaced JSON side files) -------------
    def _read_registry(self, name: str) -> dict:
        f = self.manifest_dir / name
        return json.loads(f.read_text()) if f.exists() else {}

    def _write_registry(self, name: str, d: dict) -> None:
        self.manifest_dir.mkdir(parents=True, exist_ok=True)
        tmp = self.manifest_dir / f"{name}.tmp"
        tmp.write_text(json.dumps(d, indent=1))
        tmp.replace(self.manifest_dir / name)

    # -- write-audit-publish (Iceberg WAP) ----------------------------
    def staged(self) -> dict[str, dict]:
        """Staged (written-but-unpublished) snapshots:
        {snapshot_id: {parent_id, staged_at_unix}}. Staged data is
        invisible to read() until publish() flips CURRENT to it; an
        audit job reads it explicitly via read(snapshot_id=...)."""
        return self._read_registry("STAGED.json")

    def publish(self, snapshot_id: str) -> dict:
        """Publish a staged snapshot (the 'P' of write-audit-publish):
        after the audit job has validated the staged data, flip
        CURRENT to it. Refuses if the snapshot isn't staged, or if
        another commit landed since it was staged (its parent_id no
        longer equals CURRENT) — the staged manifest froze the table
        state it merged against, so publishing over a moved CURRENT
        would silently drop the interleaved commit; re-stage instead
        (Iceberg resolves this with cherry-pick; staying loud is the
        honest lite behavior)."""
        staged = self.staged()
        if snapshot_id not in staged:
            raise KeyError(f"snapshot {snapshot_id!r} is not staged")
        cur = self.current_manifest()
        cur_id = cur["snapshot_id"] if cur else None
        if staged[snapshot_id]["parent_id"] != cur_id:
            raise ValueError(
                f"staged snapshot {snapshot_id!r} was staged against "
                f"parent {staged[snapshot_id]['parent_id']!r} but CURRENT "
                f"is now {cur_id!r} — a commit landed in between; abort "
                "and re-stage against the new table state"
            )
        self._flip_current(snapshot_id)
        del staged[snapshot_id]
        self._write_registry("STAGED.json", staged)
        return self.current_manifest()

    def abort_staged(self, snapshot_id: str) -> list[str]:
        """Drop a staged snapshot that failed its audit: remove it
        from the registry, delete its manifest, and gc the data
        directories only it referenced. Returns the removed dirs."""
        staged = self.staged()
        if snapshot_id not in staged:
            raise KeyError(f"snapshot {snapshot_id!r} is not staged")
        del staged[snapshot_id]
        self._write_registry("STAGED.json", staged)
        f = self.manifest_dir / f"manifest-{snapshot_id}.json"
        if f.exists():
            f.unlink()
        return self.gc_uncommitted()

    # -- tags (Iceberg refs) ------------------------------------------
    def tags(self) -> dict[str, str]:
        """Named snapshot refs ({tag: snapshot_id}) — Iceberg's tags:
        pin a dataset version ("training-set-v1") to a snapshot.
        Tagged snapshots survive expire_snapshots and gc even after
        they leave the keep_last window, and remain readable via
        read(tag=...) / read(snapshot_id=...)."""
        return self._read_registry("REFS.json")

    def tag(self, name: str, snapshot_id: str | None = None) -> dict:
        """Tag a committed snapshot (CURRENT by default). The write is
        an atomic replace of the refs file; re-tagging a name moves
        it."""
        if snapshot_id is None:
            m = self.current_manifest()
            if not m:
                raise FileNotFoundError(
                    f"no committed snapshots under {self.root}"
                )
            snapshot_id = m["snapshot_id"]
        elif (
            snapshot_id not in self._chain_ids()
            and snapshot_id not in set(self.tags().values())
        ):
            # COMMITTED snapshots only — a staged id is servable for
            # audits but not taggable (abort_staged would leave the
            # tag dangling and permanently pin gc/expire keep-sets)
            raise FileNotFoundError(
                f"snapshot {snapshot_id!r} is not on the committed chain "
                "(staged, never committed, or expired)"
            )
        refs = self.tags()
        refs[name] = snapshot_id
        self._write_registry("REFS.json", refs)
        return dict(refs)

    def drop_tag(self, name: str) -> dict:
        """Remove a tag; its snapshot becomes expirable again (the
        next expire_snapshots/gc pass reclaims it if it is outside the
        retention window)."""
        refs = self.tags()
        if name not in refs:
            raise KeyError(f"unknown tag {name!r}")
        del refs[name]
        self._write_registry("REFS.json", refs)
        return dict(refs)

    def snapshots(self) -> list[dict]:
        """The committed snapshot chain, newest first: walk parent_id
        links from CURRENT over the manifests still on disk. Each entry:
        snapshot_id, parent_id, committed_at_unix, total_rows, meta."""
        chain, m = [], self.current_manifest()
        while m is not None:
            chain.append(
                {
                    "snapshot_id": m["snapshot_id"],
                    "parent_id": m["parent_id"],
                    "committed_at_unix": m["committed_at_unix"],
                    "total_rows": m["total_rows"],
                    "meta": m["meta"],
                }
            )
            pid = m["parent_id"]
            f = self.manifest_dir / f"manifest-{pid}.json" if pid else None
            m = json.loads(f.read_text()) if f and f.exists() else None
        return chain

    # Orphan MANIFESTS (written by a crash between the manifest write
    # and the CURRENT flip) younger than this still pin their data
    # dirs: the commit window is milliseconds, but a generous grace
    # keeps gc safe to run next to an in-flight commit from another
    # process. Older orphans are deleted together with their data.
    _GC_ORPHAN_GRACE_S = 3600

    def _in_grace(self, manifest_file: Path) -> bool:
        return manifest_file.stat().st_mtime >= time.time() - self._GC_ORPHAN_GRACE_S

    def gc_uncommitted(self) -> list[str]:
        """Delete orphan snapshot directories (data written by a run
        that crashed before its manifest flip) and, past a grace
        period, the orphan manifest files themselves (ADVICE r5 — an
        orphan manifest must not serve time travel, and once invisible
        it is garbage). A directory is live if any CHAIN manifest — or
        a within-grace orphan (possibly an in-flight commit) —
        references it, so time-travel history survives gc; bounded
        retention is expire_snapshots' job, never gc's.

        Concurrency contract: the table is SINGLE-WRITER. gc deletes
        unreferenced snapshot dirs immediately (a resumed write cleans
        its own crash debris), so a second concurrent writer's
        data-write phase — dirs that exist before their manifest does
        — is not protected; coordinate writers externally (real
        Iceberg arbitrates this with optimistic catalog commits)."""
        chain = (
            self._chain_ids()
            | set(self.tags().values())
            | set(self.staged())
        )
        live: set[str] = set()
        for f in self._manifest_files():
            m = json.loads(f.read_text())
            if m["snapshot_id"] in chain or self._in_grace(f):
                live.update(p["snap_dir"] for p in m["partitions"])
            else:
                f.unlink()  # aged-out orphan manifest
        removed = []
        if self.data_dir.exists():
            for d in self.data_dir.iterdir():
                if d.is_dir() and d.name.startswith("snap-") and d.name not in live:
                    shutil.rmtree(d)
                    removed.append(d.name)
        return removed

    def expire_snapshots(self, keep_last: int = 1) -> dict:
        """Iceberg-style retention: keep the newest `keep_last`
        manifests of the CURRENT chain (plus any data directory the
        kept manifests still reference), delete older manifest files
        and any snapshot directory referenced only by expired
        manifests. Tagged snapshots (tag()) are always kept, with
        their data, until drop_tag. Time travel to an expired id then
        fails loudly; CURRENT and its data are never touched. Off-chain
        manifests younger than the orphan grace are left alone: they
        may be another process's commit in the window between its
        manifest write and its CURRENT flip (aged-out orphans delete
        here like in gc)."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        chain = self.snapshots()
        chain_ids = {s["snapshot_id"] for s in chain}
        keep_ids = {s["snapshot_id"] for s in chain[:keep_last]}
        keep_ids |= set(self.tags().values()) | set(self.staged())
        removed_manifests = []
        for f in self._manifest_files():
            m = json.loads(f.read_text())
            sid = m["snapshot_id"]
            if sid in keep_ids:
                continue
            if sid not in chain_ids and self._in_grace(f):
                continue  # possibly an in-flight commit — leave for gc
            f.unlink()
            removed_manifests.append(sid)
        removed_dirs = self.gc_uncommitted()
        return {
            "removed_manifests": sorted(removed_manifests),
            "removed_dirs": sorted(removed_dirs),
            "kept": sorted(keep_ids),
        }

    def _commit(
        self,
        partitions: list[dict],
        meta: dict,
        snapshot_id: str,
        *,
        partition_col: str | None = None,
        drop_partitions: set[str] | frozenset[str] = frozenset(),
        schema: dict | None = None,
        column_defaults: dict | None = None,
        stage_only: bool = False,
    ) -> dict:
        """Write a manifest that applies `partitions` (and drops
        `drop_partitions`) on top of CURRENT; fields left None carry
        over from CURRENT. Flips CURRENT unless `stage_only`."""
        self.manifest_dir.mkdir(parents=True, exist_ok=True)
        prev = self.current_manifest() or {"partitions": [], "column_defaults": {}}
        merged = {
            p["partition"]: p
            for p in prev["partitions"]
            if p["partition"] not in drop_partitions
        }
        merged.update({p["partition"]: p for p in partitions})
        manifest = {
            "snapshot_id": snapshot_id,
            "parent_id": prev.get("snapshot_id"),
            "committed_at_unix": time.time(),
            "meta": meta,
            "partition_col": partition_col or prev["partition_col"],
            "schema": schema or prev["schema"],
            "column_defaults": prev["column_defaults"]
            if column_defaults is None
            else column_defaults,
            "partitions": sorted(merged.values(), key=lambda p: p["partition"]),
            "total_rows": sum(p["rows"] for p in merged.values()),
        }
        (self.manifest_dir / f"manifest-{snapshot_id}.json").write_text(
            json.dumps(manifest, indent=1)
        )
        if stage_only:
            # write-audit-publish: manifest on disk + staged registry,
            # NO pointer flip — invisible to readers until publish()
            staged = self._read_registry("STAGED.json")
            staged[snapshot_id] = {
                "parent_id": manifest["parent_id"],
                "staged_at_unix": time.time(),
            }
            self._write_registry("STAGED.json", staged)
            manifest["staged"] = True
            return manifest
        self._flip_current(snapshot_id)
        return manifest

    # -- write with lineage + resume ----------------------------------
    def write_partitioned(
        self,
        df: DataFrame,
        partition_col: str,
        *,
        meta: dict | None = None,
        resume: bool = True,
        stat_cols: list[str] | None = None,
        stage_only: bool = False,
    ) -> dict:
        """Write `df` partitioned by `partition_col` into a fresh
        snapshot directory; skip partitions the current manifest already
        committed (resume); record per-partition row counts + duration
        as lineage. Data becomes visible only at the manifest flip.

        `stage_only=True` is the write step of write-audit-publish:
        the data and manifest land but CURRENT does NOT flip — readers
        keep seeing the old table while an audit job validates the
        staged snapshot via read(snapshot_id=...); then publish() makes
        it live or abort_staged() discards it. The data-quality gate
        pattern for production table feeds.

        `stat_cols` opts columns into Iceberg-style manifest stats: each
        partition entry records the min/max of every named column,
        folded from the parquet footer stats of the files the write
        produced (no pass over the data besides the write itself) —
        `read(prune=...)` then skips (directory, partition) pairs whose
        range cannot match, at manifest-planning time, before any file
        listing. A column whose footers carry no min/max (Spark writes
        timestamps as INT96, which has none) records null stats, which
        the pruner keeps.

        `skipped_resume` lists EVERY previously-committed partition
        (the filter applied to the input), not input∩committed —
        write_partitioned_incremental, which enumerates its input's
        partition values anyway, reports the intersection."""
        if resume:
            self.gc_uncommitted()
        done = self.committed_partitions() if resume else set()
        if done:
            df = df.filter(~F.col(partition_col).isin(sorted(done)))
        snapshot_id = uuid.uuid4().hex[:16]
        parts = self._rewrite_entries(
            df, partition_col, f"snap-{snapshot_id}", stat_cols or [],
            time.time(),
        )
        manifest = self._commit(
            parts, meta or {}, snapshot_id, partition_col=partition_col,
            schema=self._merged_schema_json(df.schema),
            stage_only=stage_only,
        )
        manifest["newly_written"] = sorted(p["partition"] for p in parts)
        manifest["skipped_resume"] = sorted(done)
        return manifest

    def write_partitioned_incremental(
        self,
        df: DataFrame,
        partition_col: str,
        *,
        meta: dict | None = None,
        resume: bool = True,
        group_size: int = 1,
        max_groups: int | None = None,
        materialize: bool = True,
        stat_cols: list[str] | None = None,
    ) -> dict:
        """Partition-level checkpointing: one snapshot + manifest flip
        per group of `group_size` partition values (deterministic
        sorted order). A job killed between commits — or mid-write,
        leaving an orphan snapshot dir — resumes with every COMMITTED
        partition skipped and the orphan garbage-collected; the
        single-flip write_partitioned is atomic but all-or-nothing, so
        it cannot hand progress across a mid-job crash.

        `materialize=True` localCheckpoints the input once so each
        group's filter scans the materialized result instead of
        re-running the full lineage per group — right for aggregate-
        sized outputs (the flagship's per-tile counts); callers
        writing row-level data at cluster scale should persist to
        scratch storage themselves and pass materialize=False (the
        per-group filters then push down to that scan).
        `max_groups` bounds how many groups THIS call commits (test
        hook for simulated crashes). Returns the final manifest plus
        newly_written / skipped_resume accumulated across groups."""
        if resume:
            self.gc_uncommitted()
        done = self.committed_partitions() if resume else set()
        if materialize:
            df = df.localCheckpoint()
        vals = self._partition_values(df, partition_col)
        todo = [v for v in vals if v not in done]
        skipped = sorted(set(vals) & done)
        written: list[str] = []
        manifest = self.current_manifest() or {
            "partitions": [], "total_rows": 0, "snapshot_id": None,
        }
        groups = [
            todo[i : i + group_size] for i in range(0, len(todo), group_size)
        ]
        if max_groups is not None:
            groups = groups[:max_groups]
        for group in groups:
            part_df = df.filter(F.col(partition_col).isin(group))
            manifest = self.write_partitioned(
                part_df, partition_col, meta=meta, resume=False,
                stat_cols=stat_cols,
            )
            written.extend(manifest["newly_written"])
        manifest = dict(manifest)
        manifest["newly_written"] = sorted(written)
        manifest["skipped_resume"] = skipped
        return manifest

    def plan_compaction(
        self,
        *,
        max_dirs: int = 4,
        target_file_bytes: int = 128 * 1024 * 1024,
        min_files: int = 4,
    ) -> dict:
        """Metadata-only maintenance planner (Iceberg's
        rewrite-data-files filter): pick the partitions worth
        rewriting instead of compacting 100 TB to fix 1% of it. Two
        fragmentation signals from the manifest alone: (a) read
        amplification — the read set spans many snapshot directories
        (incremental/streaming commit residue); keep the `max_dirs-1`
        largest-by-bytes directories and mark every partition outside
        them (they collapse into the one new directory, bounding the
        post-compact read set to `max_dirs`); (b) small-file
        fragmentation — a partition holding >= `min_files` files
        averaging under half `target_file_bytes`. Returns {"rewrite": [...], "kept_dirs": [...], "dirs_before":
        n} for compact(partitions=plan["rewrite"])."""
        m = self._require_manifest()
        by_dir: dict[str, int] = {}
        for p in m["partitions"]:
            by_dir[p["snap_dir"]] = by_dir.get(p["snap_dir"], 0) + _entry_bytes(p)
        if len(by_dir) <= max_dirs:
            # already within the read-amplification target: the dir
            # criterion is a fixpoint (only small-file checks apply)
            kept_dirs = set(by_dir)
        else:
            kept_dirs = set(
                sorted(by_dir, key=lambda d: (-by_dir[d], d))[
                    : max(0, max_dirs - 1)
                ]
            )
        rewrite = []
        for p in m["partitions"]:
            n = len(p["files"])
            if p["snap_dir"] not in kept_dirs or (
                n >= min_files and _entry_bytes(p) / n < target_file_bytes / 2
            ):
                rewrite.append(p["partition"])
        return {
            "rewrite": sorted(rewrite),
            "kept_dirs": sorted(kept_dirs),
            "dirs_before": len(by_dir),
        }

    def compact(
        self,
        spark: SparkSession,
        *,
        target_file_rows: int = 5_000_000,
        meta: dict | None = None,
        sort_cols: list[str] | None = None,
        partitions: list[str] | None = None,
    ) -> dict:
        """Bin-pack the CURRENT table state into a fresh snapshot
        (Iceberg's rewrite_data_files, in miniature). Streaming commits
        one snapshot per micro-batch and incremental writes one per
        partition group — at 100 TB the table accumulates unbounded
        snapshot directories and manifests between expire_snapshots
        calls, so every read lists and opens one path per (directory,
        partition) pair and each commit re-serializes a growing
        manifest. Compaction reads the manifest-referenced file set
        once and rewrites it as ONE snapshot directory (collapsing the
        multi-directory read set), one write task per partition value,
        files rolled at `target_file_rows` (maxRecordsPerFile — the
        same pass right-sizes a hot partition that a plain
        repartition(col) write would emit as one giant file) — then
        commits
        a manifest whose every partition points at the new directory,
        superseding the old file set WITHOUT touching it: time travel
        to any pre-compaction snapshot id keeps reading the old
        directories until expire_snapshots retires them. The new
        entries are built from the new files' footers like every
        write's; compaction moves bytes, never rows, so row counts and
        partition-grain min/max come out as before.

        `sort_cols` is Iceberg's rewrite-with-sort-order: rows are
        sorted by those columns WITHIN each partition's write tasks, so
        rolled files and their parquet row groups cover tight,
        near-disjoint value ranges — the layout under which engine-side
        footer-stats pruning and the manifest's file-grain stats
        actually skip data. The rewritten entries record stats for the
        union of their stat columns and `sort_cols`.

        `partitions` restricts the rewrite to those partition values
        (Iceberg's filtered rewrite_data_files; pair with
        plan_compaction): at 100 TB a maintenance pass rewrites the
        fragmented 1% — every other entry carries over untouched, and
        the audit stats below cover only the rewritten subset."""
        m = self._require_manifest()
        col = m["partition_col"]
        if partitions is None:
            sel = m["partitions"]
        else:
            by_part = {p["partition"]: p for p in m["partitions"]}
            unknown = [v for v in partitions if v not in by_part]
            if unknown:
                raise ValueError(f"unknown partitions {unknown}")
            if not partitions:
                return dict(m)
            sel = [by_part[v] for v in sorted(set(partitions))]
        snapshot_id = uuid.uuid4().hex[:16]
        snap_dir = f"snap-{snapshot_id}"
        t0 = time.time()
        # the rewrite read is schema-reconciled, so compaction also
        # physically migrates pre-evolution files to the current schema
        src = self._read_entries(spark, sel, m).repartition(col)
        if sort_cols:
            src = src.sortWithinPartitions(col, *sort_cols)
        (
            src.write.mode("error")
            .option("maxRecordsPerFile", target_file_rows)
            .partitionBy(col)
            .parquet(str(self.data_dir / snap_dir))
        )
        # sort_cols join the stat set so sorted/z-ordered files carry
        # the tight per-file ranges that make file-grain pruning bite
        parts = self._written_entries(
            snap_dir, col,
            sorted(set(self._entry_stat_cols(sel)) | set(sort_cols or [])), t0,
        )
        # the audit covers exactly the rewritten subset
        stats = {
            "op": "compact",
            "dirs_before": len({p["snap_dir"] for p in sel}),
            "dirs_after": 1,
            "files_before": sum(len(p["files"]) for p in sel),
            "files_after": sum(len(p["files"]) for p in parts),
            "bytes_before": sum(map(_entry_bytes, sel)),
            "bytes_after": sum(map(_entry_bytes, parts)),
            "target_file_rows": target_file_rows,
            "sort_cols": list(sort_cols or []),
            "partitions_rewritten": len(sel),
            "partitions_untouched": len(m["partitions"]) - len(sel),
        }
        manifest = self._commit(parts, {**(meta or {}), **stats}, snapshot_id)
        manifest.update(stats)
        return manifest

    # -- schema evolution ---------------------------------------------
    def schema(self, snapshot_id: str | None = None) -> StructType | None:
        """The table schema as of a snapshot (CURRENT by default), or
        None before the first commit."""
        m = (
            self.manifest_by_id(snapshot_id)
            if snapshot_id is not None
            else self.current_manifest()
        )
        return StructType.fromJson(m["schema"]) if m else None

    def _merged_schema_json(self, written: StructType) -> dict:
        """Evolve the recorded schema with a write's schema: existing
        fields keep their definitions (a write can never implicitly
        drop or retype a column — drops are explicit via
        drop_columns), new fields append in write order. This is
        Iceberg's union-by-name schema merge."""
        cur = self.schema()
        if cur is None:
            return written.jsonValue()
        names = {f.name for f in cur.fields}
        fields = list(cur.fields) + [
            f for f in written.fields if f.name not in names
        ]
        return StructType(fields).jsonValue()

    def add_columns(
        self,
        cols: dict[str, "DataType | str"],
        *,
        defaults: dict | None = None,
        meta: dict | None = None,
    ) -> dict:
        """Metadata-only ADD COLUMN (Iceberg schema evolution): commit
        a new snapshot whose schema appends `cols` — NO data file is
        touched, so at 100 TB this is a JSON write. Rows written before
        the column existed read back as the column's default (from
        `defaults`, stored in the manifest — Iceberg's initial-default)
        or NULL; rows written afterwards carry real values. Types are
        `pyspark.sql.types.DataType` instances or DDL strings
        ("double", "array<float>" — DDL parsing needs an active
        SparkSession). Time travel to a pre-add snapshot reads the old
        schema."""
        m = self._require_manifest()
        cur = StructType.fromJson(m["schema"])
        names = {f.name for f in cur.fields}
        fields = list(cur.fields)
        for name, t in cols.items():
            if name in names:
                raise ValueError(f"column {name!r} already exists")
            dt = DataType.fromDDL(t) if isinstance(t, str) else t
            fields.append(StructField(name, dt, nullable=True))
        new_defaults = dict(m["column_defaults"])
        for name, v in (defaults or {}).items():
            if name not in cols:
                raise ValueError(f"default for unknown new column {name!r}")
            new_defaults[name] = _json_scalar(v)
        snapshot_id = uuid.uuid4().hex[:16]
        stats = {"op": "add_columns", "added": sorted(cols)}
        manifest = self._commit(
            [], {**(meta or {}), **stats}, snapshot_id,
            schema=StructType(fields).jsonValue(),
            column_defaults=new_defaults,
        )
        manifest.update(stats)
        return manifest

    def drop_columns(self, names: list[str], *, meta: dict | None = None) -> dict:
        """Metadata-only DROP COLUMN: commit a new snapshot whose
        schema omits `names`; reads project the columns away — data
        files keep the bytes until partitions rewrite (delete/merge/
        compact), and time travel to a pre-drop snapshot still shows
        them. The partition column cannot be dropped."""
        m = self._require_manifest()
        cur = StructType.fromJson(m["schema"])
        have = {f.name for f in cur.fields}
        missing = [n for n in names if n not in have]
        if missing:
            raise ValueError(f"cannot drop unknown columns {missing}")
        if m["partition_col"] in names:
            raise ValueError("cannot drop the partition column")
        fields = [f for f in cur.fields if f.name not in set(names)]
        new_defaults = {
            k: v
            for k, v in m["column_defaults"].items()
            if k not in set(names)
        }
        snapshot_id = uuid.uuid4().hex[:16]
        stats = {"op": "drop_columns", "dropped": sorted(names)}
        manifest = self._commit(
            [], {**(meta or {}), **stats}, snapshot_id,
            schema=StructType(fields).jsonValue(),
            column_defaults=new_defaults,
        )
        manifest.update(stats)
        return manifest

    def _read_entries(
        self, spark: SparkSession, entries: list[dict], m: dict
    ) -> DataFrame:
        """Read exactly the files `entries` list, one DataFrame per
        snapshot directory: the read is fully manifest-driven — Spark
        is handed the exact file paths, no directory listing against
        the store, and plan_scan's file-grain pruning has already
        dropped provably-irrelevant files. Every frame is projected
        onto manifest `m`'s schema (Iceberg's read-time schema
        resolution): columns a frame lacks (written before an
        add_columns) materialize as the recorded default or NULL;
        columns dropped from the schema project away; everything casts
        to the declared type in schema order. The partition column is
        parsed from the paths as its recorded type: Spark infers a type
        from just the path values it reads, so a string partition `01`
        read alone would come back as the int 1 and cast to '1'; when
        the inferred type differs, the frame is read again with the
        recorded one."""
        paths: dict[str, list[str]] = {}
        for p in sorted(entries, key=lambda p: (p["snap_dir"], p["partition"])):
            base = self.data_dir / p["snap_dir"]
            paths.setdefault(str(base), []).extend(
                str(base / f["path"]) for f in p["files"]
            )
        target = StructType.fromJson(m["schema"])
        col = m["partition_col"]
        part_type = target[col].dataType
        frames = []
        for base, ps in paths.items():
            f = spark.read.option("basePath", base).parquet(*ps)
            if f.schema[col].dataType != part_type:
                f = spark.read.schema(StructType([
                    StructField(col, part_type) if fld.name == col else fld
                    for fld in f.schema.fields
                ])).option("basePath", base).parquet(*ps)
            have = set(f.columns)
            frames.append(
                f.select(
                    *(
                        (F.col(fld.name) if fld.name in have
                         else F.lit(m["column_defaults"].get(fld.name)))
                        .cast(fld.dataType)
                        .alias(fld.name)
                        for fld in target.fields
                    )
                )
            )
        return reduce(lambda a, b: a.unionByName(b), frames)

    @staticmethod
    def _partition_values(df: DataFrame, col: str) -> list[str]:
        """Sorted distinct non-NULL values of `col` in Spark's string
        form: the form partitionBy writes as directory names and the
        manifest keys entries by."""
        return sorted(
            r[0]
            for r in df.select(F.col(col).cast("string")).distinct().collect()
            if r[0] is not None
        )

    @staticmethod
    def _entry_stat_cols(entries: list[dict]) -> list[str]:
        cols: set[str] = set()
        for p in entries:
            cols.update((p.get("stats") or {}).keys())
        return sorted(cols)

    def _file_entries(
        self, snap_dir: str, col: str, partition: str, stat_cols: list[str]
    ) -> list[dict]:
        """Per-file manifest records (Iceberg's DataFile entries, in
        miniature): path relative to the snapshot dir, row count, and
        per-column min/max folded across the file's parquet row-group
        footer statistics for `stat_cols`. Collected from footers after
        the write — the single-process stand-in for Iceberg's
        executor-side write-task file reports; footers are KB-sized
        metadata reads. String footer stats may be writer-truncated,
        but parquet truncation widens the range (min down, max up), so
        pruning on them stays conservative. All-NULL row groups add
        nothing (a file with no non-NULL value records min/max None);
        a column any other row group lacks min/max for is left out of
        the file's stats, and the pruner keeps the file."""
        import pyarrow.parquet as pq

        base = self.data_dir / snap_dir / f"{col}={partition}"
        out = []
        for f in sorted(base.glob("part-*")):
            if not f.is_file():
                continue
            md = pq.ParquetFile(str(f)).metadata
            idx = (
                {
                    md.row_group(0).column(j).path_in_schema: j
                    for j in range(md.num_columns)
                }
                if md.num_row_groups
                else {}
            )
            stats: dict[str, dict] = {}
            for c in stat_cols:
                j = idx.get(c)
                if j is None:
                    continue
                mins, maxs = [], []
                for g in range(md.num_row_groups):
                    chunk = md.row_group(g).column(j)
                    s = chunk.statistics
                    if s is not None and s.has_min_max:
                        mins.append(s.min)
                        maxs.append(s.max)
                    elif s is None or s.null_count != chunk.num_values:
                        break
                else:
                    stats[c] = {
                        "min": _json_scalar(min(mins)) if mins else None,
                        "max": _json_scalar(max(maxs)) if maxs else None,
                    }
            out.append(
                {
                    "path": str(f.relative_to(self.data_dir / snap_dir)),
                    "rows": int(md.num_rows),
                    "bytes": f.stat().st_size,
                    **({"stats": stats} if stats else {}),
                }
            )
        return out

    def _written_entries(
        self, snap_dir: str, col: str, stat_cols: list[str], t0: float
    ) -> list[dict]:
        """Manifest entries for the `col=<value>` directories a write
        left in `snap_dir` (the one entry builder of every write): the
        directory name is the partition value in Spark's string form,
        `files` are its footer records, `rows` their sum, and each stat
        in `stat_cols` the fold of the per-file min/max — null when any
        file lacks footer stats for it. A write that produced no
        partition leaves no directory behind. Raises before any commit
        (the orphan snapshot dir is invisible and gc'd) for a NULL
        partition value, which lands in __HIVE_DEFAULT_PARTITION__ and
        would vanish from reads, and for a value Spark hive-escapes in
        the path (':' -> %3A, '%' -> %25, ...)."""
        dt = time.time() - t0
        base = self.data_dir / snap_dir
        prefix = f"{col}="
        values = sorted(
            d.name[len(prefix):]
            for d in base.iterdir()
            if d.is_dir() and d.name.startswith(prefix)
        )
        if "__HIVE_DEFAULT_PARTITION__" in values:
            raise ValueError(
                f"NULL values in partition column {col!r} are unsupported "
                "— filter or fill them before writing"
            )
        escaped = [unquote(v) for v in values if "%" in v]
        if escaped:
            raise ValueError(
                f"partition values {escaped!r} contain characters "
                "Spark escapes in hive paths — unsupported; sanitize "
                "the partition column before writing"
            )
        if not values:
            shutil.rmtree(base)
        entries = []
        for v in values:
            files = self._file_entries(snap_dir, col, v, stat_cols)
            entry = {
                "partition": v,
                "rows": sum(f["rows"] for f in files),
                "seconds": round(dt, 3),
                "written_at_unix": time.time(),
                "snap_dir": snap_dir,
                "files": files,
            }
            if stat_cols:
                entry["stats"] = {
                    c: _fold_stats([f.get("stats", {}).get(c) for f in files])
                    for c in stat_cols
                }
            entries.append(entry)
        return entries

    def _rewrite_entries(
        self,
        df: DataFrame,
        col: str,
        snap_dir: str,
        stat_cols: list[str],
        t0: float,
    ) -> list[dict]:
        """Write `df` partitionBy(col) into `snap_dir` and return the
        manifest entries of what it wrote. Shared tail of the
        copy-on-write ops; the write is its only Spark action."""
        (
            df.repartition(col)
            .write.mode("error")
            .partitionBy(col)
            .parquet(str(self.data_dir / snap_dir))
        )
        return self._written_entries(snap_dir, col, stat_cols, t0)

    def delete_where(
        self,
        spark: SparkSession,
        condition,
        *,
        prune: dict[str, tuple] | None = None,
        meta: dict | None = None,
    ) -> dict:
        """Copy-on-write row-level DELETE (Iceberg's copy-on-write
        `DELETE FROM`, in miniature): rewrite ONLY the partitions that
        actually contain matching rows; every other file entry carries
        over into the new snapshot untouched — at 100 TB an opt-out /
        retention delete that hits 3 of 10 000 partitions moves 0.03%
        of the bytes. Two-phase plan:

        1. Manifest pruning (free): `prune` = {col: (lo, hi)} skips
           partitions whose recorded stats provably cannot contain a
           matching row — the CALLER asserts the predicate implies
           those ranges (same contract as read(prune=...), but for
           writes: an unsound prune here loses deletes, so when in
           doubt pass none and let phase 2 decide).
        2. Match counting (one cheap scan of the kept set): partitions
           with zero matching rows keep their existing entries —
           scanned once, never rewritten.

        Matching rows are removed; partitions left empty are dropped
        from the manifest. Time travel to any pre-delete snapshot still
        reads the original files until expire_snapshots. `condition`
        is a Column or SQL string. Returns the new manifest plus
        rewritten / dropped / deleted_rows / pruned_untouched audit
        fields; commits NOTHING (and returns the current manifest) when
        no row matches."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        # SQL DELETE semantics: a row is deleted only when the
        # condition is TRUE — rows where it evaluates to NULL must
        # SURVIVE the rewrite (filter(~cond) alone would drop them
        # uncounted, making the outcome depend on which rows happen to
        # share a partition with a real match)
        match = F.coalesce(cond.cast("boolean"), F.lit(False))
        m = self._require_manifest()
        col = m["partition_col"]
        kept, pruned = self.plan_scan(prune=prune)
        by_part = {p["partition"]: p for p in m["partitions"]}
        # phase 2: count matches per partition over the kept set only,
        # keyed by the partition's string form (the manifest's key)
        matches = {
            r[0]: int(r[1])
            for r in (
                self._read_entries(spark, kept, m)
                .filter(match)
                .groupBy(F.col(col).cast("string"))
                .agg(F.count(F.lit(1)))
                .collect()
            )
        } if kept else {}
        affected = sorted(matches)
        if not affected:
            out = dict(m)
            out.update(
                {
                    "op": "delete_where",
                    "rewritten": [],
                    "dropped": [],
                    "deleted_rows": 0,
                    "pruned_untouched": sorted(
                        p["partition"] for p in pruned
                    ),
                    "committed": False,
                }
            )
            return out
        snapshot_id = uuid.uuid4().hex[:16]
        t0 = time.time()
        aff_entries = [by_part[v] for v in affected]
        remainder = self._read_entries(spark, aff_entries, m).filter(~match)
        parts = self._rewrite_entries(
            remainder,
            col,
            f"snap-{snapshot_id}",
            self._entry_stat_cols(aff_entries),
            t0,
        )
        dropped = sorted(set(affected) - {p["partition"] for p in parts})
        stats = {
            "op": "delete_where",
            "rewritten": [p["partition"] for p in parts],
            "dropped": dropped,
            "deleted_rows": sum(matches.values()),
            "pruned_untouched": sorted(p["partition"] for p in pruned),
            "committed": True,
        }
        manifest = self._commit(
            parts, {**(meta or {}), **stats}, snapshot_id,
            drop_partitions=set(affected),
        )
        manifest.update(stats)
        return manifest

    def merge_upsert(
        self,
        spark: SparkSession,
        source: DataFrame,
        key_cols: list[str],
        *,
        meta: dict | None = None,
        stat_cols: list[str] | None = None,
    ) -> dict:
        """Copy-on-write MERGE (upsert): every source row replaces the
        target row with the same `key_cols` or is inserted. Only the
        partitions the source actually touches are rewritten — the
        rewrite set is the source's distinct partition values, so a
        daily corpus-refresh batch that lands in 5 of 10 000 partitions
        rewrites 5. Untouched file entries carry over; time travel to
        the pre-merge snapshot keeps working until expiry.

        Semantics (matching Iceberg's copy-on-write MERGE WHEN MATCHED
        UPDATE / WHEN NOT MATCHED INSERT): for each touched partition,
        new data = old rows anti-joined away on `key_cols` ∪ all source
        rows. The source must have the table's schema (partition_col
        included) and non-null keys; keys are assumed unique within the
        source (last-writer ambiguity is the caller's problem, as in
        SQL MERGE). Stats for rewritten/new partitions are recomputed
        over `stat_cols` (default: the columns the touched entries
        already carry stats for — falling back to the table-wide stat
        set for brand-new partitions).

        Only the partitions the SOURCE touches are read and rewritten,
        so the key match is per partition: a source row whose key
        already lives in a different partition (its partition column
        value changed) is inserted into its new partition, and the old
        row stays behind in the old one. Delete it with delete_where
        first when keys can move between partitions."""
        m = self._require_manifest()
        col = m["partition_col"]
        by_part = {p["partition"]: p for p in m["partitions"]}
        touched = self._partition_values(source, col)
        existing = [v for v in touched if v in by_part]
        aff_entries = [by_part[v] for v in existing]
        scols = stat_cols or self._entry_stat_cols(
            aff_entries or m["partitions"]
        )
        snapshot_id = uuid.uuid4().hex[:16]
        t0 = time.time()
        if existing:
            old = self._read_entries(spark, aff_entries, m)
            source = source.select(*old.columns)  # align column order
            new_df = old.join(source, on=key_cols, how="left_anti").unionByName(
                source
            )
        else:
            new_df = source
        parts = self._rewrite_entries(
            new_df, col, f"snap-{snapshot_id}", scols, t0
        )
        stats = {
            "op": "merge_upsert",
            "rewritten": existing,
            "new_partitions": sorted(set(touched) - set(existing)),
            "untouched": len(by_part) - len(existing),
        }
        manifest = self._commit(
            parts, {**(meta or {}), **stats}, snapshot_id,
            drop_partitions=set(existing),
        )
        manifest.update(stats)
        return manifest

    # -- incremental consumption --------------------------------------
    # Ops that move bytes or metadata but change NO row values: a
    # consumer that saw the parent snapshot has nothing new to read.
    _DATA_NEUTRAL_OPS = {"compact", "add_columns", "drop_columns"}

    def changes(self, since_id: str, to_id: str | None = None) -> dict:
        """Partition-grain change summary between two committed
        snapshots (Iceberg's incremental scan planning): walk the
        parent chain over (since, to], per step classify partitions
        whose owning files changed — skipping data-neutral commits
        (compact moves every partition to a new directory without
        changing a row; schema commits touch nothing) — and net the
        steps against the endpoints. Returns {"inserted": [...]
        (absent at since, present at to), "rewritten": [...] (present
        at both, data changed in between), "dropped": [...] (present
        at since, absent at to)}. Pure metadata — no Spark. Raises for
        ids off the committed chain (never committed, expired, or
        since newer than to)."""
        chain_ids = [s["snapshot_id"] for s in self.snapshots()]
        if not chain_ids:
            raise FileNotFoundError(f"no committed snapshots under {self.root}")
        to_id = to_id or chain_ids[0]
        for x in (since_id, to_id):
            if x not in chain_ids:
                raise FileNotFoundError(
                    f"snapshot {x!r} is not on the committed chain "
                    "(never committed, or expired)"
                )
        i_to, i_since = chain_ids.index(to_id), chain_ids.index(since_id)
        if i_to > i_since:
            raise ValueError(f"{to_id!r} is older than {since_id!r}")
        # manifests oldest -> newest over [since, to] — ids were just
        # validated against the walked chain, so read the files
        # directly (manifest_by_id would re-walk the whole chain per
        # element: O(n^2) file reads over exactly the long streaming
        # commit chains this API targets)
        seq = [
            json.loads(
                (self.manifest_dir / f"manifest-{x}.json").read_text()
            )
            for x in reversed(chain_ids[i_to : i_since + 1])
        ]
        dirty: set[str] = set()
        removed: set[str] = set()
        neutral_skipped = 0
        for parent, child in zip(seq, seq[1:]):
            if child["meta"].get("op") in self._DATA_NEUTRAL_OPS:
                neutral_skipped += 1
                continue
            pm = {p["partition"]: p["snap_dir"] for p in parent["partitions"]}
            cm = {p["partition"]: p["snap_dir"] for p in child["partitions"]}
            for k, sd in cm.items():
                if pm.get(k) != sd:
                    dirty.add(k)
                    removed.discard(k)
            for k in pm.keys() - cm.keys():
                removed.add(k)
                dirty.discard(k)
        base = {p["partition"] for p in seq[0]["partitions"]}
        final = {p["partition"] for p in seq[-1]["partitions"]}
        return {
            "since": since_id,
            "to": to_id,
            "inserted": sorted((dirty & final) - base),
            "rewritten": sorted(dirty & final & base),
            "dropped": sorted((removed & base) - final),
            "data_neutral_commits_skipped": neutral_skipped,
        }

    def read_changes(
        self,
        spark: SparkSession,
        since_id: str,
        to_id: str | None = None,
        *,
        mode: str = "append",
    ) -> DataFrame:
        """Incremental read: the rows a consumer that last saw
        `since_id` needs — the scale story for downstream pipelines (a
        daily featurization pass over a 100 TB corpus reads the day's
        partitions, not the corpus). mode="append" (Iceberg's
        incremental append scan): returns rows of partitions INSERTED
        over the window, raising if any partition was rewritten or
        dropped (row-level diffs don't exist at partition grain — the
        caller must reprocess those partitions or read at partition
        grain); mode="changed_partitions": returns the to-snapshot
        content of inserted + rewritten partitions (partition-grain
        CDC upsert feed; consult changes() for drops). Rows come from
        the `to` snapshot's entries, schema-reconciled to it."""
        ch = self.changes(since_id, to_id)
        if mode == "append":
            if ch["rewritten"] or ch["dropped"]:
                raise ValueError(
                    "append-only incremental read impossible: partitions "
                    f"rewritten={ch['rewritten']} dropped={ch['dropped']} "
                    "over the window — use mode='changed_partitions' and "
                    "changes() for drops"
                )
            want = set(ch["inserted"])
        elif mode == "changed_partitions":
            want = set(ch["inserted"]) | set(ch["rewritten"])
        else:
            raise ValueError(f"unknown mode {mode!r}")
        m = self.manifest_by_id(ch["to"])
        entries = [p for p in m["partitions"] if p["partition"] in want]
        if not entries:
            return self.read(spark, snapshot_id=ch["to"]).where(F.lit(False))
        return self._read_entries(spark, entries, m)

    def plan_scan(
        self,
        snapshot_id: str | None = None,
        prune: dict[str, tuple] | None = None,
    ) -> tuple[list[dict], list[dict]]:
        """Manifest-level scan planning (Iceberg's manifest-entry
        filtering, in miniature): split the snapshot's partition
        entries into (kept, skipped) under `prune` = {col: (lo, hi)}
        range predicates (either bound None = open). A partition is
        skipped only when EVERY pruned column's recorded [min, max]
        provably misses its range; entries written without stats for a
        column are conservatively kept. Pure metadata — no Spark, no
        file listing: this is the decision a 1000-executor driver makes
        before touching the object store."""
        m = self._require_manifest(snapshot_id)
        kept, skipped = [], []
        for p in m["partitions"]:
            stats = p.get("stats") or {}
            keep = all(
                _range_may_match(stats.get(c), lo, hi)
                for c, (lo, hi) in (prune or {}).items()
            )
            if not keep:
                skipped.append(p)
                continue
            # file-grain trim (Iceberg's data-file filtering): within a
            # kept partition, drop files whose per-file footer stats
            # provably miss the range — after a sort-order/z-order
            # compact, a ranged read of a hot partition touches a few
            # of its rolled files, not all of them. Entries are copied,
            # never mutated; a partition whose every file is pruned
            # skips entirely.
            files = p["files"]
            if prune:
                fk = [
                    f
                    for f in files
                    if all(
                        _range_may_match((f.get("stats") or {}).get(c), lo, hi)
                        for c, (lo, hi) in prune.items()
                    )
                ]
                if not fk:
                    skipped.append(p)
                    continue
                if len(fk) < len(files):
                    p = {**p, "files": fk, "files_pruned": len(files) - len(fk)}
            kept.append(p)
        return kept, skipped

    def read(
        self,
        spark: SparkSession,
        snapshot_id: str | None = None,
        *,
        prune: dict[str, tuple] | None = None,
        tag: str | None = None,
    ) -> DataFrame:
        """Read the table as of a committed snapshot (CURRENT when
        `snapshot_id` is None — time travel otherwise; `tag` resolves
        a named ref from tag() and is mutually exclusive with an
        explicit snapshot_id). Reads exactly
        the (snap_dir, partition) pairs the manifest references, so a
        partition overwritten by a later snapshot is read from the
        directory that owned it THEN, and stale copies of a partition
        left in an older directory after an overwrite are never
        unioned in. Files from an uncommitted (crashed) write are
        never visible. Partition values must not contain '/' or '='
        (they become hive-style path segments).

        `prune` = {col: (lo, hi)} skips partitions whose manifest
        min/max stats (see write_partitioned stat_cols) cannot contain
        matching rows — scan PLANNING only, and conservative: the
        caller still applies the actual row filter; pruning just keeps
        provably-irrelevant directories out of the listing."""
        if tag is not None:
            if snapshot_id is not None:
                raise ValueError("pass snapshot_id or tag, not both")
            refs = self.tags()
            if tag not in refs:
                raise KeyError(f"unknown tag {tag!r}")
            snapshot_id = refs[tag]
        m = self._require_manifest(snapshot_id)
        entries, _ = self.plan_scan(snapshot_id, prune)
        if entries:
            return self._read_entries(spark, entries, m)
        # everything pruned: empty frame with the table's schema (one
        # footer read of the first entry's files)
        return self._read_entries(spark, m["partitions"][:1], m).where(F.lit(False))
