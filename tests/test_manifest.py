"""Iceberg-lite snapshot/commit semantics (ADVICE round-1: commits must
be truly atomic — uncommitted data files invisible, resume must not
duplicate rows after a crash between data write and manifest flip)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from equi7grid_spark.table.manifest import IcebergLiteTable


def test_crash_between_write_and_commit_is_invisible_and_gcd(spark, tmp_path):
    df = spark.createDataFrame(
        [("EU", 1), ("EU", 2), ("AS", 3)], "subgrid string, v int"
    )
    t = IcebergLiteTable(tmp_path / "tbl")
    m1 = t.write_partitioned(df, "subgrid", meta={"run": 1})
    assert m1["total_rows"] == 3

    # simulate a crashed writer: data landed, manifest flip never happened
    orphan = t.data_dir / "snap-deadbeef"
    df.write.partitionBy("subgrid").parquet(str(orphan))
    assert t.read(spark).count() == 3  # orphan invisible to readers

    # a resumed write garbage-collects the orphan and re-writes nothing
    m2 = t.write_partitioned(df, "subgrid", meta={"run": 2})
    assert m2["newly_written"] == []
    assert m2["skipped_resume"] == ["AS", "EU"]
    assert not orphan.exists()
    assert t.read(spark).count() == 3  # no duplicated rows

    # appending a genuinely new partition lands in its own snapshot dir
    df2 = spark.createDataFrame([("NA", 4)], "subgrid string, v int")
    m3 = t.write_partitioned(df2, "subgrid", meta={"run": 3})
    assert m3["newly_written"] == ["NA"]
    assert t.read(spark).count() == 4
    snap_dirs = {p["snap_dir"] for p in t.current_manifest()["partitions"]}
    assert len(snap_dirs) == 2


def test_read_before_any_commit_raises(spark, tmp_path):
    t = IcebergLiteTable(tmp_path / "empty")
    with pytest.raises(FileNotFoundError):
        t.read(spark)


def test_incremental_commit_kill_resume_bench_shape(spark, tmp_path):
    """Partition-level resume on the BENCH-SHAPED pipeline (synthetic
    images -> jvm tile assignment -> catalog join -> subgrid-partitioned
    sink): a run that dies after 3 per-subgrid commits resumes with
    exactly those subgrids skipped, and the resumed table equals an
    uninterrupted run row-for-row. scripts/resume_kill_run.py repeats
    this with a real SIGKILL at the 192M-row bench scale."""
    from equi7grid_spark.images import synthetic_images
    from equi7grid_spark.operators.assign_jvm import tile_counts_jvm
    from equi7grid_spark.operators.join import join_tile_catalog

    imgs = synthetic_images(spark, 200_000, with_bytes=False)
    joined = join_tile_catalog(tile_counts_jvm(imgs), spark, "T6", how="left")

    # victim run: dies (max_groups) after 3 of the 7 subgrid commits
    t = IcebergLiteTable(tmp_path / "tbl")
    m1 = t.write_partitioned_incremental(joined, "subgrid", max_groups=3)
    committed = sorted(t.committed_partitions())
    assert len(committed) == 3 and m1["newly_written"] == committed

    # plus a crash INSIDE group 4: data landed, flip didn't
    orphan = t.data_dir / "snap-c0ffee"
    joined.filter(joined.subgrid == "NA").write.partitionBy("subgrid").parquet(
        str(orphan)
    )

    # resume: orphan gc'd, committed subgrids skipped at partition level
    m2 = t.write_partitioned_incremental(joined, "subgrid")
    assert m2["skipped_resume"] == committed
    assert len(m2["skipped_resume"]) == 3
    assert sorted(m2["newly_written"] + committed) == sorted(
        p["partition"] for p in t.current_manifest()["partitions"]
    )
    assert not orphan.exists()

    # uninterrupted twin: identical rows
    t2 = IcebergLiteTable(tmp_path / "tbl_ref")
    t2.write_partitioned(joined, "subgrid", resume=False)
    got = sorted(map(tuple, t.read(spark).collect()))
    ref = sorted(map(tuple, t2.read(spark).collect()))
    assert got == ref


def test_time_travel_overwrite_and_expire(spark, tmp_path):
    """Snapshot semantics under partition OVERWRITE (resume=False):
    the current read excludes the stale copy left in the older
    directory, time travel reads the partition as of each snapshot,
    gc preserves history dirs, and expire_snapshots bounds retention."""
    t = IcebergLiteTable(tmp_path / "tbl")
    df1 = spark.createDataFrame(
        [("EU", 1), ("EU", 2), ("AS", 3)], "subgrid string, v int"
    )
    m1 = t.write_partitioned(df1, "subgrid", meta={"run": 1})

    # overwrite ONLY partition EU with new values
    df2 = spark.createDataFrame([("EU", 10)], "subgrid string, v int")
    m2 = t.write_partitioned(df2, "subgrid", meta={"run": 2}, resume=False)

    cur = sorted(map(tuple, t.read(spark).select("v", "subgrid").collect()))
    assert cur == [(3, "AS"), (10, "EU")]  # stale EU rows 1,2 excluded
    old = sorted(
        map(
            tuple,
            t.read(spark, snapshot_id=m1["snapshot_id"])
            .select("v", "subgrid")
            .collect(),
        )
    )
    assert old == [(1, "EU"), (2, "EU"), (3, "AS")]

    # the chain lists both snapshots, newest first
    chain = t.snapshots()
    assert [s["snapshot_id"] for s in chain] == [
        m2["snapshot_id"],
        m1["snapshot_id"],
    ]

    # gc keeps the history dir (referenced by manifest-1 only)
    assert t.gc_uncommitted() == []
    assert t.read(spark, snapshot_id=m1["snapshot_id"]).count() == 3

    # expire to the newest snapshot: manifest-1 gone, snap-1 dir KEPT
    # (current still reads AS from it), time travel now fails loudly
    res = t.expire_snapshots(keep_last=1)
    assert res["removed_manifests"] == [m1["snapshot_id"]]
    assert res["removed_dirs"] == []  # snap-1 still referenced by CURRENT
    with pytest.raises(FileNotFoundError, match="expired"):
        t.read(spark, snapshot_id=m1["snapshot_id"])
    assert sorted(
        map(tuple, t.read(spark).select("v", "subgrid").collect())
    ) == [(3, "AS"), (10, "EU")]


def test_expire_drops_fully_superseded_dirs(spark, tmp_path):
    """A snapshot dir every partition of which was overwritten later is
    deleted once the manifests referencing it expire."""
    t = IcebergLiteTable(tmp_path / "tbl")
    df1 = spark.createDataFrame([("EU", 1)], "subgrid string, v int")
    m1 = t.write_partitioned(df1, "subgrid")
    snap1 = {p["snap_dir"] for p in m1["partitions"]}.pop()
    df2 = spark.createDataFrame([("EU", 2)], "subgrid string, v int")
    t.write_partitioned(df2, "subgrid", resume=False)

    assert (t.data_dir / snap1).exists()  # history kept while manifest-1 lives
    res = t.expire_snapshots(keep_last=1)
    assert res["removed_dirs"] == [snap1]
    assert [r.v for r in t.read(spark).collect()] == [2]


def test_orphan_manifest_never_serves_time_travel(spark, tmp_path):
    """A manifest written by a crash BETWEEN the manifest write and the
    CURRENT flip must not be readable via read(snapshot_id=...) —
    uncommitted writes are never visible (ADVICE r5) — and gc removes
    it (with its data) once past the in-flight grace period."""
    import json
    import os
    import time

    df = spark.createDataFrame([("EU", 1), ("AS", 2)], "subgrid string, v int")
    t = IcebergLiteTable(tmp_path / "tbl")
    t.write_partitioned(df, "subgrid", meta={"run": 1})

    # hand-craft the crash: data dir + manifest file, no CURRENT flip
    orphan_dir = t.data_dir / "snap-orphan1"
    df.write.partitionBy("subgrid").parquet(str(orphan_dir))
    orphan_manifest = t.manifest_dir / "manifest-orphan1.json"
    orphan_manifest.write_text(json.dumps({
        "snapshot_id": "orphan1",
        "parent_id": t.current_manifest()["snapshot_id"],
        "committed_at_unix": time.time(),
        "meta": {},
        "partition_col": "subgrid",
        "partitions": [
            {"partition": "EU", "snap_dir": "snap-orphan1", "n_rows": 1},
            {"partition": "AS", "snap_dir": "snap-orphan1", "n_rows": 1},
        ],
        "total_rows": 2,
    }))

    with pytest.raises(FileNotFoundError, match="orphan"):
        t.read(spark, snapshot_id="orphan1")
    # the chain listing never shows it either
    assert "orphan1" not in {s["snapshot_id"] for s in t.snapshots()}

    # within the grace period the orphan pins its data (in-flight commit
    # tolerance) but stays invisible
    assert t.gc_uncommitted() == []
    assert orphan_dir.exists() and orphan_manifest.exists()

    # age it out -> gc removes manifest AND data
    old = time.time() - IcebergLiteTable._GC_ORPHAN_GRACE_S - 60
    os.utime(orphan_manifest, (old, old))
    removed = t.gc_uncommitted()
    assert "snap-orphan1" in removed
    assert not orphan_dir.exists() and not orphan_manifest.exists()
    assert t.read(spark).count() == 2  # committed data untouched


def test_compact_binpacks_preserving_time_travel(spark, tmp_path):
    """VERDICT r5 #5: streaming/incremental writes accumulate one
    snapshot dir (and its small files) per commit; compact() must
    rewrite the live file set into one directory under a NEW snapshot
    — read-equal before/after, time travel to a pre-compaction id
    still correct, gc leaving referenced history alone — and
    expire_snapshots afterwards retires the superseded directories."""
    df = spark.createDataFrame(
        [(f"P{i % 4}", i) for i in range(400)], "part string, v int"
    ).repartition(8)
    t = IcebergLiteTable(tmp_path / "tbl")
    # one snapshot per partition value -> 4 snapshot dirs
    t.write_partitioned_incremental(df, "part", group_size=1)
    pre = t.current_manifest()
    pre_rows = sorted(map(tuple, t.read(spark).collect()))
    assert len({p["snap_dir"] for p in pre["partitions"]}) == 4

    m = t.compact(spark, target_file_rows=1000)
    # the 4-directory read set collapses to one
    assert (m["dirs_before"], m["dirs_after"]) == (4, 1)
    assert len({p["snap_dir"] for p in m["partitions"]}) == 1
    assert m["total_rows"] == pre["total_rows"]

    # read equality post-compaction
    assert sorted(map(tuple, t.read(spark).collect())) == pre_rows
    # time travel to the pre-compaction snapshot still reads old dirs
    assert (
        sorted(map(tuple, t.read(spark, snapshot_id=pre["snapshot_id"]).collect()))
        == pre_rows
    )
    # gc must not touch directories referenced by chain history
    assert t.gc_uncommitted() == []
    assert sorted(
        map(tuple, t.read(spark, snapshot_id=pre["snapshot_id"]).collect())
    ) == pre_rows

    # right-sizing: a tiny roll target splits each 100-row partition
    m2 = t.compact(spark, target_file_rows=30)
    assert m2["files_after"] > m2["files_before"]
    assert sorted(map(tuple, t.read(spark).collect())) == pre_rows

    # retention: expiring history retires the superseded directories
    res = t.expire_snapshots(keep_last=1)
    assert res["removed_dirs"]  # old snap dirs gone
    assert sorted(map(tuple, t.read(spark).collect())) == pre_rows
    with pytest.raises(FileNotFoundError):
        t.read(spark, snapshot_id=pre["snapshot_id"])


def test_manifest_stats_prune_scan_planning(spark, tmp_path):
    """Iceberg-style manifest stats: stat_cols records per-partition
    min/max alongside the row counts; read(prune=...) skips provably
    non-matching (directory, partition) pairs at manifest-planning time
    (no file listing), stays conservative for stat-less entries, and
    pruning NEVER changes the filtered result — only the scan set."""
    # partition P0 holds v in [0,99], P1 [100,199], P2 [200,299]
    df = spark.createDataFrame(
        [(f"P{i // 100}", i) for i in range(300)], "part string, v int"
    )
    t = IcebergLiteTable(tmp_path / "tbl")
    m = t.write_partitioned(df, "part", stat_cols=["v"])
    stats = {p["partition"]: p["stats"]["v"] for p in m["partitions"]}
    assert stats == {
        "P0": {"min": 0, "max": 99},
        "P1": {"min": 100, "max": 199},
        "P2": {"min": 200, "max": 299},
    }

    # planning: v in [120, 150] can only live in P1
    kept, skipped = t.plan_scan(prune={"v": (120, 150)})
    assert [p["partition"] for p in kept] == ["P1"]
    assert [p["partition"] for p in skipped] == ["P0", "P2"]
    # open bounds
    kept, _ = t.plan_scan(prune={"v": (None, 99)})
    assert [p["partition"] for p in kept] == ["P0"]
    kept, _ = t.plan_scan(prune={"v": (200, None)})
    assert [p["partition"] for p in kept] == ["P2"]

    # pruned read == unpruned read + filter (pruning is planning only;
    # the caller still applies the row filter)
    got = sorted(
        map(
            tuple,
            t.read(spark, prune={"v": (120, 150)})
            .where("v BETWEEN 120 AND 150")
            .collect(),
        )
    )
    ref = sorted(
        map(
            tuple,
            t.read(spark).where("v BETWEEN 120 AND 150").collect(),
        )
    )
    assert got == ref and len(got) == 31
    # and the pruned plan really reads fewer files
    assert len(t.read(spark, prune={"v": (120, 150)}).inputFiles()) < len(
        t.read(spark).inputFiles()
    )

    # everything pruned: empty frame, schema intact
    empty = t.read(spark, prune={"v": (1000, None)})
    assert empty.count() == 0
    assert {f.name for f in empty.schema.fields} == {"part", "v"}

    # stat-less entries are conservatively kept: append a partition
    # without stats, prune on v — the new entry must survive planning
    t.write_partitioned(
        spark.createDataFrame([("P3", 5)], "part string, v int"), "part"
    )
    kept, _ = t.plan_scan(prune={"v": (120, 150)})
    assert {p["partition"] for p in kept} == {"P1", "P3"}


def test_manifest_stats_survive_compaction_and_incremental(spark, tmp_path):
    """Stats ride the incremental per-group commits and carry over
    through compact() unchanged (compaction moves bytes, never rows)."""
    df = spark.createDataFrame(
        [(f"P{i // 100}", i) for i in range(300)], "part string, v int"
    )
    t = IcebergLiteTable(tmp_path / "tbl")
    t.write_partitioned_incremental(df, "part", group_size=1, stat_cols=["v"])
    pre = {
        p["partition"]: p["stats"]["v"]
        for p in t.current_manifest()["partitions"]
    }
    assert pre["P2"] == {"min": 200, "max": 299}
    assert len({p["snap_dir"] for p in t.current_manifest()["partitions"]}) == 3

    t.compact(spark, target_file_rows=1000)
    post = {
        p["partition"]: p["stats"]["v"]
        for p in t.current_manifest()["partitions"]
    }
    assert post == pre
    # pruning still plans correctly over the compacted single dir
    kept, skipped = t.plan_scan(prune={"v": (None, 50)})
    assert [p["partition"] for p in kept] == ["P0"]
    assert len(skipped) == 2


def test_compact_sort_order_clusters_files(spark, tmp_path):
    """compact(sort_cols=...) = Iceberg's rewrite-with-sort-order:
    after the rewrite every rolled file holds a contiguous sorted run
    of the sort column (tight, near-disjoint per-file ranges — the
    layout parquet footer-stats pruning needs), with read equality and
    partition-grain manifest stats unchanged."""
    import random

    rng = random.Random(7)
    rows = [("P0", v) for v in rng.sample(range(10_000), 1000)] + [
        ("P1", v) for v in rng.sample(range(10_000), 1000)
    ]
    df = spark.createDataFrame(rows, "part string, v int").repartition(8)
    t = IcebergLiteTable(tmp_path / "tbl")
    t.write_partitioned(df, "part", stat_cols=["v"])
    pre_rows = sorted(map(tuple, t.read(spark).collect()))
    pre_stats = {
        p["partition"]: p["stats"]["v"]
        for p in t.current_manifest()["partitions"]
    }

    m = t.compact(spark, target_file_rows=250, sort_cols=["v"])
    assert m["meta"]["sort_cols"] == ["v"]
    assert sorted(map(tuple, t.read(spark).collect())) == pre_rows
    assert {
        p["partition"]: p["stats"]["v"]
        for p in t.current_manifest()["partitions"]
    } == pre_stats

    # per-file: sorted within, and file ranges within a partition are
    # disjoint (each file is one contiguous run of the partition sort)
    files = t.read(spark).inputFiles()
    assert len(files) >= 8  # 2 partitions x >=4 rolled files
    by_part: dict[str, list[tuple[int, int]]] = {}
    for f in files:
        vals = [r.v for r in spark.read.parquet(f).select("v").collect()]
        assert vals == sorted(vals), f"unsorted file {f}"
        part = [seg for seg in f.split("/") if seg.startswith("part=")][0]
        by_part.setdefault(part, []).append((vals[0], vals[-1]))
    for part, ranges in by_part.items():
        ranges.sort()
        for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
            assert hi1 <= lo2, f"overlapping file ranges in {part}"


def test_flagship_sink_records_geo_stats(spark, tmp_path):
    """The flagship job's iceberg-lite sink records ll_x/ll_y manifest
    stats, so a projected-bbox reader can prune
    (snapshot, subgrid) pairs from metadata. Pruned read == plain
    read+filter (pruning is planning only), an out-of-domain bbox
    prunes everything to an empty frame with the sink schema."""
    from equi7grid_spark.images import synthetic_images
    from equi7grid_spark.jobs.assign_and_join import run

    imgs = synthetic_images(spark, 50_000, with_bytes=False)
    inp = tmp_path / "imgs"
    imgs.write.parquet(str(inp))
    out = tmp_path / "tiles"
    run(spark, str(inp), "T6", str(out))

    t = IcebergLiteTable(out)
    for p in t.current_manifest()["partitions"]:
        s = p["stats"]
        assert s["ll_x"]["min"] <= s["ll_x"]["max"]
        assert s["ll_y"]["min"] <= s["ll_y"]["max"]

    bbox = {"ll_x": (4.2e6, 5.4e6), "ll_y": (1.2e6, 1.8e6)}
    pred = (
        "ll_x BETWEEN 4.2e6 AND 5.4e6 AND ll_y BETWEEN 1.2e6 AND 1.8e6"
    )
    got = sorted(map(tuple, t.read(spark, prune=bbox).where(pred).collect()))
    ref = sorted(map(tuple, t.read(spark).where(pred).collect()))
    assert got == ref and got  # non-empty window, identical rows

    empty = t.read(spark, prune={"ll_x": (1e9, None)})
    assert empty.count() == 0
    assert "tilename" in empty.columns and "subgrid" in empty.columns


def test_delete_where_copy_on_write(spark, tmp_path):
    """Copy-on-write DELETE: only partitions that actually contain
    matching rows are rewritten; stat-pruned and zero-match partitions
    keep their original file entries byte-for-byte; emptied partitions
    drop out of the manifest; time travel to the pre-delete snapshot
    still reads every original row."""
    # P0 holds v in [0,99], P1 [100,199], P2 [200,299], P3 [300,399]
    df = spark.createDataFrame(
        [(f"P{i // 100}", i) for i in range(400)], "part string, v int"
    )
    t = IcebergLiteTable(tmp_path / "tbl")
    m0 = t.write_partitioned(df, "part", stat_cols=["v"])
    dirs0 = {p["partition"]: p["snap_dir"] for p in m0["partitions"]}

    # delete v in [120, 150]: prune keeps P1+P2 is wrong — stats say
    # only P1 can match; pass a DELIBERATELY loose prune (120, 250) so
    # phase 2 must discover that P2 (kept by prune) has zero matches
    m1 = t.delete_where(
        spark, "v BETWEEN 120 AND 150", prune={"v": (120, 250)}
    )
    assert m1["committed"] is True
    assert m1["rewritten"] == ["P1"]          # P2 scanned, not rewritten
    assert m1["dropped"] == []
    assert m1["deleted_rows"] == 31
    assert m1["pruned_untouched"] == ["P0", "P3"]
    cur = {p["partition"]: p for p in t.current_manifest()["partitions"]}
    # untouched entries carry over identically (same snapshot dir)
    for v in ("P0", "P2", "P3"):
        assert cur[v]["snap_dir"] == dirs0[v]
    assert cur["P1"]["snap_dir"] != dirs0["P1"]
    # stats recomputed for the rewritten partition
    assert cur["P1"]["stats"]["v"] == {"min": 100, "max": 199}
    assert cur["P1"]["rows"] == 69
    got = sorted(r[0] for r in t.read(spark).select("v").collect())
    assert got == [i for i in range(400) if not (120 <= i <= 150)]

    # time travel to pre-delete: all 400 rows still there
    assert t.read(spark, snapshot_id=m0["snapshot_id"]).count() == 400

    # delete everything in P2: the partition drops from the manifest
    m2 = t.delete_where(spark, F.col("part") == "P2")
    assert m2["rewritten"] == [] and m2["dropped"] == ["P2"]
    assert m2["deleted_rows"] == 100
    assert "P2" not in t.committed_partitions()
    assert t.read(spark).count() == 269

    # zero-match delete: no snapshot committed, chain unchanged
    n_before = len(t.snapshots())
    m3 = t.delete_where(spark, "v > 10000")
    assert m3["committed"] is False and m3["deleted_rows"] == 0
    assert len(t.snapshots()) == n_before


def test_merge_upsert_copy_on_write(spark, tmp_path):
    """Copy-on-write MERGE: source rows replace same-key target rows or
    insert; only source-touched partitions rewrite (untouched entries
    carry over), brand-new partitions append, stats recompute, and the
    result equals the naive anti-join ∪ source recompute."""
    df = spark.createDataFrame(
        [(f"P{i % 3}", i, i * 10) for i in range(30)],
        "part string, id int, v int",
    )
    t = IcebergLiteTable(tmp_path / "tbl")
    m0 = t.write_partitioned(df, "part", stat_cols=["v"])
    dirs0 = {p["partition"]: p["snap_dir"] for p in m0["partitions"]}

    # source: update ids 0,3 (P0), insert id 100 (P0), new partition P9
    src = spark.createDataFrame(
        [("P0", 0, -1), ("P0", 3, -2), ("P0", 100, -3), ("P9", 200, -4)],
        "part string, id int, v int",
    )
    m1 = t.merge_upsert(spark, src, ["id"])
    assert m1["rewritten"] == ["P0"]
    assert m1["new_partitions"] == ["P9"]
    assert m1["untouched"] == 2

    cols = ["part", "id", "v"]
    ref = sorted(
        map(
            tuple,
            df.join(src, "id", "left_anti")
            .unionByName(src)
            .select(cols)
            .collect(),
        )
    )
    got = sorted(map(tuple, t.read(spark).select(cols).collect()))
    assert got == ref

    cur = {p["partition"]: p for p in t.current_manifest()["partitions"]}
    for v in ("P1", "P2"):
        assert cur[v]["snap_dir"] == dirs0[v]      # not rewritten
    assert cur["P0"]["snap_dir"] != dirs0["P0"]
    assert cur["P0"]["rows"] == 11                 # 10 − 2 replaced + 3 src
    # stats recomputed over the merged partition (negative v now present)
    assert cur["P0"]["stats"]["v"]["min"] == -3
    assert cur["P9"]["stats"]["v"] == {"min": -4, "max": -4}

    # time travel to pre-merge snapshot: original values intact
    old = t.read(spark, snapshot_id=m0["snapshot_id"])
    assert old.count() == 30
    assert old.filter("id = 0").select("v").collect()[0][0] == 0


def test_string_partition_keeps_its_form_when_read_alone(spark, tmp_path):
    """A string partition whose value looks like a number (`01`) keeps
    its form in every read path: merge_upsert and delete_where read the
    touched entry alone, where Spark would infer the int 1 from the
    path, and must write it back as `01`, not as a new partition `1`."""
    t = IcebergLiteTable(tmp_path / "tbl")
    t.write_partitioned(
        spark.createDataFrame(
            [("01", 1, 10), ("01", 2, 20), ("A", 3, 30)],
            "part string, id int, v int",
        ),
        "part", stat_cols=["v"],
    )
    m = t.merge_upsert(
        spark,
        spark.createDataFrame([("01", 1, -1)], "part string, id int, v int"),
        ["id"],
    )
    assert m["rewritten"] == ["01"] and m["new_partitions"] == []
    assert sorted(p["partition"] for p in t.current_manifest()["partitions"]) == ["01", "A"]
    got = sorted(map(tuple, t.read(spark).select("part", "id", "v").collect()))
    assert got == [("01", 1, -1), ("01", 2, 20), ("A", 3, 30)]
    # a read whose pruning keeps the `01` entry alone
    alone = t.read(spark, prune={"v": (-5, 0)}).select("part", "id").collect()
    assert sorted(map(tuple, alone)) == [("01", 1), ("01", 2)]
    d = t.delete_where(spark, "id = 2")
    assert d["rewritten"] == ["01"]
    assert sorted(p["partition"] for p in t.current_manifest()["partitions"]) == ["01", "A"]
    got = sorted(map(tuple, t.read(spark).select("part", "id", "v").collect()))
    assert got == [("01", 1, -1), ("A", 3, 30)]


def test_schema_evolution_add_drop_columns(spark, tmp_path):
    """Metadata-only ADD/DROP COLUMN: add_columns commits a schema-only
    snapshot (no data dir); pre-add rows read the recorded default,
    post-add rows read real values across mixed physical schemas;
    drop_columns projects away without rewriting; time travel serves
    each snapshot's own schema; compact physically migrates old files
    to the evolved schema."""
    df = spark.createDataFrame(
        [(f"P{i % 2}", i, i * 10) for i in range(20)],
        "part string, id int, v int",
    )
    t = IcebergLiteTable(tmp_path / "tbl")
    m0 = t.write_partitioned(df, "part", stat_cols=["v"])
    assert [f.name for f in t.schema().fields] == ["part", "id", "v"]

    # metadata-only add: no new data directory appears
    n_dirs = len(list((tmp_path / "tbl" / "data").iterdir()))
    m1 = t.add_columns({"score": "double"}, defaults={"score": 0.5})
    assert m1["added"] == ["score"]
    assert len(list((tmp_path / "tbl" / "data").iterdir())) == n_dirs
    r = t.read(spark)
    assert r.columns == ["part", "id", "v", "score"]
    assert r.filter("score = 0.5").count() == 20      # default fills pre-add rows
    assert dict(r.dtypes)["score"] == "double"

    # post-add write carries real values; old dir still lacks the column
    extra = spark.createDataFrame(
        [("P9", 100, 0, 9.9)], "part string, id int, v int, score double"
    )
    t.write_partitioned(extra, "part")
    r = t.read(spark)
    assert r.count() == 21
    assert r.filter("part = 'P9'").select("score").collect()[0][0] == 9.9
    assert r.filter("part != 'P9'").filter("score = 0.5").count() == 20

    # predicates over the added column work through delete/merge reads
    md = t.delete_where(spark, "score > 9")
    assert md["deleted_rows"] == 1 and md["dropped"] == ["P9"]

    # duplicate add and partition-col drop are rejected
    with pytest.raises(ValueError):
        t.add_columns({"score": "double"})
    with pytest.raises(ValueError):
        t.drop_columns(["part"])

    # drop is metadata-only; time travel shows each snapshot's schema
    m2 = t.drop_columns(["v"])
    assert t.read(spark).columns == ["part", "id", "score"]
    old = t.read(spark, snapshot_id=m0["snapshot_id"])
    assert old.columns == ["part", "id", "v"]          # pre-evolution schema
    assert old.count() == 20
    mid = t.read(spark, snapshot_id=m1["snapshot_id"])
    assert mid.columns == ["part", "id", "v", "score"]

    # compact physically migrates the evolved schema; reads unchanged
    before = sorted(map(tuple, t.read(spark).collect()))
    t.compact(spark)
    assert sorted(map(tuple, t.read(spark).collect())) == before
    import pyarrow.parquet as pq
    snap = {p["snap_dir"] for p in t.current_manifest()["partitions"]}
    f = next((tmp_path / "tbl" / "data" / snap.pop()).rglob("part-*.parquet"))
    names = set(pq.read_schema(str(f)).names)
    assert "score" in names and "v" not in names


def test_file_grain_manifest_pruning(spark, tmp_path):
    """Per-file manifest records: writes track exact data files (reads
    are manifest-driven, no directory listing); after a sort-order
    compact rolls each partition into files covering tight value
    ranges, a ranged read prunes FILES inside kept partitions — the
    read set shrinks below partition grain and results stay exact."""
    df = spark.createDataFrame(
        [(f"P{i % 2}", i, i) for i in range(2000)],
        "part string, id int, v int",
    )
    t = IcebergLiteTable(tmp_path / "tbl")
    t.write_partitioned(df, "part", stat_cols=["v"])
    m = t.current_manifest()
    # every entry carries file records whose rows sum to the partition's
    for p in m["partitions"]:
        assert p["files"] and all("path" in f for f in p["files"])
        assert sum(f["rows"] for f in p["files"]) == p["rows"]
        assert "v" in p["files"][0]["stats"]

    # sort-order compact: ~5 files per partition, disjoint v ranges
    t.compact(spark, target_file_rows=200, sort_cols=["v"])
    cur = {p["partition"]: p for p in t.current_manifest()["partitions"]}
    assert len(cur["P0"]["files"]) >= 4
    ranges = sorted(
        (f["stats"]["v"]["min"], f["stats"]["v"]["max"])
        for f in cur["P0"]["files"]
    )
    for (a_lo, a_hi), (b_lo, b_hi) in zip(ranges, ranges[1:]):
        assert a_hi < b_lo                     # disjoint after the sort

    # ranged plan: both partitions kept, but most files pruned
    kept, skipped = t.plan_scan(prune={"v": (100, 150)})
    assert {p["partition"] for p in kept} == {"P0", "P1"}
    assert all(p["files_pruned"] >= 3 for p in kept)
    assert sum(len(p["files"]) for p in kept) <= 4   # of ~10 total

    got = sorted(
        r[0]
        for r in t.read(spark, prune={"v": (100, 150)})
        .where("v BETWEEN 100 AND 150")
        .select("v")
        .collect()
    )
    assert got == list(range(100, 151))

    # a range outside every file's stats skips the whole table
    kept2, skipped2 = t.plan_scan(prune={"v": (10_000, None)})
    assert kept2 == [] and len(skipped2) == 2
    assert t.read(spark, prune={"v": (10_000, None)}).count() == 0

    # delete over a pruned read still rewrites from FULL partitions
    t.delete_where(spark, "v BETWEEN 0 AND 9", prune={"v": (0, 9)})
    assert t.read(spark).count() == 1990
    assert sorted(
        r[0] for r in t.read(spark).where("v < 20").select("v").collect()
    ) == list(range(10, 20))


def test_incremental_changes_and_read(spark, tmp_path):
    """Incremental consumption: changes() nets inserted/rewritten/
    dropped partitions over a snapshot window, skipping data-neutral
    commits (compact, schema evolution); read_changes() serves the
    append-only feed (raising when the window holds rewrites) and the
    partition-grain CDC feed."""
    mk = lambda rows: spark.createDataFrame(rows, "part string, id int, v int")
    t = IcebergLiteTable(tmp_path / "tbl")
    m0 = t.write_partitioned(
        mk([("P0", 0, 0), ("P0", 1, 10), ("P1", 2, 20)]), "part",
        stat_cols=["v"],
    )
    # append-only window: new partition P2
    m1 = t.write_partitioned(mk([("P2", 3, 30), ("P2", 4, 40)]), "part")
    ch = t.changes(m0["snapshot_id"])
    assert (ch["inserted"], ch["rewritten"], ch["dropped"]) == (["P2"], [], [])
    inc = t.read_changes(spark, m0["snapshot_id"])
    assert sorted(r["id"] for r in inc.collect()) == [3, 4]

    # compact + schema add are data-neutral: nothing new to read
    t.compact(spark)
    t.add_columns({"q": "double"}, defaults={"q": 1.0})
    ch = t.changes(m1["snapshot_id"])
    assert ch["inserted"] == [] and ch["rewritten"] == [] and ch["dropped"] == []
    assert ch["data_neutral_commits_skipped"] == 2
    assert t.read_changes(spark, m1["snapshot_id"]).count() == 0

    # merge rewrites P1, delete drops P0
    t.merge_upsert(spark, spark.createDataFrame(
        [("P1", 2, -1, 0.5)], "part string, id int, v int, q double"), ["id"])
    t.delete_where(spark, "part = 'P0'")
    ch = t.changes(m0["snapshot_id"])
    assert (ch["inserted"], ch["rewritten"], ch["dropped"]) == (
        ["P2"], ["P1"], ["P0"])
    with pytest.raises(ValueError, match="rewritten"):
        t.read_changes(spark, m0["snapshot_id"])
    cdc = t.read_changes(
        spark, m0["snapshot_id"], mode="changed_partitions"
    )
    got = sorted((r["part"], r["id"], r["v"]) for r in cdc.collect())
    assert got == [("P1", 2, -1), ("P2", 3, 30), ("P2", 4, 40)]
    # rows arrive schema-reconciled to the TO snapshot (q present)
    assert dict(cdc.dtypes)["q"] == "double"

    # bounded window [m0 -> m1]: P1's later rewrite is invisible
    ch01 = t.changes(m0["snapshot_id"], m1["snapshot_id"])
    assert (ch01["inserted"], ch01["rewritten"], ch01["dropped"]) == (
        ["P2"], [], [])
    # reversed window and unknown ids fail loudly
    with pytest.raises(ValueError):
        t.changes(m1["snapshot_id"], m0["snapshot_id"])
    with pytest.raises(FileNotFoundError):
        t.changes("deadbeef00000000")


def test_cdc_feed_folds_to_final_state(spark, tmp_path):
    """The incremental consumer recipe: keep a mirror, and per
    snapshot window apply read_changes(mode='changed_partitions') as
    a partition upsert + changes()['dropped'] as partition deletes.
    Folding the feeds across every consecutive snapshot pair of a
    mixed append/overwrite/delete chain reproduces the final table
    exactly — the pattern a downstream pipeline runs against the
    streaming label sink's per-batch overwrite commits."""
    mk = lambda rows: spark.createDataFrame(rows, "part string, id int")
    t = IcebergLiteTable(tmp_path / "tbl")
    t.write_partitioned(mk([("A", 1), ("B", 2)]), "part")
    t.write_partitioned(mk([("A", 10), ("C", 3)]), "part", resume=False)
    t.delete_where(spark, "part = 'B'")
    t.write_partitioned(mk([("D", 4), ("A", 10)]), "part")  # resume skips A
    ids = [s["snapshot_id"] for s in t.snapshots()][::-1]  # oldest first

    mirror: dict[str, list] = {}
    for since, to in zip(ids, ids[1:]):
        ch = t.changes(since, to)
        feed = t.read_changes(spark, since, to, mode="changed_partitions")
        for part, rows in (
            (k, [tuple(r) for r in g])
            for k, g in __import__("itertools").groupby(
                sorted(feed.collect(), key=lambda r: r["part"]),
                key=lambda r: r["part"],
            )
        ):
            mirror[part] = sorted(rows)
        for part in ch["dropped"]:
            mirror.pop(part, None)

    final = {}
    for r in t.read(spark).collect():
        final.setdefault(r["part"], []).append(tuple(r))
    final = {k: sorted(v) for k, v in final.items()}
    assert mirror == final
    assert set(mirror) == {"A", "C", "D"}


def test_snapshot_tags_survive_retention(spark, tmp_path):
    """Iceberg-style tags: tag() pins a name to a snapshot; the tagged
    snapshot (manifest + data) survives expire_snapshots and gc beyond
    the keep_last window and stays readable via read(tag=...) /
    read(snapshot_id=...); drop_tag makes it expirable again."""
    mk = lambda v: spark.createDataFrame([("A", v)], "part string, v int")
    t = IcebergLiteTable(tmp_path / "tbl")
    t.write_partitioned(mk(1), "part")
    t.tag("training-set-v1")           # tags CURRENT
    v1_id = t.tags()["training-set-v1"]
    for v in (2, 3, 4):
        t.write_partitioned(mk(v), "part", resume=False)

    t.expire_snapshots(keep_last=1)
    # intermediates gone, the tagged snapshot + CURRENT remain
    remaining = {f.stem.split("-", 1)[1] for f in t._manifest_files()}
    assert v1_id in remaining and len(remaining) == 2
    assert t.read(spark, tag="training-set-v1").collect()[0]["v"] == 1
    assert t.read(spark, snapshot_id=v1_id).count() == 1
    assert t.read(spark).collect()[0]["v"] == 4

    with pytest.raises(KeyError):
        t.read(spark, tag="nope")
    with pytest.raises(ValueError):
        t.read(spark, snapshot_id=v1_id, tag="training-set-v1")
    # tagging an expired (unprotected) id fails loudly
    with pytest.raises(FileNotFoundError):
        t.tag("bad", "ffffffffffffffff")

    # drop the tag: the snapshot becomes expirable and is reclaimed
    t.drop_tag("training-set-v1")
    t.expire_snapshots(keep_last=1)
    with pytest.raises(FileNotFoundError):
        t.read(spark, snapshot_id=v1_id)
    assert t.read(spark).collect()[0]["v"] == 4


def test_write_audit_publish(spark, tmp_path):
    """WAP: stage_only writes land data + manifest WITHOUT the CURRENT
    flip — readers see the old table; the audit job reads the staged
    snapshot explicitly; publish() flips atomically (refusing when a
    commit landed in between); abort_staged() discards the staged
    manifest and gc's its data."""
    mk = lambda rows: spark.createDataFrame(rows, "part string, v int")
    t = IcebergLiteTable(tmp_path / "tbl")
    t.write_partitioned(mk([("A", 1)]), "part")

    st = t.write_partitioned(
        mk([("A", 2), ("B", 3)]), "part", resume=False, stage_only=True
    )
    assert st["staged"] is True
    sid = st["snapshot_id"]
    # invisible to readers; auditable explicitly
    assert [r["v"] for r in t.read(spark).collect()] == [1]
    audit = t.read(spark, snapshot_id=sid)
    assert sorted(r["v"] for r in audit.collect()) == [2, 3]
    assert sid in t.staged()

    # gc must not touch staged data even though CURRENT ignores it
    t.gc_uncommitted()
    assert t.read(spark, snapshot_id=sid).count() == 2

    # audit passed: publish flips atomically
    t.publish(sid)
    assert sorted(r["v"] for r in t.read(spark).collect()) == [2, 3]
    assert t.staged() == {}
    with pytest.raises(KeyError):
        t.publish(sid)  # no longer staged

    # stale staged snapshot: a commit lands after staging -> publish
    # refuses, abort discards manifest + data
    st2 = t.write_partitioned(
        mk([("A", 9)]), "part", resume=False, stage_only=True
    )
    t.write_partitioned(mk([("C", 7)]), "part")        # interleaved commit
    with pytest.raises(ValueError, match="re-stage"):
        t.publish(st2["snapshot_id"])
    removed = t.abort_staged(st2["snapshot_id"])
    assert removed                                     # its dir gc'd
    with pytest.raises(FileNotFoundError):
        t.read(spark, snapshot_id=st2["snapshot_id"])
    assert sorted(r["v"] for r in t.read(spark).collect()) == [2, 3, 7]


def test_partial_compaction_with_planner(spark, tmp_path):
    """Partial compaction: plan_compaction picks the fragmented
    partitions from manifest metadata alone (read-amplification: keep
    the largest dirs, rewrite the residue of incremental commits);
    compact(partitions=...) rewrites ONLY those — untouched entries
    keep their snapshot dirs, reads stay equal, the op remains
    data-neutral for incremental consumers."""
    df = spark.createDataFrame(
        [(f"P{i:02d}", j, i * 100 + j) for i in range(8) for j in range(50)],
        "part string, id int, v int",
    )
    t = IcebergLiteTable(tmp_path / "tbl")
    # one snapshot dir per partition — the incremental/streaming shape
    t.write_partitioned_incremental(df, "part", group_size=1, stat_cols=["v"])
    m0 = t.current_manifest()
    assert len({p["snap_dir"] for p in m0["partitions"]}) == 8

    plan = t.plan_compaction(max_dirs=3)
    assert plan["dirs_before"] == 8
    assert len(plan["kept_dirs"]) == 2 and len(plan["rewrite"]) == 6

    before = sorted(map(tuple, t.read(spark).collect()))
    mc = t.compact(spark, partitions=plan["rewrite"])
    assert mc["partitions_rewritten"] == 6
    assert mc["partitions_untouched"] == 2
    cur = {p["partition"]: p for p in t.current_manifest()["partitions"]}
    old = {p["partition"]: p["snap_dir"] for p in m0["partitions"]}
    kept = [v for v in cur if cur[v]["snap_dir"] == old[v]]
    assert len(kept) == 2                       # untouched carry over
    assert len({p["snap_dir"] for p in cur.values()}) == 3  # 2 kept + 1 new
    assert sorted(map(tuple, t.read(spark).collect())) == before

    # data-neutral for incremental consumers; healthy table replans empty
    ch = t.changes(m0["snapshot_id"])
    assert ch["inserted"] == [] and ch["rewritten"] == []
    assert t.plan_compaction(max_dirs=3)["rewrite"] == []

    # unknown partition fails loudly; empty list is a no-op
    with pytest.raises(ValueError):
        t.compact(spark, partitions=["nope"])
    n_snaps = len(t.snapshots())
    t.compact(spark, partitions=[])
    assert len(t.snapshots()) == n_snaps


def test_delete_where_null_semantics_and_write_validation(spark, tmp_path):
    """Hardening from review: (a) SQL DELETE semantics — rows whose
    condition evaluates to NULL survive the rewrite and are never
    counted; (b) NULL partition values fail loudly before any
    commit; (c) partition values Spark hive-escapes (':', '%') fail
    loudly instead of committing entries no read path matches;
    (d) staged ids cannot be tagged (a later abort would leave the
    tag dangling and pin retention forever)."""
    t = IcebergLiteTable(tmp_path / "tbl")
    df = spark.createDataFrame(
        [("A", 1, 10), ("A", 2, None), ("B", 3, None)],
        "part string, id int, x int",
    )
    t.write_partitioned(df, "part")

    # x > 5 is TRUE for id=1, NULL for id=2 (same partition) and id=3
    md = t.delete_where(spark, "x > 5")
    assert md["deleted_rows"] == 1 and md["rewritten"] == ["A"]
    got = sorted(r["id"] for r in t.read(spark).collect())
    assert got == [2, 3]            # NULL-condition rows survive

    with pytest.raises(ValueError, match="NULL values in partition"):
        t.write_partitioned(
            spark.createDataFrame([(None, 9, 9)], "part string, id int, x int"),
            "part", resume=False,
        )
    with pytest.raises(ValueError, match="escapes"):
        t.write_partitioned(
            spark.createDataFrame([("10:00", 9, 9)], "part string, id int, x int"),
            "part", resume=False,
        )
    # failed writes committed nothing
    assert sorted(r["id"] for r in t.read(spark).collect()) == [2, 3]

    st = t.write_partitioned(
        spark.createDataFrame([("C", 4, 4)], "part string, id int, x int"),
        "part", stage_only=True,
    )
    with pytest.raises(FileNotFoundError, match="staged"):
        t.tag("bad", st["snapshot_id"])


def test_expire_respects_inflight_commit_grace(spark, tmp_path):
    """expire_snapshots must not destroy another process's commit in
    the window between its manifest write and its CURRENT flip: a
    young off-chain manifest survives expiry (and keeps pinning its
    data); once aged past the grace it expires like any orphan."""
    import json
    import os
    import time

    df = spark.createDataFrame([("EU", 1)], "subgrid string, v int")
    t = IcebergLiteTable(tmp_path / "tbl")
    t.write_partitioned(df, "subgrid")
    t.write_partitioned(df, "subgrid", resume=False)

    inflight_dir = t.data_dir / "snap-inflight1"
    df.write.partitionBy("subgrid").parquet(str(inflight_dir))
    inflight = t.manifest_dir / "manifest-inflight1.json"
    inflight.write_text(json.dumps({
        "snapshot_id": "inflight1",
        "parent_id": t.current_manifest()["snapshot_id"],
        "committed_at_unix": time.time(),
        "meta": {},
        "partition_col": "subgrid",
        "partitions": [
            {"partition": "EU", "snap_dir": "snap-inflight1", "rows": 1},
        ],
        "total_rows": 1,
    }))

    out = t.expire_snapshots(keep_last=1)
    # the superseded CHAIN snapshot expired; the in-flight one did not
    assert "inflight1" not in out["removed_manifests"]
    assert len(out["removed_manifests"]) == 1
    assert inflight.exists() and inflight_dir.exists()

    # aged out -> expire treats it as a dead orphan
    old = time.time() - IcebergLiteTable._GC_ORPHAN_GRACE_S - 60
    os.utime(inflight, (old, old))
    out = t.expire_snapshots(keep_last=1)
    assert "inflight1" in out["removed_manifests"]
    assert not inflight.exists() and not inflight_dir.exists()


def test_manifest_entries_equal_their_files(spark, tmp_path):
    """Every commit kind builds its entries from the files it wrote:
    after each op, every chain manifest records partition_col, schema
    and column_defaults; every entry lists >= 1 file; its rows equal
    the sum of its file rows and the rows read back for its partition;
    its stats equal the min/max of the rows read back (int, double,
    string, date; NULLs ignored, an all-NULL column gives None). A
    timestamp stat column (INT96: no footer min/max) records null
    stats, and a pruned read on it equals the unpruned read."""
    import datetime

    schema = (
        "part string, id int, i int, d double, s string, dt date,"
        " ts timestamp, extra int"
    )
    stat_cols = ["i", "d", "s", "dt", "ts"]
    day = datetime.date(2024, 1, 1)

    def rows(part, ids, null_i=False):
        return [
            (part, k, None if null_i or k % 7 == 3 else (k * 37) % 101 - 50,
             k * 0.5 + 0.25, f"s{(k * 13) % 97:02d}",
             day + datetime.timedelta(days=k % 40),
             datetime.datetime(2024, 1, 1) + datetime.timedelta(hours=k), k)
            for k in ids
        ]

    mk = lambda r: spark.createDataFrame(r, schema).repartition(3)
    t = IcebergLiteTable(tmp_path / "tbl")

    def check():
        for snap in t.snapshots():
            m = t.manifest_by_id(snap["snapshot_id"])
            assert m["partition_col"] == "part"
            assert m["schema"] and isinstance(m["column_defaults"], dict)
            df = t.read(spark, snapshot_id=snap["snapshot_id"])
            cols = [c for c in stat_cols if c in df.columns]
            aggs = [F.count(F.lit(1)).alias("n")]
            for c in cols:
                aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
            back = {r["part"]: r for r in df.groupBy("part").agg(*aggs).collect()}
            assert set(back) == {p["partition"] for p in m["partitions"]}
            for p in m["partitions"]:
                r = back[p["partition"]]
                assert p["files"]
                assert p["rows"] == sum(f["rows"] for f in p["files"]) == r["n"]
                for c, st in p["stats"].items():
                    if c == "ts":
                        assert st == {"min": None, "max": None}
                        continue
                    want = [r[f"min_{c}"], r[f"max_{c}"]]
                    if c == "dt":
                        want = [v.isoformat() for v in want]
                    assert [st["min"], st["max"]] == want, (p["partition"], c)

    t.write_partitioned(
        mk(rows("P0", range(0, 40)) + rows("P1", range(40, 70))
           + rows("P2", range(70, 80), null_i=True)),
        "part", stat_cols=stat_cols,
    )
    check()
    t.write_partitioned_incremental(
        mk(rows("P3", range(80, 110)) + rows("P4", range(110, 120))),
        "part", group_size=1, stat_cols=stat_cols,
    )
    check()
    t.merge_upsert(
        spark, mk(rows("P0", [1, 2, 500]) + rows("P5", [600, 601])), ["id"]
    )
    check()
    t.delete_where(spark, "id % 3 = 0")
    check()
    # a prune that rules out every partition deletes nothing
    assert t.delete_where(spark, "d > 1e6", prune={"d": (1e6, None)})[
        "committed"] is False
    t.compact(spark, target_file_rows=7, sort_cols=["i"])
    check()
    t.add_columns({"q": "double"}, defaults={"q": 1.5})
    check()
    t.drop_columns(["extra"])
    check()

    lo, hi = datetime.datetime(2024, 1, 2), datetime.datetime(2024, 1, 4)
    pred = (F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi))
    got = sorted(map(tuple, t.read(spark, prune={"ts": (lo, hi)}).where(pred).collect()))
    ref = sorted(map(tuple, t.read(spark).where(pred).collect()))
    assert got == ref and got


def test_merge_upsert_job_floor(spark, tmp_path):
    """merge_upsert's Spark jobs on a fixed fixture stay at the floor
    measured when its entries came to be built from the written files
    (the write is the only pass over the merged data): a change that
    adds another pass over the input fails here."""
    import uuid

    sc = spark.sparkContext
    t = IcebergLiteTable(tmp_path / "tbl")
    t.write_partitioned(
        spark.createDataFrame(
            [(f"P{i % 3}", i, i * 10) for i in range(30)],
            "part string, id int, v int",
        ),
        "part", stat_cols=["v"],
    )
    src = spark.createDataFrame(
        [("P0", 0, -1), ("P0", 100, -3), ("P9", 200, -4)],
        "part string, id int, v int",
    )
    group = f"merge-upsert-floor-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "merge_upsert job floor")
    try:
        t.merge_upsert(spark, src, ["id"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    # 8 on the test session (local[8], 8 shuffle partitions); the
    # pre-write groupBy/agg/collect of the lineage stats made it 13
    assert 0 < n_jobs <= 8, n_jobs
