"""Streaming paths + salted mosaic grouped-map."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from equi7grid_spark.images import SCHEMA as IMAGES_SCHEMA
from equi7grid_spark.images import synthetic_images


def test_streaming_tile_assignment(spark, tmp_path):
    from equi7grid_spark.streaming.pipeline import (
        run_available_now,
        streaming_tile_assignment,
    )

    src = str(tmp_path / "landing")
    synthetic_images(spark, 500, with_bytes=False).write.parquet(src)
    out = streaming_tile_assignment(spark, src, IMAGES_SCHEMA)
    assert out.isStreaming
    q = run_available_now(out.select("image_id", "subgrid", "tilename"),
                          str(tmp_path / "ckpt"), "stream_assign")
    res = spark.sql("select * from stream_assign")
    assert res.count() == 500
    # streaming result == batch result
    from equi7grid_spark.operators.assign_jvm import assign_tiles_jvm

    batch = assign_tiles_jvm(synthetic_images(spark, 500, with_bytes=False)).select(
        "image_id", "subgrid", "tilename"
    )
    assert res.exceptAll(batch).count() == 0
    assert batch.exceptAll(res).count() == 0


def test_streaming_windowed_events(spark, tmp_path):
    from equi7grid_spark.streaming.pipeline import (
        run_available_now,
        streaming_windowed_event_counts,
    )

    # streaming parquet source needs a directory
    src = str(tmp_path / "events_landing")
    spark.read.parquet("/root/testdata/sf0.01/events.parquet").write.parquet(src)
    agg = streaming_windowed_event_counts(spark, src)
    run_available_now(agg, str(tmp_path / "ckpt2"), "stream_events")
    res = spark.sql("select * from stream_events")
    # must equal the batch oracle query
    from equi7grid_spark.queries import q_events_windowed

    batch = q_events_windowed(spark, "/root/testdata/sf0.01")
    assert res.count() == batch.count()
    assert res.exceptAll(batch).count() == 0


def _raster_row(image_id, arr, tile=("EU", "EU_E048N012T6")):
    return {
        "image_id": image_id,
        "subgrid": tile[0],
        "tilename": tile[1],
        "bytes": arr.tobytes(),
        "w": arr.shape[1],
        "h": arr.shape[0],
        "dtype": str(arr.dtype),
        "nodata": -1.0,
    }


def test_mosaic_tiles_salted(spark):
    from equi7grid_spark.operators.partitioning import mosaic_tiles

    nodata = -1
    a = np.full((4, 4), nodata, dtype=np.int16)
    a[:2] = 10
    b = np.full((4, 4), nodata, dtype=np.int16)
    b[1:3] = 20
    c = np.full((4, 4), nodata, dtype=np.int16)
    c[3, 3] = 5
    pdf = pd.DataFrame([_raster_row("i1", a), _raster_row("i2", b), _raster_row("i3", c)])
    df = spark.createDataFrame(pdf)
    out = mosaic_tiles(df, reducer="max", n_salt=2).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_images == 3
    m = np.frombuffer(r.bytes, dtype=np.int16).reshape(4, 4)
    assert (m[0] == 10).all()          # only a
    assert (m[1] == 20).all()          # max(a=10, b=20)
    assert (m[2] == 20).all()          # only b
    assert m[3, 3] == 5 and m[3, 0] == nodata


def test_salted_repartition_spreads(spark):
    from equi7grid_spark.operators.partitioning import with_salt

    df = synthetic_images(spark, 2000, with_bytes=False)
    salted = with_salt(df, "image_id", n_salt=8)
    counts = salted.groupBy("salt").count().collect()
    assert len(counts) == 8
    sizes = [r["count"] for r in counts]
    assert max(sizes) < 2 * min(sizes)  # roughly even


def test_streaming_sessionize_stateful(spark, tmp_path):
    from equi7grid_spark.queries import q_sessionize
    from equi7grid_spark.streaming.pipeline import run_available_now, streaming_sessionize

    src = str(tmp_path / "events_sess")
    spark.read.parquet("/root/testdata/sf0.01/events.parquet").write.parquet(src)
    sess = streaming_sessionize(spark, src)
    run_available_now(sess, str(tmp_path / "ckpt_sess"), "stream_sessions")
    streamed = spark.sql("select * from stream_sessions")

    batch = q_sessionize(spark, "/root/testdata/sf0.01")
    # Streaming emits sessions closed by an in-stream gap plus final
    # sessions timed out as later micro-batches advance the watermark;
    # sessions still open at end-of-stream are withheld. So:
    #   gap-closed ⊆ streamed ⊆ all batch sessions (value-exact rows).
    from pyspark.sql import Window, functions as F

    cols = ["user_id", "session_start", "session_end", "n_events", "total_value"]
    w = Window.partitionBy("user_id")
    gap_closed = (
        batch.withColumn("max_sid", F.max("session_id").over(w))
        .filter(F.col("session_id") != F.col("max_sid"))
        .select(*cols)
    )
    all_sessions = batch.select(*cols)
    s = streamed.select(*cols)
    assert s.count() >= gap_closed.count()
    assert s.exceptAll(all_sessions).count() == 0   # nothing invented
    assert gap_closed.exceptAll(s).count() == 0     # every gap-closed emitted


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Streaming dedup (watermark-bounded state) must keep exactly one
    row per phash for duplicates landing inside the horizon — equal to
    the batch dropDuplicates key set on the same input."""
    from equi7grid_spark.streaming.pipeline import run_available_now, streaming_dedup

    src = str(tmp_path / "dedup_landing")
    imgs = synthetic_images(spark, 400, with_bytes=False)
    # re-land the first 100 rows (crawler retry shape: same phash twice)
    dupes = imgs.filter(F.col("phash") % 4 == 0)
    with_ts = (
        imgs.unionAll(dupes)
        .withColumn("ts", F.timestamp_seconds(F.lit(1700000000) + F.col("phash") % 600))
    )
    with_ts.write.parquet(src)
    schema = IMAGES_SCHEMA + ", ts timestamp"

    out = streaming_dedup(spark, src, schema, keys=("phash",), watermark="1 hour")
    assert out.isStreaming
    run_available_now(out.select("image_id", "phash"), str(tmp_path / "ck_dd"), "stream_dedup")
    res = spark.sql("select * from stream_dedup")

    n_distinct = with_ts.select("phash").distinct().count()
    assert res.count() == n_distinct
    assert res.select("phash").distinct().count() == n_distinct


def test_assignment_preserves_captions_and_pixels(spark):
    """BASELINE input_hint per-row invariant: after the flagship
    tile-assignment, every surviving row's caption is byte-equal and
    its decoded pixels identical to the source row's (raw/png are
    lossless; q8 is checked via its engine decode both sides)."""
    import numpy as np

    from equi7grid_spark.operators.assign_jvm import assign_tiles_jvm
    from equi7grid_spark.warp.codecs import decode

    imgs = synthetic_images(spark, 300, with_bytes=True)
    out = assign_tiles_jvm(imgs, tiling_id="T6")
    src = {r["image_id"]: r for r in imgs.collect()}
    rows = out.select("image_id", "caption", "bytes", "fmt", "w", "h").collect()
    assert len(rows) > 250  # out-of-zone drops only
    for r in rows:
        s = src[r["image_id"]]
        assert r["caption"] == s["caption"]
        a = decode(bytes(r["bytes"]), r["fmt"], r["w"], r["h"])
        b = decode(bytes(s["bytes"]), s["fmt"], s["w"], s["h"])
        assert np.array_equal(a, b)


def test_streaming_phash_near_dup_matches_batch(spark, tmp_path):
    """The stateful streaming near-dup must emit exactly the batch
    operator's pairs (all input rows land inside one watermark
    horizon), each pair exactly once despite multi-band agreement."""
    import numpy as np

    from equi7grid_spark.dedup import phash_near_dup
    from equi7grid_spark.streaming.pipeline import (
        run_available_now,
        streaming_phash_near_dup,
    )

    rng = np.random.default_rng(11)
    hashes = rng.integers(0, 1 << 63, size=120, dtype=np.int64).tolist()
    rows = [(f"s{i:03d}", int(h)) for i, h in enumerate(hashes)]
    for i in range(0, 120, 6):
        nbits = 1 + (i // 6) % 3
        mask = 0
        while bin(mask).count("1") < nbits:
            mask |= 1 << int(rng.integers(0, 63))
        rows.append((f"s{i:03d}v", int(np.int64(hashes[i] ^ mask))))
    # identical-hash pair: agrees on ALL bands -> single emission check
    rows.append(("twin0", int(hashes[1])))

    batch_df = spark.createDataFrame(rows, "image_id string, phash long")
    expected = {
        (r.id_a, r.id_b, r.hamming)
        for r in phash_near_dup(batch_df, max_hamming=3).collect()
    }

    src = str(tmp_path / "phash_stream")
    ts_rows = [
        (iid, f"2026-01-01 10:{i // 60:02d}:{i % 60:02d}", ph)
        for i, (iid, ph) in enumerate(rows)
    ]
    spark.createDataFrame(
        ts_rows, "image_id string, ts_s string, phash long"
    ).selectExpr(
        "image_id", "CAST(ts_s AS TIMESTAMP) AS ts", "phash"
    ).write.parquet(src)

    out = streaming_phash_near_dup(spark, src, watermark="1 hour")
    run_available_now(out, str(tmp_path / "ck_ph"), "stream_phash_pairs")
    got_rows = spark.sql("select * from stream_phash_pairs").collect()
    got = [(r.id_a, r.id_b, r.hamming) for r in got_rows]
    assert len(got) == len(set(got)), "pair emitted more than once"
    assert set(got) == expected


def test_streaming_roi_select_matches_batch(spark, tmp_path):
    """The streaming ROI pipeline must select exactly the image_ids the
    batch semi-join selects on the same landing data."""
    from pyspark.sql import functions as F

    from equi7grid_spark.images import synthetic_images
    from equi7grid_spark.operators.assign_jvm import assign_tiles_jvm
    from equi7grid_spark.roi import get_tiles_in_geog_bbox
    from equi7grid_spark.streaming.pipeline import (
        run_available_now,
        streaming_roi_select,
    )

    bbox = (0.0, 40.0, 30.0, 55.0)
    imgs = synthetic_images(spark, 3000, with_bytes=False).select(
        "image_id", "lon", "lat"
    )
    src = str(tmp_path / "roi_stream")
    imgs.write.parquet(src)

    assigned = assign_tiles_jvm(spark.read.parquet(src))
    roi_tiles = get_tiles_in_geog_bbox(bbox, "T6")
    tiles_df = spark.createDataFrame(
        [(t.subgrid, t.tilename) for t in roi_tiles],
        "subgrid string, tilename string",
    )
    expected = {
        r.image_id
        for r in assigned.join(
            F.broadcast(tiles_df), ["subgrid", "tilename"], "left_semi"
        ).select("image_id").collect()
    }
    assert expected  # the bbox actually selects something

    out = streaming_roi_select(
        spark, src, "image_id string, lon double, lat double", bbox
    )
    run_available_now(out, str(tmp_path / "ck_roi"), "stream_roi_sel")
    got = {
        r.image_id
        for r in spark.sql("select image_id from stream_roi_sel").collect()
    }
    assert got == expected


def test_streaming_phash_duplicate_arrivals_no_duplicate_pairs(spark, tmp_path):
    """An image_id arriving twice must not re-emit its pairs (the batch
    operator emits each pair once; round-3 emitted dups)."""
    from equi7grid_spark.streaming.pipeline import (
        run_available_now,
        streaming_phash_near_dup,
    )

    rows = [
        ("a", "2026-01-01 10:00:00", 7),
        ("b", "2026-01-01 10:00:10", 7),
        ("a", "2026-01-01 10:00:20", 7),  # duplicate arrival of a
        ("c", "2026-01-01 10:00:30", 7),
    ]
    src = str(tmp_path / "dup_stream")
    spark.createDataFrame(
        rows, "image_id string, ts_s string, phash long"
    ).selectExpr(
        "image_id", "CAST(ts_s AS TIMESTAMP) AS ts", "phash"
    ).write.parquet(src)
    out = streaming_phash_near_dup(spark, src, watermark="1 hour")
    run_available_now(out, str(tmp_path / "ck_dup"), "stream_phash_dup")
    got = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in spark.sql("select * from stream_phash_dup").collect()
    )
    assert got == [("a", "b", 0), ("a", "c", 0), ("b", "c", 0)]


def test_streaming_phash_hot_bucket_cap_fails_loudly(spark, tmp_path):
    """A degenerate bucket exceeding max_bucket_rows must abort the
    query with sizing advice, not grow state without bound."""
    import pytest
    from pyspark.errors import StreamingQueryException

    from equi7grid_spark.streaming.pipeline import (
        run_available_now,
        streaming_phash_near_dup,
    )

    rows = [
        (f"i{i:02d}", f"2026-01-01 10:00:{i:02d}", 99) for i in range(12)
    ]
    src = str(tmp_path / "hot_stream")
    spark.createDataFrame(
        rows, "image_id string, ts_s string, phash long"
    ).selectExpr(
        "image_id", "CAST(ts_s AS TIMESTAMP) AS ts", "phash"
    ).write.parquet(src)
    out = streaming_phash_near_dup(
        spark, src, watermark="1 hour", max_bucket_rows=5
    )
    with pytest.raises(StreamingQueryException, match="max_bucket_rows"):
        run_available_now(out, str(tmp_path / "ck_hot"), "stream_phash_hot")


def test_duration_us_rejects_unknown_unit():
    import pytest

    from equi7grid_spark.streaming.pipeline import _duration_us

    assert _duration_us("1 hour 30 minutes") == 5_400_000_000
    with pytest.raises(ValueError, match="cannot parse duration"):
        _duration_us("1 hr")
    with pytest.raises(ValueError, match="cannot parse duration"):
        _duration_us("soon")


def test_streaming_multimodal_pairs_matches_batch(spark, tmp_path):
    """6th streaming==batch twin: streaming_multimodal_pairs' per-
    (pair, signal) events, grouped by pair at the sink, must equal
    dedup.multimodal_near_dup's merged output (signal + hamming) on
    the same landing data — covering phash-only, caption-only, 'both'
    pairs, multi-row caption groups and multi-band phash agreement."""
    import numpy as np

    from equi7grid_spark.dedup import multimodal_near_dup
    from equi7grid_spark.streaming.pipeline import (
        run_available_now,
        streaming_multimodal_pairs,
    )

    rng = np.random.default_rng(23)
    hashes = rng.integers(0, 1 << 63, size=90, dtype=np.int64).tolist()
    rows = [(f"m{i:03d}", int(h), f"caption {i}") for i, h in enumerate(hashes)]
    for i in range(0, 90, 6):
        nbits = 1 + (i // 6) % 3
        mask = 0
        while bin(mask).count("1") < nbits:
            mask |= 1 << int(rng.integers(0, 63))
        # phash near-dup, reworded caption -> 'phash'
        rows.append((f"m{i:03d}v", int(np.int64(hashes[i] ^ mask)), f"re {i}"))
    for i in range(0, 90, 9):
        # same caption, far phash -> 'caption' (3-row groups for i%18==0)
        far = int(rng.integers(0, 1 << 63))
        rows.append((f"m{i:03d}c", far, f"caption {i}"))
        if i % 18 == 0:
            rows.append((f"m{i:03d}c2", int(rng.integers(0, 1 << 63)), f"caption {i}"))
    # identical phash AND caption -> 'both'
    rows.append(("mboth", int(hashes[3]), "caption 3"))

    batch_df = spark.createDataFrame(
        rows, "image_id string, phash long, caption string"
    )
    expected = {
        (r.id_a, r.id_b): (r.signal, r.hamming)
        for r in multimodal_near_dup(batch_df).collect()
    }

    src = str(tmp_path / "mm_stream")
    ts_rows = [
        (iid, f"2026-01-01 10:{i // 60:02d}:{i % 60:02d}", ph, cap)
        for i, (iid, ph, cap) in enumerate(rows)
    ]
    spark.createDataFrame(
        ts_rows, "image_id string, ts_s string, phash long, caption string"
    ).selectExpr(
        "image_id", "CAST(ts_s AS TIMESTAMP) AS ts", "phash", "caption"
    ).write.parquet(src)

    out = streaming_multimodal_pairs(spark, src, watermark="1 hour")
    run_available_now(out, str(tmp_path / "ck_mm"), "stream_mm_pairs")
    got_rows = spark.sql("select * from stream_mm_pairs").collect()
    per_signal = [(r.id_a, r.id_b, r.signal, r.hamming) for r in got_rows]
    assert len(per_signal) == len(set(per_signal)), "signal event duplicated"
    # sink-side merge: signals per pair -> batch provenance naming
    merged: dict = {}
    for id_a, id_b, sig, ham in per_signal:
        cur = merged.setdefault((id_a, id_b), {"sigs": set(), "hamming": None})
        cur["sigs"].add(sig)
        if ham is not None:
            cur["hamming"] = ham
    got = {
        k: (
            "both" if v["sigs"] == {"phash", "caption"} else next(iter(v["sigs"])),
            v["hamming"],
        )
        for k, v in merged.items()
    }
    assert got == expected


def test_streaming_phash_dup_clusters_matches_batch_with_merge(spark, tmp_path):
    """Streaming twin of phash_dup_clusters: per-file micro-batches,
    with the bridge row arriving in the SECOND batch so the foreachBatch
    closure must MERGE two already-committed clusters through the star
    edges (the incremental-closure case a single-batch run never hits);
    final labels must equal the batch operator on the full corpus."""
    from equi7grid_spark.dedup import phash_dup_clusters
    from equi7grid_spark.streaming.pipeline import streaming_phash_dup_clusters

    base_a = 0x1234_5678_9ABC_DEF0
    base_b = 0x0F0F_0F0F_0F0F_0F0F
    batch1 = [
        # cluster A: a0~a1 (hamming 1)
        ("a0", base_a),
        ("a1", base_a ^ 1),
        # cluster B: b0~b1 (hamming 2)
        ("b0", base_b),
        ("b1", base_b ^ (1 << 20) ^ (1 << 21)),
        # singleton (never appears in output)
        ("z0", 0x7A7A_0000_FFFF_1111),
    ]
    # bridge: within hamming 3 of BOTH a1-side and... impossible for
    # distant bases — instead bridge WITHIN cluster-B-reach of a node
    # near A: b2 links b1 (hamming 2) and a NEW a2 links a0 (hamming 2),
    # plus bridge c0 linking a2 and b2 is infeasible across distant
    # bases; so the merge case uses two sub-clusters of the SAME base:
    # c0~c1 in batch 1 (two separate pairs far apart), bridged in
    # batch 2 by c2 within hamming 3 of both.
    base_c = 0x5555_AAAA_3333_CCCC
    batch1 += [
        ("c0", base_c),                                   # pairs with c2 later
        ("c1", base_c ^ (1 << 5) ^ (1 << 6) ^ (1 << 40) ^ (1 << 41)),
    ]
    # c0 vs c1 is hamming 4: NOT a pair in batch 1 (two singletons-ish)
    batch2 = [
        # c2 is hamming 2 from c0 and hamming 2 from c1 -> merges them
        ("c2", base_c ^ (1 << 5) ^ (1 << 40)),
        # and a LATE member of cluster A (cross-batch pair via state)
        ("a2", base_a ^ 2),
    ]

    src = tmp_path / "clusters_stream"
    src.mkdir()

    def write_file(rows, name, t0):
        import shutil

        ts_rows = [
            (iid, f"2026-01-01 10:00:{t0 + i:02d}", ph)
            for i, (iid, ph) in enumerate(rows)
        ]
        staging = tmp_path / f"_stage_{name}"
        spark.createDataFrame(
            ts_rows, "image_id string, ts_s string, phash long"
        ).selectExpr(
            "image_id", "CAST(ts_s AS TIMESTAMP) AS ts", "phash"
        ).coalesce(1).write.parquet(str(staging))
        part = next(staging.glob("part-*.parquet"))
        shutil.move(str(part), str(src / f"{name}.parquet"))

    write_file(batch1, "f1", 0)
    write_file(batch2, "f2", 30)

    got_df = streaming_phash_dup_clusters(
        spark,
        str(src),
        str(tmp_path / "labels_tbl"),
        watermark="1 hour",
        reader_options={"maxFilesPerTrigger": 1},
    )
    got = {r.image_id: r.cluster_id for r in got_df.collect()}

    full = spark.createDataFrame(
        batch1 + batch2, "image_id string, phash long"
    )
    expected = {
        r.image_id: r.cluster_id
        for r in phash_dup_clusters(full, max_hamming=3).collect()
    }
    assert got == expected
    # the interesting assertions, explicit: the bridge merged c0/c1/c2,
    # the late a2 joined cluster A through cross-batch bucket state
    assert got["c0"] == got["c1"] == got["c2"] == "c0"
    assert got["a2"] == "a0"
    assert "z0" not in got

    # per-micro-batch history is time-travelable: the table holds one
    # snapshot per non-empty batch and the first one lacks the merge
    from equi7grid_spark.table.manifest import IcebergLiteTable

    t = IcebergLiteTable(tmp_path / "labels_tbl")
    chain = t.snapshots()
    assert len(chain) == 2
    first = {
        r.image_id: r.cluster_id
        for r in t.read(spark, snapshot_id=chain[-1]["snapshot_id"]).collect()
    }
    assert "c2" not in first and first["a0"] == "a0" and first["b1"] == "b0"


def test_streaming_phash_dup_clusters_empty_corpus(spark, tmp_path):
    """A duplicate-free stream commits no snapshot; the operator must
    return an EMPTY (image_id, cluster_id) frame, not raise
    FileNotFoundError from the never-created table (ADVICE r5)."""
    import shutil

    from equi7grid_spark.streaming.pipeline import streaming_phash_dup_clusters

    rows = [
        ("u0", "2026-01-01 10:00:00", 0x0123_4567_89AB_CDEF),
        ("u1", "2026-01-01 10:00:01", 0x7F0F_0F0F_0F0F_0F0F),
        ("u2", "2026-01-01 10:00:02", 0x5555_AAAA_3333_CCCC),
    ]
    src = tmp_path / "empty_stream"
    src.mkdir()
    staging = tmp_path / "_stage_empty"
    spark.createDataFrame(
        rows, "image_id string, ts_s string, phash long"
    ).selectExpr(
        "image_id", "CAST(ts_s AS TIMESTAMP) AS ts", "phash"
    ).coalesce(1).write.parquet(str(staging))
    part = next(staging.glob("part-*.parquet"))
    shutil.move(str(part), str(src / "f1.parquet"))

    out = streaming_phash_dup_clusters(
        spark, str(src), str(tmp_path / "labels_empty"), watermark="1 hour"
    )
    assert out.columns == ["image_id", "cluster_id"]
    assert out.count() == 0


def test_streaming_phash_dup_clusters_in_stream_retention(spark, tmp_path):
    """In-stream maintenance (round 6): every micro-batch overwrites
    the full label table, so a continuous run accumulates one
    superseded snapshot copy per batch — expire_every bounds history
    WHILE the stream runs. With expire_every=1, keep_last=1 the final
    labels must still equal the batch operator (expiry never touches
    CURRENT), and both the snapshot chain and the on-disk snap dirs
    must be bounded at 1."""
    import shutil

    from equi7grid_spark.dedup import phash_dup_clusters
    from equi7grid_spark.streaming.pipeline import streaming_phash_dup_clusters
    from equi7grid_spark.table.manifest import IcebergLiteTable

    base_a = 0x1234_5678_9ABC_DEF0
    base_b = 0x0F0F_0F0F_0F0F_0F0F
    rows1 = [("a0", base_a), ("a1", base_a ^ 1), ("b0", base_b)]
    rows2 = [("b1", base_b ^ 4), ("a2", base_a ^ 2)]  # cross-batch pairs
    src = tmp_path / "ret_stream"
    src.mkdir()

    def write_file(rows, name, t0):
        staging = tmp_path / f"_stage_{name}"
        spark.createDataFrame(
            [
                (iid, f"2026-01-01 10:00:{t0 + i:02d}", ph)
                for i, (iid, ph) in enumerate(rows)
            ],
            "image_id string, ts_s string, phash long",
        ).selectExpr(
            "image_id", "CAST(ts_s AS TIMESTAMP) AS ts", "phash"
        ).coalesce(1).write.parquet(str(staging))
        shutil.move(
            str(next(staging.glob("part-*.parquet"))),
            str(src / f"{name}.parquet"),
        )

    write_file(rows1, "f1", 0)
    write_file(rows2, "f2", 30)

    got_df = streaming_phash_dup_clusters(
        spark,
        str(src),
        str(tmp_path / "ret_tbl"),
        watermark="1 hour",
        reader_options={"maxFilesPerTrigger": 1},
        expire_every=1,
        keep_last=1,
    )
    got = {r.image_id: r.cluster_id for r in got_df.collect()}
    expected = {
        r.image_id: r.cluster_id
        for r in phash_dup_clusters(
            spark.createDataFrame(
                rows1 + rows2, "image_id string, phash long"
            ),
            max_hamming=3,
        ).collect()
    }
    assert got == expected and got["a2"] == "a0" and got["b1"] == "b0"

    t = IcebergLiteTable(tmp_path / "ret_tbl")
    assert len(t.snapshots()) == 1  # history bounded in-stream
    snap_dirs = [
        d for d in t.data_dir.iterdir()
        if d.is_dir() and d.name.startswith("snap-")
    ]
    assert len(snap_dirs) == 1  # superseded full copies reclaimed


def test_streaming_pigeonhole_guard_starts_nothing(spark, tmp_path):
    """max_hamming above n_bands - 1 raises ValueError before the
    stream is even read: no Spark job and no streaming query starts."""
    from equi7grid_spark.streaming.pipeline import (
        streaming_multimodal_pairs,
        streaming_phash_near_dup,
    )

    src = str(tmp_path / "never_written")
    sc = spark.sparkContext
    sc.setJobGroup("stream_pigeonhole_guard", "stream_pigeonhole_guard")
    try:
        with pytest.raises(ValueError, match="pigeonhole"):
            streaming_phash_near_dup(spark, src, max_hamming=4, n_bands=4)
        with pytest.raises(ValueError, match="pigeonhole"):
            streaming_multimodal_pairs(spark, src, max_hamming=4, n_bands=4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("stream_pigeonhole_guard")) == []
    assert spark.streams.active == []


def test_streaming_caption_pairs_equal_bruteforce(spark, tmp_path):
    """Streaming caption pairs match on all 128 md5 bits: on random
    captions with nulls and repeats, all arriving within the horizon,
    the 'caption' events are exactly the brute-force equal-caption
    pairs — and the batch operator's."""
    import random

    from equi7grid_spark.dedup import multimodal_near_dup
    from equi7grid_spark.streaming.pipeline import (
        run_available_now,
        streaming_multimodal_pairs,
    )

    rnd = random.Random(11)
    pool = [f"a photo of item {k}" for k in range(25)] + [""]
    rows = [
        (
            f"s{i:03d}",
            f"2026-01-01 10:{i // 60:02d}:{i % 60:02d}",
            rnd.getrandbits(63) if rnd.random() < 0.5 else None,
            None if rnd.random() < 0.17 else rnd.choice(pool),
        )
        for i in range(120)
    ]
    expected = {
        (a, b)
        for a, _, _, ca in rows
        for b, _, _, cb in rows
        if a < b and ca is not None and ca == cb
    }
    src = str(tmp_path / "cap_stream")
    df = spark.createDataFrame(
        rows, "image_id string, ts_s string, phash long, caption string"
    ).selectExpr("image_id", "CAST(ts_s AS TIMESTAMP) AS ts", "phash", "caption")
    df.write.parquet(src)
    out = streaming_multimodal_pairs(spark, src, watermark="1 hour")
    run_available_now(out, str(tmp_path / "ck_cap"), "stream_cap_pairs")
    got = spark.sql("select * from stream_cap_pairs where signal = 'caption'").collect()
    assert len(got) == len({(r.id_a, r.id_b) for r in got})
    assert {(r.id_a, r.id_b) for r in got} == expected
    batch = multimodal_near_dup(df.drop("ts"))
    assert {
        (r.id_a, r.id_b) for r in batch.collect() if r.signal in ("caption", "both")
    } == expected
