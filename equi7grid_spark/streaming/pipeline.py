"""Structured Streaming paths: streaming tile assignment + windowed,
watermarked event aggregation.

The reference is a batch library (SURVEY.md §2.6) and the north rule's
core contract is batch-with-resume, but a continuously landing image
table is the realistic ingest shape at 10^12 scale, so the engine's
hot-path operators are streaming-clean: the compiled zone/projection
kernel call and the tile Columns run unchanged on streaming
DataFrames; aggregation uses watermarks for late data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from equi7grid_spark.dedup import (
    caption_verify,
    connected_components,
    key_hash,
    near_dup_keys,
    pair_verify,
)
from equi7grid_spark.operators.assign_jvm import assign_tiles_jvm


def stream_images(spark: SparkSession, input_dir: str, schema: str) -> DataFrame:
    return spark.readStream.schema(schema).parquet(input_dir)


def streaming_tile_assignment(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    tiling_id: str = "T6",
) -> DataFrame:
    """Streaming flagship: landing images → zone resolve → AEQD forward
    → tile Columns. Returns the transformed streaming DataFrame; attach
    a sink with writeStream (append mode — row-wise transform, no
    state).

    The same zero-Python path as the batch flagship
    (operators/assign_jvm.assign_tiles_jvm): zone resolve and AEQD
    forward are one compiled equi7_zone_xy call per row, with no join
    and no Python worker per trigger — per-microbatch cost is pure JVM
    compute."""
    return assign_tiles_jvm(stream_images(spark, input_dir, schema), tiling_id=tiling_id)


def streaming_roi_select(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    bbox: tuple[float, float, float, float],
    tiling_id: str = "T6",
) -> DataFrame:
    """Continuous ROI-filtered image selection: streaming tile
    assignment -> broadcast stream-static LEFT SEMI join against the
    ROI tile list (the streaming twin of queries.images_in_roi, and
    the landing-table shape of the reference's search_tiles_in_roi
    consumption). Stateless row-wise pipeline — append mode, no
    watermark; the ROI list is catalog-sized so the semi-join stays a
    broadcast on every microbatch."""
    from equi7grid_spark.roi import get_tiles_in_geog_bbox

    assigned = streaming_tile_assignment(spark, input_dir, schema, tiling_id)
    roi_tiles = get_tiles_in_geog_bbox(bbox, tiling_id)
    tiles_df = spark.createDataFrame(
        [(t.subgrid, t.tilename) for t in roi_tiles],
        "subgrid string, tilename string",
    )
    return assigned.join(F.broadcast(tiles_df), ["subgrid", "tilename"], "left_semi")


def streaming_windowed_event_counts(
    spark: SparkSession,
    input_dir: str,
    schema: str = "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    window: str = "1 hour",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked tumbling-window counts over a landing events table —
    the streaming twin of queries.q_events_windowed. Late rows beyond
    the watermark are dropped by the engine (documented semantics)."""
    stream = spark.readStream.schema(schema).parquet(input_dir)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 3).alias("total_value"))
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


SESSION_GAP_SECONDS = 30 * 60

_SESSION_OUT_SCHEMA = (
    "user_id long, session_start string, session_end string, "
    "n_events long, total_value double"
)
_SESSION_STATE_SCHEMA = "start long, last long, n long, total double"


def streaming_sessionize(
    spark: SparkSession,
    input_dir: str,
    schema: str = "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    gap_seconds: int = SESSION_GAP_SECONDS,
    watermark: str = "2 hours",
) -> DataFrame:
    """Custom stateful streaming operator: gap-based sessionization via
    applyInPandasWithState (per-user session state, event-time timeout).

    Emits a session row when a gap closes it in-stream or when the
    watermark times it out. The batch twin (queries.q_sessionize, with
    a DuckDB value oracle) computes the same sessions with window
    functions; the streaming test checks closed-session equality.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs, state):
        user_id = int(key[0])
        chunks = list(pdfs)
        rows = pd.concat(chunks) if chunks else pd.DataFrame()
        out = []

        def emit(start_us: int, last_us: int, n: int, total: float):
            out.append(
                {
                    "user_id": user_id,
                    "session_start": pd.Timestamp(start_us, unit="us").strftime("%Y-%m-%d %H:%M:%S"),
                    "session_end": pd.Timestamp(last_us, unit="us").strftime("%Y-%m-%d %H:%M:%S"),
                    "n_events": n,
                    "total_value": round(total, 3),
                }
            )

        if state.hasTimedOut:
            if state.exists:
                start, last, n, total = state.get
                emit(start, last, n, total)
                state.remove()
        else:
            if len(rows):
                rows = rows.sort_values(["ts", "event_id"])
                ts_us = (rows["ts"].astype("int64") // 1000).to_numpy()
                vals = rows["value"].to_numpy()
                if state.exists:
                    start, last, n, total = state.get
                else:
                    start = last = int(ts_us[0])
                    n, total = 0, 0.0
                for t_us, v in zip(ts_us.tolist(), vals.tolist()):
                    if n > 0 and t_us - last > gap_seconds * 1_000_000:
                        emit(start, last, n, total)
                        start, n, total = t_us, 0, 0.0
                    if n == 0:
                        start = t_us
                    last = t_us
                    n += 1
                    total += float(v)
                state.update((int(start), int(last), int(n), float(total)))
                state.setTimeoutTimestamp(int(last // 1000) + gap_seconds * 1000)
        yield pd.DataFrame(
            out,
            columns=["user_id", "session_start", "session_end", "n_events", "total_value"],
        )

    stream = spark.readStream.schema(schema).parquet(input_dir)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            _SESSION_OUT_SCHEMA,
            _SESSION_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def streaming_dedup(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    keys: tuple[str, ...] = ("phash",),
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup of a landing table: keep the first arrival
    per key, with dedup state BOUNDED by the watermark horizon
    (dropDuplicatesWithinWatermark) — the streaming twin of the batch
    dedup_exact query. At 10^12 rows an unbounded dropDuplicates state
    would grow with the full key history; the watermark variant holds
    only keys younger than the horizon, which is the only shape that
    survives a continuously landing image table (duplicate uploads
    cluster in time — retries, crawler re-fetches)."""
    stream = spark.readStream.schema(schema).parquet(input_dir)
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def run_available_now(stream_df: DataFrame, checkpoint: str, query_name: str):
    """Drain everything currently available into an in-memory sink and
    stop — the batch-equivalent execution used by tests and backfills.

    Aggregated streams need complete output mode (so the drain shows
    every group, not just watermark-closed ones); everything else needs
    append. Rather than inspecting internal plan objects (_jdf — the
    round-3 approach, brittle across Spark versions), try complete
    first and fall back on the public AnalysisException: Spark rejects
    complete mode eagerly at start() for exactly the non-aggregated
    queries that need append."""
    from pyspark.errors import AnalysisException

    def _start(mode: str):
        return (
            stream_df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )

    try:
        q = _start("complete")
    except AnalysisException as exc:
        # Complete mode is rejected EAGERLY at start() for exactly the
        # non-aggregated streams that need append, before any data is
        # processed — so falling back to append on any start()-time
        # AnalysisException is safe. A genuine error (unresolved
        # column, bad checkpoint) fails append too; re-raise the
        # append failure chained from the complete one so both
        # messages stay visible (the r4 substring match on 'output
        # mode' broke on any Spark rewording of the rejection).
        try:
            q = _start("append")
        except AnalysisException as exc2:
            raise exc2 from exc
    q.awaitTermination()
    return q


_MATES_SCHEMA = "rid string, id string, k1 int, h_rid long, h_id long"
_PHASH_STATE_SCHEMA = "ids array<string>, phs array<long>, tss array<long>"


def streaming_phash_near_dup(
    spark: SparkSession,
    input_dir: str,
    schema: str = "image_id string, ts timestamp, phash long",
    max_hamming: int = 3,
    n_bands: int = 4,
    watermark: str = "1 hour",
    max_bucket_rows: int = 100_000,
    reader_options: dict | None = None,
) -> DataFrame:
    """Custom stateful streaming operator #2: continuous near-duplicate
    image detection over a stream of perceptual hashes
    (the streaming twin of dedup.phash_near_dup). Since round 5 this
    delegates to streaming_multimodal_pairs (caption signal disabled)
    and projects away the constant 'phash' signal column — one
    bucket-state implementation serves both operators.

    Shape: the 64-bit phash explodes JVM-side into n_bands 16-bit band
    keys (dedup.near_dup_keys); state lives PER (k1, k2) band bucket
    (applyInPandasWithState) and holds the bucket's hashes seen within
    the watermark horizon — so state is bounded by horizon x bucket
    occupancy, never the full history, and the shuffle keys on 16-bit
    band values exactly like the batch operator. Every arriving hash
    compares only against its own bucket (the pigeonhole property
    makes that exact for hamming <= n_bands-1 within the horizon; a
    wider max_hamming raises ValueError before the query starts).
    See streaming_multimodal_pairs for the state/prune/cap semantics."""
    return streaming_multimodal_pairs(
        spark,
        input_dir,
        schema,
        max_hamming=max_hamming,
        n_bands=n_bands,
        watermark=watermark,
        max_bucket_rows=max_bucket_rows,
        include_caption=False,
        reader_options=reader_options,
    ).select("id_a", "id_b", "hamming")


def streaming_phash_dup_clusters(
    spark: SparkSession,
    input_dir: str,
    table_root: str,
    schema: str = "image_id string, ts timestamp, phash long",
    max_hamming: int = 3,
    n_bands: int = 4,
    watermark: str = "1 hour",
    max_iter: int = 20,
    n_label_parts: int = 16,
    max_bucket_rows: int = 100_000,
    reader_options: dict | None = None,
    expire_every: int | None = None,
    keep_last: int = 3,
) -> DataFrame:
    """Custom stateful streaming operator #4 (round 5): continuously
    maintained transitive phash clustering — the streaming twin of
    dedup.phash_dup_clusters. The stateful bucket operator emits true
    near-dup pairs as members arrive (streaming_phash_near_dup); a
    foreachBatch sink folds each micro-batch of pairs into a
    (image_id, cluster_id) label table committed as iceberg-lite
    snapshots (table/manifest.py: atomic flip per batch, history
    time-travelable per micro-batch, `expire_snapshots` bounds
    retention). Returns the final labels as a batch DataFrame after an
    availableNow drain.

    Incremental closure WITHOUT replaying history: converged labels
    form a STAR FOREST (every node points at its component minimum),
    and connected components of (old edge set ∪ batch) equal the
    components of (stars(old labels) ∪ batch) — so each batch closes
    only label-sized star edges plus the batch's new pairs, never the
    accumulated raw pair log. The closure is dedup.connected_components,
    whose size gate runs its rounds in one NumPy task while a batch's
    star + pair edge list fits the broadcast threshold, and as Spark
    join rounds (the same round definition) once it does not, so a
    label table that outgrows the threshold keeps closing the same
    components. A batch whose pairs bridge two existing
    clusters relabels BOTH to the joint minimum through the star
    edges (covered by the merge test). Labels are hash-partitioned on
    image_id (`n_label_parts`) so the per-batch overwrite commits in
    parallel; a part that ever held a labeled node always holds one
    later (the labeled-node set only grows), so iceberg-lite's
    merge-on-commit never leaves a part pointing at stale labels.
    Crash model: a replayed micro-batch re-closes the same edge set
    into identical labels (idempotent snapshot), and a crash mid-write
    leaves an orphan snapshot dir that is invisible and gc'd at the
    next batch.

    In-stream maintenance: every batch OVERWRITES the full label table
    (a new snapshot dir holding all parts), so a continuous pipeline
    accumulates one superseded full copy per micro-batch between
    manual retention passes — unbounded disk and manifest growth at
    100 TB. `expire_every=N` runs `expire_snapshots(keep_last=)`
    inside the sink after every N commits, bounding history to the
    newest `keep_last` snapshots while the stream runs; expiry is
    idempotent under micro-batch replay like the commits themselves."""
    from equi7grid_spark.table.manifest import IcebergLiteTable

    pairs = streaming_phash_near_dup(
        spark, input_dir, schema, max_hamming, n_bands, watermark,
        max_bucket_rows, reader_options=reader_options,
    )
    table = IcebergLiteTable(table_root)
    n_commits = [0]

    def close_batch(batch_df, batch_id):
        if not batch_df.take(1):
            return
        sess = batch_df.sparkSession
        edges = batch_df.select("id_a", "id_b")
        table.gc_uncommitted()
        try:
            prev = table.read(sess)
            stars = prev.select(
                F.col("image_id").alias("id_a"),
                F.col("cluster_id").alias("id_b"),
            )
            edges = edges.unionByName(stars)
        except FileNotFoundError:
            pass
        labs = connected_components(edges, max_iter)
        out = labs.select(
            F.col("id").alias("image_id"),
            F.col("lab").alias("cluster_id"),
            F.pmod(F.xxhash64("id"), F.lit(n_label_parts))
            .cast("int")
            .alias("part"),
        )
        table.write_partitioned(
            out, "part", meta={"batch_id": int(batch_id)}, resume=False
        )
        n_commits[0] += 1
        if expire_every and n_commits[0] % expire_every == 0:
            table.expire_snapshots(keep_last=keep_last)

    q = (
        pairs.writeStream.foreachBatch(close_batch)
        .option("checkpointLocation", f"{table_root}/_stream_checkpoint")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    try:
        return table.read(spark).select("image_id", "cluster_id")
    except FileNotFoundError:
        # duplicate-free stream: no pair batch ever committed a
        # snapshot — an empty cluster table, not an error (ADVICE r5)
        return spark.createDataFrame(
            [], "image_id string, cluster_id string"
        )


def streaming_multimodal_pairs(
    spark: SparkSession,
    input_dir: str,
    schema: str = "image_id string, ts timestamp, phash long, caption string",
    max_hamming: int = 3,
    n_bands: int = 4,
    watermark: str = "1 hour",
    max_bucket_rows: int = 100_000,
    include_caption: bool = True,
    reader_options: dict | None = None,
) -> DataFrame:
    """Custom stateful streaming operator #3 (round 5): continuous
    CROSS-SIGNAL near-duplicate detection — the streaming twin of
    dedup.multimodal_near_dup. Emits one row PER (pair, signal):
    (id_a, id_b, signal in {'phash','caption'}, hamming — NULL for
    caption rows); merging a pair's signals ('both') is a stateless
    sink-side grouping (the batch-equality test does exactly that),
    because the two signals live in DIFFERENT state buckets and
    cross-bucket coordination inside the stream would need a second
    stateful operator for a pure relabeling.

    The caption signal rides the SAME bucket-state machinery as the
    phash bands, on the batch operator's keys (dedup.near_dup_keys):
    state lives per (k1, k2) key, caption rows land on k1 = n_bands
    with the caption's first 64 md5 bits as k2, and every key row
    stores the batch operator's one value (dedup.key_hash): the phash
    on a band key, the caption's last 64 md5 bits
    (dedup.caption_verify) on the caption key.

    One verify with batch: the state does only the bucket work, and for
    every arrival emits each in-horizon bucket entry as a mate
    (rid, id, k1, h_rid, h_id), as whole arrays. A stateless step after
    the state applies dedup.pair_verify, the batch operator's verify:
    a phash pair is kept within max_hamming and only by the group whose
    band is the LOWEST band on which the two hashes agree, so a pair
    agreeing on several bands is emitted once without cross-group
    coordination; a caption pair is kept when its stored halves agree,
    so it agrees on all 128 md5 bits (a caption lives in exactly one
    bucket). The pair is ordered with least/greatest, as batch orders
    ids. The state emits as many mates as the batch join enumerates
    candidates.

    Matches older->newer within the horizon; pairs whose members arrive
    farther apart than the watermark are not emitted (documented
    horizon semantics, same contract as streaming_dedup).

    The bucket work:
    - duplicate arrivals of an image_id already live in the bucket
      refresh that entry's timestamp and do NOT re-pair (the batch
      operator emits each pair once; re-pairing emitted duplicates).
      Corollary: a pair becomes visible through a duplicate arrival
      only via the refreshed horizon, so image_ids are expected unique
      within the horizon for exact batch parity;
    - entries older than twice the horizon behind the bucket's newest
      are pruned;
    - a bucket whose retained state would exceed `max_bucket_rows`
      fails loudly with sizing advice instead of growing an unbounded
      in-memory list on a degenerate hot bucket (same skew class the
      batch operator chunks around; state here cannot be chunked
      without breaking exactly-once, so the guard is a hard cap)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    # built first: a max_hamming the bands cannot cover raises here
    keys = near_dup_keys(
        F.col("phash"), n_bands, max_hamming,
        F.col("caption") if include_caption else None,
    )
    horizon_us = _duration_us(watermark)

    def fn(key, pdfs, state):
        band_idx = int(key[0])
        rid = mate = np.empty(0, dtype=object)
        h_rid = h_mate = np.empty(0, dtype=np.int64)
        if state.hasTimedOut:
            state.remove()
        else:
            chunks = list(pdfs)
            rows = pd.concat(chunks) if chunks else pd.DataFrame()
            if len(rows):
                rows = rows.sort_values(["ts", "image_id"])
                s_ids, s_h, s_ts = state.get if state.exists else ([], [], [])
                b_ids = rows["image_id"].to_numpy(dtype=object)
                b_h = rows["h"].to_numpy(dtype=np.int64)
                b_ts = (rows["ts"].astype("int64") // 1000).to_numpy()
                # the bucket's entries: the state's, then each arrival
                # that is not a duplicate, written at position n
                ids = np.concatenate([np.asarray(s_ids, dtype=object), b_ids])
                hs = np.concatenate([np.asarray(s_h, dtype=np.int64), b_h])
                tss = np.concatenate([np.asarray(s_ts, dtype=np.int64), b_ts])
                n = len(s_ids)
                pos = {v: k for k, v in enumerate(s_ids)}
                mates, arrivals = [np.empty(0, np.int64)], [np.empty(0, np.int64)]
                for j, (r, t) in enumerate(zip(b_ids.tolist(), b_ts.tolist())):
                    hit = pos.get(r)
                    if hit is not None:
                        # refresh horizon, no re-pair; max() so a LATE
                        # duplicate (within watermark but older than the
                        # live entry) can't move the entry backward and
                        # shrink its pairing horizon/retention
                        tss[hit] = max(int(tss[hit]), t)
                        continue
                    # every in-horizon entry is a mate; pair_verify
                    # decides after the state
                    m = np.flatnonzero(tss[:n] >= t - horizon_us)
                    mates.append(m)
                    arrivals.append(np.full(m.size, j))
                    ids[n], hs[n], tss[n], pos[r] = r, b_h[j], t, n
                    n += 1
                # entries below n are never rewritten (only their
                # timestamps are), so the mates are gathered once
                mi, ji = np.concatenate(mates), np.concatenate(arrivals)
                rid, mate, h_rid, h_mate = b_ids[ji], ids[mi], b_h[ji], hs[mi]
                ids, hs, tss = ids[:n], hs[:n], tss[:n]
                # Prune at TWICE the horizon behind the group-local
                # newest: a future non-late arrival D has
                # D.ts >= watermark = global_max - horizon, so D can
                # only pair with entries >= global_max - 2*horizon >=
                # local_newest - 2*horizon. Pruning at 1x horizon was
                # wrong — an unrelated hot row in THIS bucket could
                # evict a member while the lowest-agreeing-band rule
                # suppressed emission from the bucket that kept it.
                newest = int(tss.max())
                live = tss >= newest - 2 * horizon_us
                if int(live.sum()) > max_bucket_rows:
                    raise RuntimeError(
                        f"streaming bucket-state dedup: bucket (band {band_idx}, "
                        f"val {int(key[1])}) holds {int(live.sum())} rows within "
                        f"2x the '{watermark}' horizon (cap {max_bucket_rows}). "
                        "The corpus is collapsing onto few "
                        f"{'caption' if band_idx >= n_bands else 'phash'} values; "
                        "shorten the watermark, raise max_bucket_rows, or "
                        "dedup this stream in batch (the batch operators "
                        "chunk hot buckets)."
                    )
                state.update(
                    (ids[live].tolist(), hs[live].tolist(), tss[live].tolist())
                )
                # cleared only when every retained entry is dead for
                # any non-late arrival (watermark >= newest + 2h)
                state.setTimeoutTimestamp(newest // 1000 + 2 * (horizon_us // 1000))
        yield pd.DataFrame({
            "rid": rid, "id": mate, "k1": band_idx, "h_rid": h_rid, "h_id": h_mate,
        })

    reader = spark.readStream.schema(schema)
    for k, v in (reader_options or {}).items():
        reader = reader.option(k, v)
    stream = reader.parquet(input_dir)
    k1 = F.col("k1")
    cv = caption_verify(F.col("caption")) if include_caption else None
    exploded = (
        stream.filter(F.col("image_id").isNotNull())
        .select("*", F.posexplode(keys).alias("k1", "k2"))
        .filter(F.col("k2").isNotNull())
        .select("image_id", "ts", "k1", "k2",
                key_hash(k1, n_bands, F.col("phash"), cv).alias("h"))
    )
    mates = (
        exploded.withWatermark("ts", watermark)
        .groupBy("k1", "k2")
        .applyInPandasWithState(
            fn,
            _MATES_SCHEMA,
            _PHASH_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
    # the batch verify, as a stateless step after the state; the pair
    # is ordered as the batch join orders it
    keep, ham = pair_verify(k1, F.col("h_rid"), F.col("h_id"), n_bands, max_hamming)
    return mates.filter(keep).select(
        F.least("rid", "id").alias("id_a"),
        F.greatest("rid", "id").alias("id_b"),
        F.when(k1 < n_bands, "phash").otherwise("caption").alias("signal"),
        ham.alias("hamming"),
    )


def _duration_us(spec: str) -> int:
    """CalendarInterval-style duration ("2 days", "1 hour 30 minutes",
    "500 milliseconds") in microseconds — the same unit words
    withWatermark accepts."""
    scale = {
        "microsecond": 1, "millisecond": 1_000, "second": 1_000_000,
        "minute": 60_000_000, "hour": 3_600_000_000,
        "day": 86_400_000_000, "week": 604_800_000_000,
    }
    parts = spec.split()
    if len(parts) < 2 or len(parts) % 2:
        raise ValueError(f"cannot parse duration {spec!r}")
    total = 0
    for n, unit in zip(parts[::2], parts[1::2]):
        mult = scale.get(unit.rstrip("s"))
        if mult is None or not n.isdigit():
            raise ValueError(f"cannot parse duration {spec!r}")
        total += int(n) * mult
    return total
