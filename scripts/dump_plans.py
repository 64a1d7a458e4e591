"""Dump the physical plans of the engine's key pipelines to
docs/PLANS.md — the scale-design evidence trail (.explain output:
pruned scans, compiled kernel calls, broadcast joins, int-keyed
shuffles). Inputs go to a temporary directory; the sf dir, the repo
checkout and the temp dirs print as <sf_dir>, <repo> and <tmp>, so
the file does not depend on the host that wrote it.

    python scripts/dump_plans.py sf_dir    # e.g. a generated sf0.001 dir
"""

from __future__ import annotations

import io
import sys
import tempfile
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402

from equi7grid_spark.images import synthetic_images  # noqa: E402
from equi7grid_spark.operators.assign_jvm import assign_tiles_jvm, tile_counts_jvm  # noqa: E402
from equi7grid_spark.operators.join import join_tile_catalog, knn_tiles  # noqa: E402
from equi7grid_spark.session import get_spark  # noqa: E402

REPO = Path(__file__).resolve().parents[1]
OUT = REPO / "docs" / "PLANS.md"


def main() -> None:
    sf_dir = sys.argv[1].rstrip("/")
    with tempfile.TemporaryDirectory() as tmp:
        sections = dump(sf_dir, tmp)
    OUT.parent.mkdir(exist_ok=True)
    body = ["# Physical plans (scale evidence)\n",
            "Generated by scripts/dump_plans.py; regenerate after operator changes.\n"]
    for title, note, plan in sections:
        body.append(f"\n## {title}\n\n{note}\n\n```\n{plan}```\n")
    OUT.write_text("".join(body))
    print(f"wrote {OUT}")


def dump(sf_dir: str, tmp: str) -> list[tuple[str, str, str]]:
    def plan_of(df) -> str:
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        # longest first: tmp sits inside the system temp dir (where the
        # engine's fixtures land), and either may sit inside the repo
        subs = sorted(
            [(sf_dir, "<sf_dir>"), (tmp, "<tmp>"),
             (tempfile.gettempdir(), "<tmp>"), (str(REPO), "<repo>")],
            key=lambda kv: -len(kv[0]),
        )
        text = buf.getvalue()
        for path, tag in subs:
            text = text.replace(path, tag)
        return text

    spark = get_spark(master="local[4]", shuffle_partitions=8)
    images_path = f"{tmp}/plans_images.parquet"
    synthetic_images(spark, 1000, with_bytes=False).write.mode("overwrite").parquet(images_path)
    images = spark.read.parquet(images_path)

    sections = []

    counts = tile_counts_jvm(images)
    joined = join_tile_catalog(counts, spark, "T6")
    sections.append((
        "Catalog join (broadcast)",
        "The 65k-row tile catalog is BroadcastExchange'd; no shuffle added.",
        plan_of(joined),
    ))

    assigned = assign_tiles_jvm(images, tiling_id="T6")
    pts = assigned.select(F.col("image_id").alias("pt_id"), "subgrid", "x", "y")
    kn = knn_tiles(pts, spark, "T6", k=3)
    sections.append((
        "Tile kNN (3x3-pruned broadcast join + window top-k)",
        "Fan-out bounded at 9 candidate tiles per point before the "
        "row_number window.",
        plan_of(kn),
    ))

    sections.insert(0, (
        "Flagship: tile_counts_jvm (zero Python workers)",
        "One pruned scan (lon/lat), zone resolve + Vincenty + tile "
        "keying JVM-side in one compiled equi7_zone_tile_key call per "
        "row, zero joins, partial+final agg "
        "on a packed key — no ArrowEvalPython/BatchEvalPython node "
        "anywhere in this plan.",
        plan_of(counts),
    ))

    from equi7grid_spark.queries import queries

    cur = queries()["corpus_curation"](spark, sf_dir)
    sections.append((
        "Corpus curation (filters + canonical-dedup anti-join)",
        "Language/length/quality predicates evaluate in the scan stage "
        "of the documents table; the duplicate list (computed by the "
        "connected-components rounds) joins as LeftAnti on doc_id — "
        "duplicates can be a large corpus fraction at web scale, so "
        "the anti-join is a shuffle join on the key, not a broadcast.",
        plan_of(cur),
    ))

    dec = queries()["tile_assign_decided_t6_counts"](spark, sf_dir)
    sections.append((
        "Decided-cell tile assignment (the DuckDB-oracled geodesic core)",
        "One compiled equi7_decided_zone call per row reads the jar's "
        "64,800-cell map and keeps the prefilter-decided rows (behind an "
        "explode-of-one barrier, so the not-null filter is not a second "
        "call); the AEQD forward is one compiled equi7_xy call per row. "
        "No join, no Python, one aggregation shuffle on (zc, tx, ty) "
        "ints.",
        plan_of(dec),
    ))

    ph = queries()["image_phash_near_dup"](spark, sf_dir)
    sections.append((
        "Image phash near-dup (banded hamming multi-index, chunked r4)",
        "The 4x16-bit bands are positions 0-3 of the one bigint "
        "near-dup key array (dedup.near_dup_keys); posexplode gives "
        "(k1, k2) keys, a per-bucket row_number window assigns id-range "
        "chunks and the candidate join keys on (k1, k2, ci, cj) — every "
        "task bounded by chunk_size^2 pairs even when a degenerate "
        "corpus collapses millions of rows onto one band value (at "
        "this toy input AQE builds a broadcast; at scale it is a "
        "shuffle join), then xor+popcount verifies candidates (a CASE "
        "on k1: phash keys only here). Exact recall for hamming<=3 by "
        "pigeonhole; no all-pairs product at any scale.",
        plan_of(ph),
    ))

    from equi7grid_spark.dedup import phash_dup_clusters
    from equi7grid_spark.images import synthetic_images as _synth

    cl = phash_dup_clusters(
        _synth(spark, 2000, with_bytes=False), max_hamming=3
    )
    sections.append((
        "Phash clustering with exact-value pre-collapse (r6)",
        "The clustering path never enumerates within-value pairs: a "
        "uniform map-side-partial groupBy collapses identical phashes "
        "to one representative, the banded chunk window and candidate "
        "join run over REPRESENTATIVES only, and members re-attach by "
        "a (ph -> rep_id, label) join at the end — a degenerate "
        "corpus (millions of rows over a handful of phash values) "
        "costs O(m + distinct pairs), not O(m^2). The plan below reads "
        "the converged label frame from its localCheckpoint (lineage "
        "truncated) and joins it back to the member list, broadcast "
        "only when the distinct-phash count read in the groups "
        "checkpoint's own job fits the session's broadcast threshold.",
        plan_of(cl),
    ))

    buf = queries()["zone_assign_buffered_counts"](
        spark, sf_dir
    )
    sections.append((
        "Buffered multi-zone membership counts (r6)",
        "One compiled equi7_zone_members call per row (the per-cell IN "
        "mask + two-leg parity against the bfrd polygons, baked into "
        "the jar) returns an array of zone codes; n_zones is taken from "
        "the ARRAY SIZE before the explode, so the plan has no "
        "per-point window — no Python, one Generate, one aggregation "
        "exchange on the 7-value zone code.",
        plan_of(buf),
    ))

    mm = queries()["image_multimodal_near_dup"](spark, sf_dir)
    sections.append((
        "Cross-signal multimodal dedup (one-pass signal keying, r6)",
        "ONE scan emits every signal key into one bigint key array "
        "(dedup.near_dup_keys: phash bands at positions 0-3, the "
        "caption's first 64 md5 bits at 4), posexploded to (k1, k2), so "
        "the skew-chunked enumeration and its chunk window run once; "
        "caption candidates verify on their last 64 md5 bits (cv) in "
        "the same CASE on k1 that verifies phash hamming, and ONE "
        "pair-keyed aggregation flags each pair's signals by k1. No "
        "cartesian, no Python.",
        plan_of(mm),
    ))

    kq = queries()["knn_tiles"](spark, sf_dir)
    sections.append((
        "knn_tiles query (map-side top-k, r5)",
        "The tile list is a driver constant, so the 3 nearest tiles "
        "per point are computed per-row: score all tiles in one "
        "array of structs, array_sort, slice 3, posexplode. The ONLY "
        "exchange is the point-dedup hash aggregate on the filtered "
        "keys — the r4 crossJoin + row_number window exchange "
        "(n_points x n_tiles rows) is gone.",
        plan_of(kq),
    ))

    rt = queries()["tile_roundtrip_t6_counts"](spark, sf_dir)
    sections.append((
        "Projection roundtrip (forward -> inverse -> forward, r4)",
        "The xy->lonlat direction JVM-side: zone resolve, forward, "
        "inverse, forward and tile keying run as one fused compiled "
        "call per row (equi7_roundtrip_zone_tile_key), zero joins. No "
        "Python anywhere, one aggregation shuffle on the packed key at "
        "the end.",
        plan_of(rt),
    ))

    from equi7grid_spark.queries import q_images_in_roi_decided

    roi_dec = q_images_in_roi_decided(spark, sf_dir)
    sections.append((
        "Image ROI selection, decided subset (round-3 oracled pipeline)",
        "Synthesis (mapInPandas) → compiled equi7_decided_zone filter → "
        "compiled-kernel AEQD → broadcast semi-join against the ROI "
        "tile list → agg: the ROI list is catalog-sized so the "
        "semi-join is BroadcastHashJoin(LeftSemi); one aggregation "
        "shuffle total.",
        plan_of(roi_dec),
    ))

    mme = queries()["image_multimodal_embed_near_dup"](spark, sf_dir)
    sections.append((
        "Three-signal multimodal dedup (phash OR caption OR embedding, r5)",
        "The embedding signal adds its hyperplane-LSH buckets as the "
        "key array's positions 5-12, read from one compiled "
        "equi7_emb_buckets call per row, to the one keyed pair "
        "enumeration of the phash and caption signals; "
        "candidates flagged by the embedding signal get an exact "
        "cosine verify (one compiled equi7_cosine_seq call per pair). "
        "The plan below is that verify and the broadcast provenance "
        "merge, over localCheckpoints of the input and of the pair "
        "aggregation. Still no cartesian: every "
        "shuffle keys on (k1, k2) bigint keys.",
        plan_of(mme),
    ))

    ivf = queries()["ann_ivf_kmeans"](spark, sf_dir)
    sections.append((
        "IVF ANN with quantized Lloyd's coarse quantizer (r5)",
        "The final plan shows only the cell assignment (per-row argmin "
        "over k broadcast literal centroids — zero shuffle) feeding the "
        "broadcast query-side cosine top-k; each training iteration ran "
        "as ONE groupBy(cell) with k*dim map-side-partial integer "
        "aggregates, k*dim scalars to the driver, lineage truncated by "
        "a localCheckpoint of the input.",
        plan_of(ivf),
    ))

    ru = queries()["tile_rollup_counts"](spark, sf_dir)
    sections.append((
        "Multi-resolution tile rollup T1 -> T3 -> T6 (r5)",
        "One scan, one fine-grained T1 aggregation shuffle; the T3 and "
        "T6 levels re-aggregate the ~10^4-row T1 result by integer "
        "division of the packed keys (tile algebra, zero re-scan), "
        "then a union of the three catalog-sized levels.",
        plan_of(ru),
    ))

    cc = queries()["image_phash_dup_clusters"](spark, sf_dir)
    sections.append((
        "Transitive phash clustering (pointer-jumping CC, r5)",
        "The pair graph comes from the banded multi-index above, "
        "eagerly localCheckpointed ONCE (the symmetric-edge union would "
        "otherwise re-run the enumeration per branch). Each round is "
        "one edge-label equi-join with a map-side-partial min groupBy "
        "(hook), one label-frame self-join (pointer jump — O(log "
        "diameter) rounds instead of O(diameter)), and a filter-count "
        "convergence check on the round's checkpointed frame; the plan "
        "below is the final labels projection over the last checkpoint "
        "— lineage is truncated every round, which is what keeps "
        "iterative DataFrame jobs plannable at scale.",
        plan_of(cc),
    ))

    # partition pruning on the iceberg-lite sink layout
    from equi7grid_spark.table.manifest import IcebergLiteTable

    table = IcebergLiteTable(f"{tmp}/plans_sink")
    table.write_partitioned(joined, "subgrid", resume=False)
    pruned = table.read(spark).filter(F.col("subgrid") == "EU")
    sections.append((
        "Partition-pruned read of the subgrid-partitioned sink",
        "Filtering one continent prunes the scan to its partition "
        "directory (PartitionFilters in the scan node) — at 10^12 rows "
        "this is the continent-level pruning column materialized at "
        "write time.",
        plan_of(pruned),
    ))

    # file-grain manifest pruning: sort-order compact, then a ranged
    # read whose scan lists exactly the matching files
    table.compact(spark, target_file_rows=200, sort_cols=["n"])
    m_fg = table.current_manifest()
    all_files = [
        f for p in m_fg["partitions"] for f in p["files"]
    ]
    hi = max(
        f["stats"]["n"]["max"]
        for f in all_files
        if (f.get("stats") or {}).get("n")
    )
    kept, _ = table.plan_scan(prune={"n": (hi, None)})
    fg = table.read(spark, prune={"n": (hi, None)})
    n_files = sum(len(p["files"]) for p in kept)
    n_files_total = len(all_files)
    sections.append((
        "File-grain manifest-pruned read after a sort-order compact",
        "The manifest carries per-file footer min/max (Iceberg "
        "DataFile records); read(prune=...) hands Spark the exact "
        f"matching file paths ({n_files} of {n_files_total} files for "
        "the top-count range — no directory listing, and files inside "
        "kept partitions whose ranges provably miss are never "
        "opened). The scan node's location list IS the pruned file "
        "set.",
        plan_of(fg),
    ))
    spark.stop()
    return sections


if __name__ == "__main__":
    main()
