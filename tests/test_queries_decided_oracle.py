"""The decided-cell oracled queries (round-2 VERDICT item 10) must be
consistent with the full engine path: the decided subset plus the
boundary-cell remainder partitions the in-zone points exactly, and the
SQL-mirrored Vincenty (functions/geodesy_sql) agrees with the engine's
projection tile-for-tile on that subset."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from equi7grid_spark.queries import oracle_sql, queries

QUERIES = queries()
SF = "/root/testdata/sf0.001"

TABLES = [
    "customer", "lineitem",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    return con


def test_decided_plus_boundary_partitions_full_zone_counts(spark):
    """decided-subset counts + boundary-cell resolved counts must equal
    the full zone_assign_counts (same points, same zone semantics)."""
    both = QUERIES["zone_assign_counts"](spark, SF).collect()
    full = {r["subgrid"]: r["n"] for r in both if r["domain"] == "full"}
    decided = {r["subgrid"]: r["n"] for r in both if r["domain"] == "decided"}
    # remainder = full engine assignment restricted to non-decided cells
    from equi7grid_spark.operators.assign_jvm import assign_tiles_jvm
    from equi7grid_spark.operators.kernel import decided_zone_col
    from equi7grid_spark.queries import _derived_lonlat

    pts = _derived_lonlat(spark, SF)
    rem_pts = pts.filter(decided_zone_col(F.col("lon"), F.col("lat")).isNull())
    remainder = {
        r["subgrid"]: r["n"]
        for r in assign_tiles_jvm(rem_pts, tiling_id="T6")
        .groupBy("subgrid")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for cc in full:
        assert full[cc] == decided.get(cc, 0) + remainder.get(cc, 0), cc


def test_sql_vincenty_matches_engine_projection(spark, duck):
    """tile_assign_decided_t6_counts: engine tile names/counts == the
    DuckDB re-derivation through the SQL-mirrored 6-round Vincenty."""
    eng = {
        (r["subgrid"], r["tilename"]): r["n"]
        for r in QUERIES["tile_assign_decided_t6_counts"](spark, SF).collect()
    }
    sql = oracle_sql()["tile_assign_decided_t6_counts"]
    ora = {
        (s, t): n for t, s, n in duck.execute(sql).fetchall()
    }
    assert eng == ora
    assert len(eng) > 100  # non-trivial spread of tiles at sf0.001


def test_duplicate_clusters_transitive_chain(spark):
    """A→B and B→C edges (A-C not a direct pair) must land in ONE
    cluster labeled min(doc_id) — the label propagation must cross the
    two-hop diameter, not stop at direct neighbors."""
    from equi7grid_spark.dedup import duplicate_clusters

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base + " one"),
        (2, base + " two"),          # near-dup of 1 and of 3
        (3, base + " two extra"),    # near-dup of 2, not of 1 directly
        (9, "completely different words nothing shared here at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["cluster_id"]
        for r in duplicate_clusters(docs, threshold=0.75).collect()
    }
    assert 9 not in out  # no verified duplicate → not in any cluster
    assert len(set(out.values())) == 1 and set(out) == {1, 2, 3}
    assert all(v == 1 for v in out.values())


def test_decided_subset_is_large(spark):
    """The decided fast path must cover the vast majority of points —
    if this drops, the flagship's zero-Python fraction regressed."""
    both = QUERIES["zone_assign_counts"](spark, SF).collect()
    full = sum(r["n"] for r in both if r["domain"] == "full")
    decided = sum(r["n"] for r in both if r["domain"] == "decided")
    assert decided / full > 0.90


def test_duplicate_clusters_max_iter_semantics(spark):
    """max_iter bounds hook+pointer-jump rounds (plus the confirming
    zero-change round): the pointer jump closes the two-hop doc chain
    in a single round, while an 8-node path (diameter 7) exceeds one
    round's ~5-hop reach and raises at max_iter=1."""
    import pytest as _pytest

    from equi7grid_spark.dedup import connected_components, duplicate_clusters

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base + " one"),
        (2, base + " two"),
        (3, base + " two extra"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["cluster_id"]
        for r in duplicate_clusters(docs, threshold=0.75, max_iter=1).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1}

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(7)], "a long, b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(path, max_iter=1).collect()
    labs = {r.id: r.lab for r in connected_components(path, max_iter=4).collect()}
    assert labs == {i: 0 for i in range(8)}


def test_roundtrip_err_buckets_all_close_under_1e9(spark):
    """Every point of lonlat_roundtrip_err_buckets closes under 1e-9
    deg on the compiled kernel (< 1e-11 measured): the bucket oracle's
    tripwire is armed, two decades from its first edge."""
    rows = QUERIES["lonlat_roundtrip_err_buckets"](spark, SF).collect()
    assert rows
    assert all(r.err_bucket == "lt_1e9" for r in rows), rows
