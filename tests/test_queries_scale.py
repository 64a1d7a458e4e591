"""Scale-shape assertions for the headline queries (VERDICT round-1
items 1/3/4/6): the fixed plans must keep their oracle values AND show
the scale-correct physical operators."""

from __future__ import annotations

import duckdb
import pytest

from equi7grid_spark.queries import oracle_sql, queries

QUERIES = queries()
ORACLE_SQL = oracle_sql()

SF = "/root/testdata/sf0.01"


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_embedding_near_dup_has_no_cartesian(spark):
    plan = _physical(QUERIES["embedding_near_dup"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_embedding_near_dup_recall_is_exact(sf):
    """The banded candidates must recover every pair the exact
    all-pairs threshold query finds (recall 1.0 on the test sets)."""
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('/root/testdata/{sf}/embeddings.parquet')"
    )
    banded = con.execute(
        ORACLE_SQL["embedding_near_dup"] + " ORDER BY a, b"
    ).fetchall()
    brute = con.execute(
        """
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        SELECT a.vec_id, b.vec_id,
               round(list_dot_product(a.v, b.v)
                     / (sqrt(list_dot_product(a.v, a.v))
                        * sqrt(list_dot_product(b.v, b.v))), 9)
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v))
                 * sqrt(list_dot_product(b.v, b.v))) >= 0.45
        ORDER BY 1, 2
        """
    ).fetchall()
    assert banded == brute


def test_top_customers_uses_take_ordered(spark):
    plan = _physical(QUERIES["top_customers_by_zone"](spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_ann_cosine_topk_broadcasts_query_side(spark):
    plan = _physical(QUERIES["ann_cosine_topk"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan


def test_flagship_tile_counts_plan_is_jvm_only(spark):
    """The flagship path must contain no Python/Arrow eval nodes and no
    more than the single aggregation shuffle."""
    from equi7grid_spark.operators.assign_jvm import tile_counts_jvm
    from equi7grid_spark.queries import _derived_lonlat

    from equi7grid_spark.operators import kernel

    kernel.require_kernel(spark, "this test")
    df = _derived_lonlat(spark, SF)
    plan = _physical(tile_counts_jvm(df))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # exactly one data shuffle (the partial-aggregated groupBy)
    assert plan.count("Exchange hashpartitioning") == 1
    # one-call compiled kernel: no joins at all
    assert "Join" not in plan


def test_assign_tiles_jvm_plan_is_one_kernel_call(spark):
    """Row-level assign on a kernel session: exactly one compiled
    equi7_zone_xy call per row — no broadcast map joins and no
    interpreted higher-order functions (the Column boundary parity)."""
    from equi7grid_spark.operators import kernel
    from equi7grid_spark.operators.assign_jvm import assign_tiles_jvm
    from equi7grid_spark.queries import _derived_lonlat

    kernel.require_kernel(spark, "this test")
    df = assign_tiles_jvm(_derived_lonlat(spark, SF), tiling_id="T6")
    df.collect()  # pin the executed plan, not just the initial one
    plan = _physical(df).split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" not in plan
    assert "BroadcastExchange" not in plan
    assert "aggregate(" not in plan and "filter(" not in plan
    assert "lambdafunction" not in plan
    assert plan.count("equi7_zone_xy(") == 1


def test_corpus_curation_plan_shape(spark):
    """Filters must reach the documents scan stage (no Python nodes),
    and the duplicate removal must be an anti-join on doc_id — never a
    broadcast (duplicate lists are a large corpus fraction at web
    scale) and never a cartesian."""
    plan = _physical(QUERIES["corpus_curation"](spark, SF))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_decided_tile_assign_plan_is_jvm_only(spark):
    """The oracled geodesic query: one equi7_decided_zone filter and the
    compiled Vincenty, no join, zero Python, a single aggregation
    shuffle."""
    plan = _physical(QUERIES["tile_assign_decided_t6_counts"](spark, SF))
    assert "Join" not in plan
    assert plan.count("equi7_decided_zone(") == 1
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


@pytest.mark.parametrize("name", ["embedding_near_dup", "ann_lsh_bucketed"])
def test_lsh_banding_runs_no_python(spark, name):
    """Sign-LSH banding is one compiled equi7_sign_buckets call: no SQL
    execution the query runs (ann_lsh_bucketed's eager checkpoint
    included) has an Arrow or Batch Python eval node."""
    store = spark._jsparkSession.sharedState().statusStore()
    n0 = store.executionsCount()
    QUERIES[name](spark, SF).collect()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = store.executionsList(n0, 1000)
    plans = [execs.apply(i).physicalPlanDescription() for i in range(execs.size())]
    assert any("equi7_sign_buckets(" in p for p in plans)
    for p in plans:
        assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_multimodal_near_dup_plan_shape(spark):
    """Cross-signal dedup (one-pass signal keying, r6): ONE chunked
    enumeration over the unioned signal keys — exactly one
    chunk-assigning window — and ONE pair-keyed aggregation instead of
    per-signal distincts + a FullOuter merge; never a
    cartesian/nested-loop, no Python (the 2-signal form has no
    embedding UDF)."""
    plan = _physical(QUERIES["image_multimodal_near_dup"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FullOuter" not in plan  # merged into the pair aggregation
    # ONE chunk-assigning enumeration = one row_number window per join
    # side (the old per-signal design had one PER SIGNAL per side)
    assert plan.count("row_number") == 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_tile_rollup_aggregates_before_expanding(spark):
    """Multi-resolution rollup: the 3-way level expansion (Generate)
    must sit ABOVE the first aggregation's exchange — i.e. the explode
    runs on the T1 AGGREGATE, never tripling the raw scan the way
    F.rollup/GROUPING SETS (Expand below the agg) would at 100 TB."""
    df = QUERIES["tile_rollup_counts"](spark, SF)
    plan = _physical(df)
    assert "Expand" not in plan  # no GROUPING-SETS-style input expansion
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    gen = plan.index("Generate")
    first_exchange = plan.rindex("Exchange hashpartitioning")
    assert gen < first_exchange, "explode must consume the aggregate"
    # values: each level's total must equal the input row count
    import pyspark.sql.functions as F

    totals = {
        r["level"]: r["t"]
        for r in df.groupBy("level").agg(F.sum("n").alias("t")).collect()
    }
    n = spark.read.parquet(f"{SF}/lineitem.parquet").count()
    assert totals == {"T1": n, "T3": n, "T6": n}


def test_bench_headline_queries_exist():
    """Every bench HEADLINE entry must be a registered query — guards
    renames from silently breaking the driver's per-round bench."""
    import importlib.util
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "bench", Path(__file__).resolve().parents[1] / "bench.py"
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    missing = set(bench.HEADLINE) - set(QUERIES)
    assert not missing, f"HEADLINE names not in queries(): {missing}"


def test_phash_near_dup_plan_joins_on_chunk_keys(spark):
    """Round-4 skew hardening in the plan: the candidate join must key
    on the chunk-pair columns (ci, cj) alongside the band — never a
    cartesian or nested-loop — and stay fully JVM-side."""
    from equi7grid_spark.dedup import phash_near_dup
    from equi7grid_spark.images import synthetic_images

    allv = synthetic_images(spark, 1000, with_bytes=False).select(
        "image_id", "phash"
    )
    plan = _physical(phash_near_dup(allv))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ci" in plan and "cj" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
