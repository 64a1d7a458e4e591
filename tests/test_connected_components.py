"""connected_components vs a local union-find oracle on seeded random
graphs — shape-independent equivalence for the pointer-jumping
implementation (paths/stars are covered by targeted tests; this sweeps
mixed component shapes, duplicate edges, self-loops and skewed ids)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from equi7grid_spark.dedup import connected_components


def _union_find(n_nodes: int, edges: list[tuple[int, int]]) -> dict[int, int]:
    parent = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-id label per component, only nodes that appear in an edge
    return {x: find(x) for x in parent}


def _random_graph(seed: int, n_nodes: int, n_edges: int) -> list[tuple[int, int]]:
    rng = np.random.default_rng(seed)
    # skew ids into a sparse range so label ordering isn't 0..n-1 dense
    ids = sorted(int(x) for x in rng.choice(10**6, size=n_nodes, replace=False))
    return [
        (ids[int(rng.integers(n_nodes))], ids[int(rng.integers(n_nodes))])
        for _ in range(n_edges)
    ]  # includes self-loops and duplicates by construction


GRAPHS = [(1, 60, 40), (2, 200, 260), (3, 40, 400)]


@pytest.mark.parametrize("seed,n_nodes,n_edges", GRAPHS)
def test_connected_components_matches_union_find(spark, seed, n_nodes, n_edges):
    edges = _random_graph(seed, n_nodes, n_edges)
    expect = _union_find(n_nodes, edges)

    df = spark.createDataFrame(edges, "a long, b long")
    got = {r.id: r.lab for r in connected_components(df, max_iter=20).collect()}
    assert got == expect


def _jobs_in_group(spark, fn):
    """(result or raised exception, Spark jobs run) of fn() under a
    fresh job group."""
    import uuid

    sc = spark.sparkContext
    group = f"cc-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "connected_components test")
    try:
        out = fn()
    except Exception as e:  # noqa: BLE001 - returned to the caller
        out = e
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_connected_components_bad_max_iter_runs_no_job(spark):
    """max_iter is checked before the edge list is materialized: a bad
    argument must not first run the whole upstream pair enumeration."""
    pairs = (
        spark.range(100)
        .groupBy((F.col("id") % 10).alias("a"))
        .agg(F.max("id").alias("b"))
    )
    out, n_jobs = _jobs_in_group(spark, lambda: connected_components(pairs, max_iter=0))
    assert isinstance(out, ValueError) and "max_iter" in str(out)
    assert n_jobs == 0


def _gate_cases(spark) -> dict:
    """Every graph shape of the size-gate test, as name -> result."""
    out = {}
    for seed, n_nodes, n_edges in GRAPHS:
        edges = _random_graph(seed, n_nodes, n_edges)
        got = connected_components(spark.createDataFrame(edges, "a long, b long")).collect()
        out[f"union_find_{seed}"] = ({r.id: r.lab for r in got}, _union_find(n_nodes, edges))
    path8 = spark.createDataFrame([(i, i + 1) for i in range(7)], "a long, b long")
    try:
        connected_components(path8, max_iter=1).collect()
        out["path8_1"] = None
    except RuntimeError as e:
        out["path8_1"] = "did not converge" in str(e)
    out["path8_4"] = {r.id: r.lab for r in connected_components(path8, max_iter=4).collect()}
    path32 = spark.createDataFrame([(i, i + 1) for i in range(31)], "a long, b long")
    out["path32_6"] = {r.id: r.lab for r in connected_components(path32, max_iter=6).collect()}
    loops = spark.createDataFrame([(5, 5), (3, 3), (5, 5)], "a long, b long")
    out["self_loops"] = {r.id: r.lab for r in connected_components(loops, max_iter=1).collect()}
    empty = spark.createDataFrame([], "a long, b long")
    out["empty"] = connected_components(empty, max_iter=1).collect()
    # string ids: their order ("10" < "9") is not the numeric one
    for seed, n_nodes, n_edges in GRAPHS[:2]:
        edges = [(str(x), str(y)) for x, y in _random_graph(seed, n_nodes, n_edges)]
        got = connected_components(spark.createDataFrame(edges, "a string, b string")).collect()
        out[f"strings_{seed}"] = ({r.id: r.lab for r in got}, _union_find(n_nodes, edges))
    # non-ASCII: Spark orders strings by UTF-8 bytes, Python by code
    # point, and the two orders agree
    def labels(rows, schema):
        got = connected_components(spark.createDataFrame(rows, schema)).collect()
        return {r.id: r.lab for r in got}

    out["unicode"] = labels([("日本", "é"), ("é", "z"), ("z", "Ω"), ("b", "a")], "a string, b string")
    # a pair with a null endpoint is no edge: x is in no other pair, so
    # it has no row, and the null joins nothing to a
    out["null_strings"] = labels(
        [("x", None), (None, "a"), ("c", "a"), ("b", "c")], "a string, b string"
    )
    out["null_longs"] = labels([(7, None), (None, 2), (9, 2), (None, None), (4, 9)], "a long, b long")
    # float ids keep the Spark rounds (pandas would code NaN as
    # missing); Spark orders NaN above every other double
    doubles = [(2.5, 1.5), (float("nan"), 2.5)]
    out["doubles"] = sorted(
        (str(r.id), r.lab)
        for r in connected_components(spark.createDataFrame(doubles, "a double, b double")).collect()
    )
    return out


def _executed_plans(spark, fn) -> tuple:
    """(fn(), the physical plans of the SQL executions fn ran)."""
    from test_phash_dedup import _sql_executions

    before = _sql_executions(spark)
    out = fn()
    new = [p for i, p in _sql_executions(spark).items() if i not in before]
    assert new
    return out, new


def test_connected_components_size_gate(spark):
    """The size gate picks the executor, never the answer: every graph
    shape gives the same labels at the session's default threshold
    (these edge lists fit, so the rounds run in one MapInPandas task)
    and at spark.sql.autoBroadcastJoinThreshold=-1, where they run as
    Spark joins with no MapInPandas and no BroadcastExchange in any
    plan."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    on, plans_on = _executed_plans(spark, lambda: _gate_cases(spark))
    spark.conf.set(key, "-1")
    try:
        off, plans_off = _executed_plans(spark, lambda: _gate_cases(spark))
    finally:
        spark.conf.set(key, prev)
    assert on == off
    for seed in (1, 2, 3):
        got, expect = on[f"union_find_{seed}"]
        assert got == expect
    assert on["path8_1"] is True
    assert on["path8_4"] == {i: 0 for i in range(8)}
    assert on["path32_6"] == {i: 0 for i in range(32)}
    assert on["self_loops"] == {3: 3, 5: 5}
    assert on["empty"] == []
    for seed in (1, 2):
        got, expect = on[f"strings_{seed}"]
        assert got == expect
    assert on["unicode"] == {"b": "a", "a": "a", **{k: "z" for k in ("日本", "é", "z", "Ω")}}
    assert on["null_strings"] == {"a": "a", "b": "a", "c": "a"}
    assert on["null_longs"] == {2: 2, 9: 2, 4: 2}
    assert on["doubles"] == [("1.5", 1.5), ("2.5", 1.5), ("nan", 1.5)]
    assert any("MapInPandas" in p for p in plans_on)
    assert not [p for p in plans_off if "MapInPandas" in p or "BroadcastExchange" in p]


def test_connected_components_job_floor(spark):
    """connected_components' Spark jobs on a fixed graph stay at the
    floor of its one-task executor: one job for the counted edge
    checkpoint and one for the label task's checkpoint, whose observed
    changed count needs no job of its own."""
    edges = _random_graph(2, 200, 260)
    pairs = spark.createDataFrame(edges, "a long, b long")
    labels, n_jobs = _jobs_in_group(spark, lambda: connected_components(pairs))
    assert {r.id: r.lab for r in labels.collect()} == _union_find(200, edges)
    # 2 on the test session (local[8], 8 shuffle partitions). Its 8
    # rounds as Spark joins with broadcast hints took 40 jobs; with a
    # lazy pair checkpoint, a count() per round and sort-merge joins
    # demoted by AQE after their shuffle stages ran it was 85
    assert 0 < n_jobs <= 3, n_jobs
