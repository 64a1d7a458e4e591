"""The checked-in kernel jar must match its Java sources and its baked
zone data: a source edit, a new kernel class or a zone-structure
change without a rebuild (scripts/build_zonedata.py, then
scripts/build_jvm_kernel.sh) fails here instead of silently running
stale bytecode or stale zones. The jar is the only implementation of its entries, so
a session that cannot load it must fail loudly, and every entry must
have a caller."""

from __future__ import annotations

import importlib.util
import math
import re
import zipfile
from pathlib import Path

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

ROOT = Path(__file__).resolve().parents[1] / "equi7grid_spark"
PKG = ROOT / "jvm"


def test_every_java_source_has_its_class_in_the_jar():
    with zipfile.ZipFile(PKG / "equi7-kernel.jar") as jar:
        classes = set(jar.namelist())
    sources = sorted((PKG / "src" / "equi7").glob("*.java"))
    assert sources
    missing = [
        s.name for s in sources if f"equi7/{s.stem}.class" not in classes
    ]
    assert not missing, f"rebuild equi7-kernel.jar: no class for {missing}"


def test_jar_zone_resources_equal_a_fresh_build():
    """Both baked zone structures in the jar are byte-identical to what
    scripts/build_zonedata.py writes from the current NumPy zones."""
    path = ROOT.parent / "scripts" / "build_zonedata.py"
    spec = importlib.util.spec_from_file_location("build_zonedata", path)
    build = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(build)
    assert set(build.RESOURCES) == {"zonedata.bin", "members.bin"}
    with zipfile.ZipFile(PKG / "equi7-kernel.jar") as jar:
        for name, make in build.RESOURCES.items():
            assert jar.read(f"equi7/{name}") == make(), f"rebuild {name} and the jar"


def test_every_entry_wrapper_has_a_caller():
    """Each registered entry equi7_<name> has its Column wrapper
    kernel.<name>_col, and the engine calls that wrapper outside
    operators/kernel.py: an entry nothing calls is dead jar code."""
    from equi7grid_spark.operators import kernel

    kernel_py = ROOT / "operators" / "kernel.py"
    entries = re.findall(r'\("equi7_(\w+)", "equi7\.', kernel_py.read_text())
    assert entries
    engine = "\n".join(
        p.read_text() for p in sorted(ROOT.rglob("*.py")) if p != kernel_py
    )
    unused = []
    for name in entries:
        wrapper = f"{name}_col"
        assert callable(getattr(kernel, wrapper, None)), wrapper
        if not re.search(rf"\b{wrapper}\b", engine):
            unused.append(wrapper)
    assert not unused, f"kernel entries without a caller: {unused}"


def _frame(spark):
    return spark.createDataFrame(
        [(5.0, 47.0, [1.0, 2.0])], "lon double, lat double, v array<double>"
    )


def test_missing_jar_fails_loudly(spark, sf_dir, monkeypatch):
    """Without the jar every kernel user raises a RuntimeError naming
    it, instead of running some other implementation."""
    from equi7grid_spark.dedup import cosine_seq
    from equi7grid_spark.operators import kernel
    from equi7grid_spark.operators.assign_jvm import assign_tiles_jvm, tile_counts_jvm
    from equi7grid_spark.queries import q_tile_roundtrip_t6_counts

    df = _frame(spark)
    monkeypatch.setattr(kernel, "_STATE", {})
    monkeypatch.setattr(kernel, "_kernel_jar", lambda: None)
    calls = {
        "tile_counts_jvm": lambda: tile_counts_jvm(df),
        "assign_tiles_jvm": lambda: assign_tiles_jvm(df),
        "tile_roundtrip_t6_counts": lambda: q_tile_roundtrip_t6_counts(spark, sf_dir),
        "cosine_seq": lambda: cosine_seq(spark, F.col("v"), F.col("v")),
    }
    for what, call in calls.items():
        with pytest.raises(RuntimeError, match="equi7-kernel.jar") as err:
            call()
        assert what in str(err.value)
        assert isinstance(err.value.__cause__, FileNotFoundError), what


def test_unloadable_kernel_raises_with_its_cause(spark, monkeypatch):
    """A jar that is present but cannot register an entry raises with
    the registration error chained, not swallowed."""
    from pyspark.sql import types as T

    from equi7grid_spark.operators import kernel
    from equi7grid_spark.operators.assign_jvm import tile_counts_jvm

    monkeypatch.setattr(kernel, "_STATE", {})
    monkeypatch.setattr(
        kernel,
        "_ENTRIES",
        kernel._ENTRIES + (("equi7_missing", "equi7.NoSuchClass", T.LongType()),),
    )
    with pytest.raises(RuntimeError, match="equi7-kernel.jar") as err:
        tile_counts_jvm(_frame(spark))
    assert "NoSuchClass" in str(err.value.__cause__)


def test_kernel_registers_zone_xy(spark):
    from equi7grid_spark.operators import kernel

    kernel.require_kernel(spark, "this test")
    for name, _, _ in kernel._ENTRIES:
        assert spark.catalog.functionExists(name), name
    (row,) = spark.sql("SELECT equi7_zone_xy(15.0D, 48.0D) AS v").collect()
    assert len(row.v) == 3 and row.v[0] == 3.0  # EU
    (row,) = spark.sql(
        "SELECT equi7_cosine_seq(array(3.0D, 4.0D), array(3.0D, 4.0D)) AS c,"
        " equi7_emb_buckets(array(1.0D, 2.0D), 8, 16) AS k"
    ).collect()
    assert row.c == 1.0 and len(row.k) == 8


# every geodesic entry and the arguments it takes, in call order
GEODESIC_ENTRIES = {
    "equi7_zone_xy": ("lon", "lat"),
    "equi7_decided_zone": ("lon", "lat"),
    "equi7_zone_members": ("lon", "lat"),
    "equi7_zone_tile_key": ("lon", "lat", "ts"),
    "equi7_roundtrip_zone_tile_key": ("lon", "lat", "ts"),
    "equi7_xy": ("zc", "lon", "lat"),
    "equi7_lonlat": ("zc", "x", "y"),
}


def test_geodesic_entries_hostile_input_is_null_never_throws(spark):
    """Each geodesic entry returns null for a null argument, a NaN or
    +-inf coordinate or tile size, or a zone code outside 0..6, and the
    job does not fail; the same row with only good arguments is not null."""
    from equi7grid_spark.operators import kernel

    kernel.require_kernel(spark, "this test")
    nan, inf = float("nan"), float("inf")
    cols = ("zc", "lon", "lat", "x", "y", "ts")
    good = dict(zc=3, lon=15.0, lat=48.0, x=5837287.8, y=2121415.7, ts=600000.0)
    hostile = {"zc": [None, -1, 7]}
    hostile.update({c: [None, nan, inf, -inf] for c in cols[1:]})
    rows = [("ok", *good.values())]
    for col, values in hostile.items():
        for v in values:
            rows.append((f"{col}={v}", *dict(good, **{col: v}).values()))
    df = spark.createDataFrame(
        rows, "case string, zc tinyint, lon double, lat double, x double, y double, ts double"
    )
    out = df.select(
        "case",
        *[
            F.call_udf(name, *[F.col(a) for a in args]).alias(name)
            for name, args in GEODESIC_ENTRIES.items()
        ],
    ).collect()
    assert len(out) == len(rows)
    for r in out:
        broken = r.case.split("=")[0]
        for name, args in GEODESIC_ENTRIES.items():
            assert (r[name] is None) == (broken in args), (r.case, name, r[name])


def _members(spark, lon, lat) -> np.ndarray:
    """equi7_zone_members as a [n_points, 7] boolean matrix."""
    from equi7grid_spark.operators import kernel

    kernel.require_kernel(spark, "this test")
    pdf = pd.DataFrame({"i": np.arange(len(lon)), "lon": lon, "lat": lat})
    out = (
        spark.createDataFrame(pdf)
        .select("i", kernel.zone_members_col(F.col("lon"), F.col("lat")).alias("m"))
        .orderBy("i")
        .toPandas()
    )
    member = np.zeros((len(lon), 7), dtype=bool)
    for k, m in enumerate(out["m"]):
        assert list(m) == sorted(m), m
        member[k, list(m)] = True
    return member


def test_zone_members_match_numpy_membership(spark):
    """equi7_zone_members equals zones.zone_membership(buffered=True)
    for a seeded point in every bfrd boundary cell plus global points
    (the sample of tests/test_zones_pip_membership.py)."""
    from equi7grid_spark.zones import zone_membership
    from equi7grid_spark.zones_pip import membership_cands

    rng = np.random.default_rng(7)
    _, cands = membership_cands("bfrd")
    cells = np.array(sorted({c["cell_id"] for c in cands}))
    lon = (cells // 180 - 180) + rng.random(cells.size)
    lat = (cells % 180 - 90) + rng.random(cells.size)
    lon = np.concatenate([lon, rng.random(3000) * 360.0 - 180.0])
    lat = np.concatenate([lat, rng.random(3000) * 180.0 - 90.0])
    want = zone_membership(lon, lat, buffered=True)
    np.testing.assert_array_equal(_members(spark, lon, lat), want)
    assert int((want.sum(axis=1) >= 2).sum()) > 0


def test_zone_members_buffered_overlap_and_wrap(spark):
    """Reference tests/test_equi7grid.py:412-418: (51.12, 61.71) lies in
    the buffered AS and EU zones; lon 200 is lon -160, and a lat beyond
    a pole clamps to it, as in the primary-zone resolve and NumPy."""
    from equi7grid_spark.constants import DEFAULT_SYSTEM_ORDER
    from equi7grid_spark.zones import zone_membership

    lon = np.array([51.12, 200.0, -160.0, 15.0, 15.0, -100.0, -100.0])
    lat = np.array([61.71, 10.0, 10.0, 95.0, 90.0, -91.0, -90.0])
    m = _members(spark, lon, lat)
    assert [DEFAULT_SYSTEM_ORDER[j] for j in np.flatnonzero(m[0])] == ["AS", "EU"]
    assert m[1].any() and (m[1] == m[2]).all()
    assert (m[3] == m[4]).all() and (m[5] == m[6]).all()
    np.testing.assert_array_equal(m, zone_membership(lon, lat, buffered=True))


def test_zone_assign_buffered_counts_plan_is_one_kernel_call(spark, sf_dir):
    """The buffered query runs no Python: its executed plan has no
    Arrow/Batch eval node and exactly one equi7_zone_members call."""
    from equi7grid_spark.queries import q_zone_assign_buffered_counts

    df = q_zone_assign_buffered_counts(spark, sf_dir)
    df.collect()  # pin the executed plan, not just the initial one
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert plan.count("equi7_zone_members(") == 1


def _seq_dot(a, b) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


@pytest.mark.parametrize("dim", [16, 512])
def test_cosine_seq_equals_sequential_reference(spark, dim):
    """equi7_cosine_seq is bit-identical (==, not approx) to the
    left-to-right accumulation ab / (sqrt(aa) * sqrt(bb))."""
    from equi7grid_spark.dedup import cosine_seq

    rng = np.random.default_rng(dim)
    A = rng.normal(size=(60, dim))
    B = A + rng.normal(scale=0.3, size=A.shape) * rng.uniform(0, 1, (60, 1))
    rows = [(i, a.tolist(), b.tolist()) for i, (a, b) in enumerate(zip(A, B))]
    df = spark.createDataFrame(rows, "i int, a array<double>, b array<double>")
    got = {
        r.i: r.c
        for r in df.select("i", cosine_seq(spark, F.col("a"), F.col("b")).alias("c")).collect()
    }
    for i, a, b in rows:
        want = _seq_dot(a, b) / (math.sqrt(_seq_dot(a, a)) * math.sqrt(_seq_dot(b, b)))
        assert got[i] == want, (i, got[i], want)


@pytest.mark.parametrize("n_bands,n_planes,dim", [(8, 16, 16), (3, 5, 40)])
def test_emb_buckets_equal_sequential_reference(spark, n_bands, n_planes, dim):
    """equi7_emb_buckets equals sign bits of sequential dots against
    the planes of dedup.emb_plane_value."""
    from equi7grid_spark.dedup import _emb_buckets_udf, emb_plane_value

    planes = [
        [[emb_plane_value(b, p, d) for d in range(dim)] for p in range(n_planes)]
        for b in range(n_bands)
    ]
    rng = np.random.default_rng(dim + n_bands)
    V = rng.normal(size=(80, dim)).tolist()
    df = spark.createDataFrame(list(enumerate(V)), "i int, v array<double>")
    got = {
        r.i: list(r.k)
        for r in df.select(
            "i", _emb_buckets_udf(spark, F.col("v"), n_bands, n_planes).alias("k")
        ).collect()
    }
    for i, v in enumerate(V):
        want = [
            sum(1 << p for p in range(n_planes) if _seq_dot(v, planes[b][p]) > 0)
            for b in range(n_bands)
        ]
        assert got[i] == want, i


def test_vector_entries_hostile_input_never_throws(spark):
    """Null array, null element, mismatched lengths and a zero vector
    give a null cosine; NaN propagates as NaN. Buckets keep the
    oracle's CASE WHEN dot > 0 sign bits for every non-null array (a
    null element counts as NaN, so zero, empty, NaN and null-element
    vectors land in bucket 0 of every band); only a null array gives
    null. equi7_sign_buckets given EmbBuckets' own 2-dim planes runs
    the same sign loop, so it equals equi7_emb_buckets on every 2-dim
    row; it is null for the 3-dim and empty rows, whose length the
    plane blob does not fit. No row fails the job."""
    from equi7grid_spark.dedup import _emb_buckets_udf, cosine_seq, emb_plane_value
    from equi7grid_spark.operators.kernel import sign_buckets_col

    nan, inf = float("nan"), float("inf")
    rows = [
        ("null_array", None, [1.0, 2.0]),
        ("null_element", [1.0, None], [1.0, 2.0]),
        ("nan", [1.0, nan], [1.0, 2.0]),
        ("inf", [inf, 1.0], [1.0, 2.0]),
        ("zero", [0.0, 0.0], [1.0, 2.0]),
        ("lengths", [1.0, 2.0, 3.0], [1.0, 2.0]),
        ("empty", [], []),
        ("ok", [3.0, 4.0], [6.0, 8.0]),
    ]
    df = spark.createDataFrame(rows, "case string, a array<double>, b array<double>")
    planes = [[[emb_plane_value(b, p, d) for d in range(2)] for p in range(16)] for b in range(8)]
    out = {
        r.case: (r.c, r.k, r.s)
        for r in df.select(
            "case",
            cosine_seq(spark, F.col("a"), F.col("b")).alias("c"),
            _emb_buckets_udf(spark, F.col("a"), 8, 16).alias("k"),
            sign_buckets_col(F.col("a"), planes).alias("s"),
        ).collect()
    }
    for case in ("null_array", "null_element", "zero", "lengths", "empty"):
        assert out[case][0] is None, case
    assert math.isnan(out["nan"][0]) and math.isnan(out["inf"][0])
    assert out["ok"][0] == 1.0
    assert out["null_array"][1] is None
    for case in ("null_element", "nan", "zero", "empty"):
        assert list(out[case][1]) == [0] * 8, case
    for case, a, _ in rows[3:]:
        a = [nan if x is None else x for x in a]
        want = [
            sum(
                1 << p
                for p in range(16)
                if _seq_dot(a, [emb_plane_value(b, p, d) for d in range(len(a))]) > 0
            )
            for b in range(8)
        ]
        assert list(out[case][1]) == want, case
    for case, (_, k, s) in out.items():
        if case in ("null_array", "lengths", "empty"):
            assert s is None, case
        else:
            assert list(s) == list(k), case


def _sign_buckets(spark, V, planes) -> list:
    from equi7grid_spark.operators import kernel

    kernel.require_kernel(spark, "this test")
    df = spark.createDataFrame(list(enumerate(V)), "i int, v array<double>")
    rows = df.select("i", kernel.sign_buckets_col(F.col("v"), planes).alias("k"))
    return [r.k for r in sorted(rows.collect())]


def test_sign_buckets_equal_numpy_sign_bits(spark):
    """equi7_sign_buckets with the fixed planes of embedding_near_dup
    (24 bands x 2 planes, fed as plane 2b+1 then 2b) and
    ann_lsh_bucketed (1 band x 3 planes) gives the bucket ids of the
    oracles' CASE arithmetic, from NumPy sign bits; zero, NaN and
    null-element vectors get bucket 0 in every band."""
    from equi7grid_spark.queries import _ND_BANDS, _N_PLANES, _lsh_plane, _nd_planes

    rng = np.random.default_rng(11)
    V = rng.normal(size=(200, 64)).tolist()
    V += [[0.0] * 64, [1.0] * 63 + [float("nan")], [1.0] * 63 + [None]]
    X = np.array([[np.nan if x is None else x for x in v] for v in V])

    nd = np.array(_nd_planes())
    S = (X @ nd.T) > 0
    want = S[:, 0::2] * 2 + S[:, 1::2]
    got = _sign_buckets(spark, V, nd.reshape(_ND_BANDS, 2, 64)[:, ::-1])
    np.testing.assert_array_equal(np.array(got), want)

    lsh = np.array([_lsh_plane(j) for j in range(_N_PLANES)])
    want = ((X @ lsh.T) > 0) @ (1 << np.arange(_N_PLANES))
    got = _sign_buckets(spark, V, lsh[None])
    np.testing.assert_array_equal(np.array(got)[:, 0], want)
    assert (want[-3:] == 0).all() and len(set(want)) == 8


def test_sign_buckets_bad_arguments_are_null(spark):
    """A null array, an empty array, n_planes outside 1..31 or a plane
    blob that is not a positive multiple of 8 * n_planes * dim bytes
    gives null; the well-formed row of each case does not."""
    from equi7grid_spark.operators import kernel

    kernel.require_kernel(spark, "this test")
    blob = np.ones(2 * 3 * 4, dtype="<f8").tobytes()  # 2 bands x 3 planes x dim 4
    cases = {
        "ok": ([1.0] * 4, blob, 3),
        "null_array": (None, blob, 3),
        "empty": ([], blob, 3),
        "null_blob": ([1.0] * 4, None, 3),
        "blob_not_multiple": ([1.0] * 4, blob[:-8], 3),
        "blob_empty": ([1.0] * 4, b"", 3),
        "dim_mismatch": ([1.0] * 5, blob, 3),
        "n_planes_0": ([1.0] * 4, blob, 0),
        "n_planes_32": ([1.0] * 4, blob, 32),
        "n_planes_null": ([1.0] * 4, blob, None),
    }
    df = spark.createDataFrame(
        [(k, *v) for k, v in cases.items()], "case string, v array<double>, p binary, n int"
    )
    out = {
        r.case: r.k
        for r in df.select(
            "case", F.call_udf("equi7_sign_buckets", "v", "p", "n").alias("k")
        ).collect()
    }
    assert out.pop("ok") == [7, 7]
    assert out == {k: None for k in out}


def test_decided_zone_equals_decided_cell_codes(spark):
    """equi7_decided_zone at every 1-degree cell centre is the cell's
    zones.decided_cell_codes entry, null where that is negative (-2:
    needs the exact boundary parity; -1: out of every zone)."""
    from equi7grid_spark.operators import kernel
    from equi7grid_spark.zones import PF_NX, PF_NY, decided_cell_codes

    kernel.require_kernel(spark, "this test")
    codes = decided_cell_codes().ravel()  # cell_id = ix * PF_NY + iy
    cell = np.arange(PF_NX * PF_NY)
    pdf = pd.DataFrame(
        {"cell": cell, "lon": cell // PF_NY - 179.5, "lat": cell % PF_NY - 89.5}
    )
    got = (
        spark.createDataFrame(pdf)
        .select("cell", kernel.decided_zone_col(F.col("lon"), F.col("lat")).alias("zc"))
        .orderBy("cell")
        .toPandas()["zc"]
    )
    want = pd.Series(np.where(codes >= 0, codes, np.nan))
    np.testing.assert_array_equal(got.to_numpy(dtype=float), want.to_numpy())
    assert (codes == -2).any()  # the std zones leave no -1 cell


def test_kernel_registers_on_every_new_session(spark):
    """Kernel state is keyed on the session object, not on id(session):
    a dropped session is collected and forgotten, and a new session
    that happens to get the id of a collected one still registers the
    kernel (it once skipped registration and failed with
    UNRESOLVED_ROUTINE)."""
    import gc
    import weakref

    from equi7grid_spark.operators import kernel

    dropped = []
    for _ in range(30):
        s = spark.newSession()
        kernel.require_kernel(s, "this test")
        (row,) = s.sql("SELECT equi7_zone_xy(15.0D, 48.0D) AS v").collect()
        assert row.v[0] == 3.0
        dropped.append(weakref.ref(s))
        del s, row
        gc.collect()
    # pyspark's RDD.toDF patch holds the newest session until the next
    assert all(ref() is None for ref in dropped[:-1])


def test_vector_entries_run_on_the_owning_session(spark):
    """Java functions are registered per session: a frame of a session
    other than the active one still gets its cosine and buckets."""
    from equi7grid_spark.dedup import _emb_buckets_udf, cosine_seq

    other = spark.newSession()
    df = other.createDataFrame([([3.0, 4.0], [6.0, 8.0])], "a array<double>, b array<double>")
    (row,) = df.select(
        cosine_seq(other, F.col("a"), F.col("b")).alias("c"),
        _emb_buckets_udf(other, F.col("a"), 8, 16).alias("k"),
    ).collect()
    assert row.c == 1.0 and len(row.k) == 8
