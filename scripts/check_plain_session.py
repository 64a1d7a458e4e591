"""Driver-session parity gate.

Round 2 shipped a bug that only fired on the driver's *plain*
SparkSession: schema-less ``createDataFrame(pandas)`` maps int8 ->
tinyint only under Arrow conversion; without Arrow it infers bigint and
the Java kernel UDF (UDF3<Byte,...>) crashed with a Long->Byte
ClassCastException. Every builder test ran on ``session.get_spark``
(Arrow on), so the contract "works on ANY SparkSession" was asserted in
a docstring but never tested. This script is the missing CI leg — the
reference's analogue is its 3-OS test matrix
(/root/reference/.github/workflows/ci.yml:11-17): test the environment
you ship to.

Builds ``SparkSession.builder.master(local[2]).getOrCreate()`` with NO
engine configs (no Arrow, no AQE tweaks, default shuffle partitions —
mirroring the driver's harness), then runs every
``__spark_entry__.queries()`` entry at sf0.001 and asserts each returns
without raising and yields >= 0 rows with a non-empty schema. It also
runs compute_phash and image_stats over 100 images with one truncated
payload, which must come out as one null row, and drains one
streaming_phash_near_dup query (availableNow), whose pairs must equal
batch phash_near_dup's on the same rows.

Run it in a FRESH process (the builder's configured session must not
already own the JVM): ``python scripts/check_plain_session.py [sf_dir]``.
Exit code 0 = all queries ran; 1 = at least one raised.
"""

from __future__ import annotations

import sys
import time
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def _corrupt_row_outputs(spark):
    """compute_phash and image_stats over 100 synthetic images whose
    row 2 (a q8 image) is cut in half: (image_id -> phash, image_id ->
    px_min)."""
    import numpy as np

    from equi7grid_spark.images import make_batch
    from equi7grid_spark.operators.multimodal import compute_phash, image_stats

    pdf = make_batch(np.arange(100))[["image_id", "bytes", "fmt", "w", "h"]]
    assert pdf.at[2, "fmt"] == "q8"
    pdf.at[2, "bytes"] = pdf.at[2, "bytes"][: len(pdf.at[2, "bytes"]) // 2]
    imgs = spark.createDataFrame(
        pdf, "image_id string, bytes binary, fmt string, w int, h int"
    )
    ph = {r.image_id: r.phash for r in compute_phash(imgs).collect()}
    st = {r.image_id: r.px_min for r in image_stats(imgs).collect()}
    return ph, st


def _streaming_phash_pairs(spark):
    """streaming_phash_near_dup drained availableNow into a memory sink,
    and batch phash_near_dup, over the same 64 rows (random hashes,
    planted variants at hamming 0-3, all inside one horizon): (stream
    pairs, batch pairs), each sorted."""
    import random
    import tempfile

    from equi7grid_spark.dedup import phash_near_dup
    from equi7grid_spark.streaming.pipeline import (
        run_available_now,
        streaming_phash_near_dup,
    )

    def signed(v):
        return v - (1 << 64) if v >= 1 << 63 else v

    rnd = random.Random(3)
    hashes = [rnd.getrandbits(64) for _ in range(48)]
    rows = [(f"s{i:02d}", signed(h)) for i, h in enumerate(hashes)]
    for i in range(0, 48, 3):
        mask = sum(1 << rnd.randrange(64) for _ in range(i % 4))
        rows.append((f"s{i:02d}v", signed(hashes[i] ^ mask)))
    df = spark.createDataFrame(
        [(r[0], f"2026-01-01 10:{k // 60:02d}:{k % 60:02d}", r[1])
         for k, r in enumerate(rows)],
        "image_id string, ts_s string, phash long",
    ).selectExpr("image_id", "CAST(ts_s AS TIMESTAMP) AS ts", "phash")
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/src")
        run_available_now(
            streaming_phash_near_dup(spark, f"{d}/src"), f"{d}/ck", "plain_phash_pairs"
        )
        got = spark.sql("select id_a, id_b, hamming from plain_phash_pairs").collect()
    want = phash_near_dup(df.select("image_id", "phash")).collect()
    return sorted(map(tuple, got)), sorted(map(tuple, want))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .appName("plain-session-parity")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    assert (
        spark.conf.get("spark.sql.execution.arrow.pyspark.enabled", "false")
        == "false"
    ), "gate invalid: Arrow is on, this is not a plain session"

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    failed: list[str] = []
    for name, fn in qs.items():
        if only is not None and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            n = df.count()
            ncols = len(df.columns)
            assert ncols > 0
            print(f"{name:40s} OK    rows={n:<8d} cols={ncols} {time.time()-t0:.1f}s")
        except Exception:
            failed.append(name)
            print(f"{name:40s} FAIL  {time.time()-t0:.1f}s")
            traceback.print_exc()

    # No Python worker that has imported the engine re-reads a zip
    # directory in importlib.invalidate_caches(), which pyspark calls
    # before every task (equi7grid_spark/_zipimport.py).
    import python_task_cost
    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(python_task_cost)
    n = spark.sparkContext.defaultParallelism * 2
    rep = spark.range(n, numPartitions=n).mapInPandas(
        python_task_cost.zip_reads_per_invalidation, "pid long, zip_reads long"
    ).collect()
    if len(rep) == n and all(r.zip_reads == 0 for r in rep):
        print(f"{'lazy zip invalidation':40s} OK    workers={len({r.pid for r in rep})}")
    else:
        failed.append("lazy_zip_invalidation")
        print(f"{'lazy zip invalidation':40s} FAIL  {rep}")

    # One truncated q8 image among 100 gives null outputs, not a failed
    # job, and the nullable phash / px_min columns cross Arrow as nulls
    # next to integer values (not a cast error, not floats).
    try:
        ph, st = _corrupt_row_outputs(spark)
        assert ph.pop("img000000000002") is None, "corrupt row phash"
        assert st.pop("img000000000002") is None, "corrupt row px_min"
        assert len(ph) == len(st) == 99
        assert all(type(v) is int for v in [*ph.values(), *st.values()])
        print(f"{'corrupt image rows (phash, stats)':40s} OK    nulls=1 of 100")
    except Exception:
        failed.append("corrupt_image_rows")
        print(f"{'corrupt image rows (phash, stats)':40s} FAIL")
        traceback.print_exc()

    # The streaming twin's bucket state and its verify step run on the
    # plain session too, and give the batch operator's pairs.
    try:
        got, want = _streaming_phash_pairs(spark)
        assert got == want and len(want) >= 12, (got, want)
        print(f"{'streaming phash near-dup == batch':40s} OK    pairs={len(got)}")
    except Exception:
        failed.append("streaming_phash_near_dup")
        print(f"{'streaming phash near-dup == batch':40s} FAIL")
        traceback.print_exc()

    # Smoke the driver's entry() too.
    try:
        n = entrymod.entry(spark).count()
        print(f"{'entry()':40s} OK    rows={n}")
    except Exception:
        failed.append("entry")
        traceback.print_exc()

    if failed:
        print(f"PLAIN-SESSION GATE: {len(failed)} FAILED: {failed}")
        return 1
    print("PLAIN-SESSION GATE: all green")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
