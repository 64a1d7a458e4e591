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
without raising and yields >= 0 rows with a non-empty schema.

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
