"""Warm CPU cost of one Spark Python task, as one JSON line.

    python scripts/python_task_cost.py

Starts a plain ``local[k]`` session (k = the CPUs in this process's
affinity), runs an identity ``mapInPandas`` over PARTITIONS one-row
partitions whose body imports ``equi7grid_spark`` (what unpickling an
engine UDF does), discards WARMUP jobs, then times REPS more. Per job it
reads, from /proc, the CPU time of this process's whole tree (driver,
JVM, Python daemon and workers, with reaped children) and of the Python
workers alone, and divides by PARTITIONS. Prints the host shape, the
medians and ranges per task, and how many zip directories each worker
re-reads in one ``importlib.invalidate_caches()`` (pyspark calls it
before every task; 0 with the engine's lazy invalidation,
``equi7grid_spark/_zipimport.py``, or on Python 3.13+).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from pathlib import Path

ROOT = str(Path(__file__).resolve().parents[1])
sys.path[:0] = [ROOT, str(Path(ROOT) / "layerbench")]

import harness  # noqa: E402  (layerbench's /proc plumbing)

PARTITIONS = 8
WARMUP = 2
REPS = 5


def _identity(batches):
    import equi7grid_spark  # noqa: F401

    yield from batches


def zip_reads_per_invalidation(batches):
    """``mapInPandas`` body, schema ``pid long, zip_reads long``: imports
    the engine, as unpickling an engine UDF does, then counts the zip
    directories one ``importlib.invalidate_caches()`` re-reads in this
    worker. Pickle it by value: the workers cannot import this script."""
    import importlib
    import os
    import zipimport

    import pandas as pd

    import equi7grid_spark  # noqa: F401

    for _ in batches:
        pass
    read, reads = zipimport._read_directory, []

    def counted(archive):
        reads.append(archive)
        return read(archive)

    zipimport._read_directory = counted
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read
    yield pd.DataFrame({"pid": [os.getpid()], "zip_reads": [len(reads)]})


def _tree_cpu_s() -> tuple[float, float]:
    """CPU seconds of this process's tree (with reaped children) and of
    the Python workers in it."""
    ticks = harness._process_tree(os.getpid(), cpu=True)
    workers = 0
    for pid, t in ticks.items():
        if pid == os.getpid():
            continue
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().startswith("python"):
                    workers += t
        except OSError:  # exited since
            pass
    tck = os.sysconf("SC_CLK_TCK")
    return sum(ticks.values()) / tck, workers / tck


def main() -> None:
    # the Python workers import the engine from here too, whatever the cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from pyspark.sql import SparkSession

    cpus = len(os.sched_getaffinity(0))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("python-task-cost")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    df = spark.range(PARTITIONS, numPartitions=PARTITIONS)
    tree_s, worker_s = [], []
    for rep in range(WARMUP + REPS):
        t0, w0 = _tree_cpu_s()
        df.mapInPandas(_identity, df.schema).write.format("noop").mode("overwrite").save()
        t1, w1 = _tree_cpu_s()
        if rep >= WARMUP:
            tree_s.append((t1 - t0) / PARTITIONS)
            worker_s.append((w1 - w0) / PARTITIONS)
    rows = df.mapInPandas(zip_reads_per_invalidation, "pid long, zip_reads long").collect()
    host = harness.host_record(spark)
    spark.stop()

    def summary(xs):
        return {"median": round(statistics.median(xs), 4), "min": round(min(xs), 4),
                "max": round(max(xs), 4)}

    print(json.dumps({
        "host": host,
        "partitions": PARTITIONS,
        "reps": REPS,
        "tree_cpu_s_per_task": summary(tree_s),
        "worker_cpu_s_per_task": summary(worker_s),
        "workers": len({r.pid for r in rows}),
        "max_zip_reads_per_invalidation": max(r.zip_reads for r in rows),
    }))


if __name__ == "__main__":
    main()
