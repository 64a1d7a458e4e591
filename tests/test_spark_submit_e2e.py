"""Deployment-seam e2e: package.sh zip + spark-submit --py-files.

The driver (and any real cluster) ships the engine as a --py-files
archive, where `Path(__file__)` points inside a zip — a seam the
in-process tests can't see (jar/resource paths, data-artifact
extraction, import layout). This launches the packaged artifact on a
plain local[2] spark-submit from a NEUTRAL cwd (so the repo dir can't
shadow the zip import) and asserts the flagship runs end-to-end, on
the compiled-kernel path, with the expected sf0.001 output, and that
an engine Python stage pickled by reference (connected components'
one-task rounds) runs in workers that import it from the zip.
"""

import os
import subprocess
import zipfile
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

DRIVER_SCRIPT = """
import sys
from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[2]")
         .appName("e2e-packaged").config("spark.ui.enabled", "false")
         .getOrCreate())

import equi7grid_spark
assert ".zip" in equi7grid_spark.__file__, (
    "engine must import from the zip, got " + equi7grid_spark.__file__)

from equi7grid_spark.operators import kernel
from equi7grid_spark.operators.assign_jvm import tile_counts_jvm
from equi7grid_spark.images import synthetic_images

# raises, naming the jar, when the packaged session cannot load it
kernel.require_kernel(spark, "the packaged flagship")
print("KERNEL_LOADED")

# a worker that imported the engine from the --py-files zip re-reads no
# zip directory in importlib.invalidate_caches(), which pyspark calls
# before every task
def zip_reads(batches):
    import importlib, os, zipimport
    import pandas as pd
    import equi7grid_spark
    for _ in batches:
        pass
    read, reads = zipimport._read_directory, []
    zipimport._read_directory = lambda a: reads.append(a) or read(a)
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read
    yield pd.DataFrame({"pid": [os.getpid()], "zip_reads": [len(reads)]})

rep = spark.range(4, numPartitions=4).mapInPandas(
    zip_reads, "pid long, zip_reads long").collect()
print("LAZY_ZIP", len(rep), all(r.zip_reads == 0 for r in rep))

# connected components of a small graph close in one Python task,
# whose function the workers import from the zip
from equi7grid_spark.dedup import connected_components
cc = connected_components(
    spark.createDataFrame([(1, 2), (3, 2), (8, 7)], "a long, b long"))
print("CC_RESULT", sorted((r.id, r.lab) for r in cc.collect()))

imgs = synthetic_images(spark, 5000, with_bytes=False)
out = tile_counts_jvm(imgs, tiling_id="T6")
rows = out.count()
total = sum(r.n for r in out.collect())
print("E2E_RESULT", rows, total)
spark.stop()
"""


def test_spark_submit_packaged_flagship(tmp_path):
    subprocess.run(
        ["bash", str(REPO / "scripts" / "package.sh")], check=True, cwd=REPO,
        capture_output=True,
    )
    zip_path = REPO / "equi7grid_spark.zip"
    assert zip_path.exists()
    with zipfile.ZipFile(zip_path) as zf:
        names = zf.namelist()
        assert "equi7grid_spark/jvm/equi7-kernel.jar" in names
        # the jar holds the classes and zone resources; no build input ships
        jvm = [n for n in names if n.startswith("equi7grid_spark/jvm/")]
        assert not [n for n in jvm if n.endswith((".java", ".bin"))], jvm
        assert any(n.startswith("equi7grid_spark/data/") for n in names)

    script = tmp_path / "driver.py"
    script.write_text(DRIVER_SCRIPT)
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    proc = subprocess.run(
        [
            "spark-submit",
            "--master", "local[2]",
            "--py-files", str(zip_path),
            str(script),
        ],
        cwd=tmp_path,  # neutral cwd: repo checkout must not be importable
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    tail = "\n".join((proc.stdout + proc.stderr).splitlines()[-30:])
    assert proc.returncode == 0, f"spark-submit failed:\n{tail}"
    assert "KERNEL_LOADED" in proc.stdout, tail
    assert "LAZY_ZIP 4 True" in proc.stdout, tail
    assert "CC_RESULT [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)]" in proc.stdout, tail
    result = [ln for ln in proc.stdout.splitlines() if ln.startswith("E2E_RESULT")]
    assert result, tail
    _, rows, total = result[0].split()
    # 5000 seeded images, every one assigned to exactly one tile
    assert int(total) == 5000
    assert int(rows) > 100
