"""The checked-in kernel jar must match its Java sources: a source
edit or a new kernel class without a rebuild
(scripts/build_jvm_kernel.sh) fails here instead of silently running
stale bytecode."""

from __future__ import annotations

import zipfile
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "equi7grid_spark" / "jvm"


def test_every_java_source_has_its_class_in_the_jar():
    with zipfile.ZipFile(PKG / "equi7-kernel.jar") as jar:
        classes = set(jar.namelist())
    sources = sorted((PKG / "src" / "equi7").glob("*.java"))
    assert sources
    missing = [
        s.name for s in sources if f"equi7/{s.stem}.class" not in classes
    ]
    assert not missing, f"rebuild equi7-kernel.jar: no class for {missing}"


def test_kernel_registers_zone_xy(spark):
    from equi7grid_spark.operators import kernel

    assert kernel.kernel_available(spark)
    assert spark.catalog.functionExists("equi7_zone_xy")
    (row,) = spark.sql("SELECT equi7_zone_xy(15.0D, 48.0D) AS v").collect()
    assert len(row.v) == 3 and row.v[0] == 3.0  # EU
