"""SparkSession factory with the engine's scale-oriented defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "equi7grid_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession tuned for this engine.

    Local mode for tests/bench; on a real cluster the same config keys
    apply (AQE on, Arrow on, skew-join backstop on) — the partitioning
    strategy is in the operators, not the session.
    """
    master = master or os.environ.get("SPARK_MASTER", f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]")
    if shuffle_partitions is None:
        cpus = os.cpu_count() or 8
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", str(2 * cpus)))
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Long chains of narrow Projects fuse into one whole-stage
        # method beyond HotSpot's 8 KB JIT ceiling; such stages run ~5x
        # slower interpreted (measured on a ~30-Project unrolled
        # Vincenty chain). Falling back to per-operator codegen at that
        # boundary keeps every generated method JIT-compilable.
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "16384")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
