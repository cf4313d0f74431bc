"""SparkSession factory with scale-appropriate defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "cuda-selection-criteria-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Session tuned for the dedup pipeline.

    - AQE on (runtime coalescing + skew-join splitting: the Spark
      answer to the reference's OpenMP dynamic scheduling, SURVEY §4);
    - Arrow enabled with a bounded batch size so the sketch stage's
      [batch, 16384]-byte register matrices stay cache/memory friendly;
    - shuffle partitions sized to cores at local scale (cluster deploys
      override via spark-submit conf).

    Python workers need no setting here: the package stops their
    per-task re-reads of zip archives itself, from ``__init__`` in a
    worker (see ``_worker.py``).
    """
    # glibc mmap's every >=128KB allocation and returns it to the OS on
    # free, so each numpy batch buffer in a UDF worker page-faults from
    # scratch — measured 3.8x slower on this host (throttled fault
    # path). Raising the threshold keeps big buffers on the reused
    # heap. Set before the JVM forks so python workers inherit it; also
    # exported via executorEnv for real clusters.
    for k, v in (("MALLOC_MMAP_THRESHOLD_", "1073741824"), ("MALLOC_TRIM_THRESHOLD_", "268435456")):
        os.environ.setdefault(k, v)

    master = master or os.environ.get("SPARK_MASTER", "local[*]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_BATCH", "2048"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "1073741824")
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "268435456")
    )
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        try:
            shuffle_partitions = max(8, int(cpus))
        except ValueError:
            shuffle_partitions = 32
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
