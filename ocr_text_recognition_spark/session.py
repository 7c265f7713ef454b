"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what a cluster deployment sets per-job:
AQE on (runtime re-plan + skew-join splitting), Arrow transfers on
(all kernel UDFs are pandas/Arrow batched), shuffle partitions sized
to the parallelism level instead of the 200 default, and a capped
Arrow batch size so decoded-image batches fit executor memory
(SURVEY.md §4.2 item 4).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Images decode to ~W*H bytes each; keep Arrow batches small enough that a
# batch of decoded ndarrays stays well under executor memory at 100 TB scale.
ARROW_MAX_RECORDS_PER_BATCH = 256


def default_cores() -> int:
    """Local parallelism when the caller names none: ``SPARK_GRAFT_CPUS`` if
    set, else the CPUs this process may run on (which honours a CPU pin or
    cpuset, unlike ``os.cpu_count()``)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or len(os.sched_getaffinity(0))


def get_spark(
    app_name: str = "ocr_text_recognition_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` controls local parallelism (``local[cores]``); on a real
    cluster the master comes from spark-submit and this arg is ignored.
    """
    if cores is None:
        cores = default_cores()
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS_PER_BATCH),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    # Only force a master when none is configured (spark-submit wins).
    if not os.environ.get("SPARK_MASTER") and "SPARK_SUBMIT" not in os.environ:
        builder = builder.master(f"local[{cores}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
