"""SparkSession factory with engine-wide settings.

Scale posture: AQE on (runtime coalesce + skew-join split), Arrow
transport for every pandas UDF, shuffle partitions sized to cores
(overridable — on a real cluster set ~2-3x total cores), UTC session
timezone so DuckDB-oracle comparisons are stable, and LAST_WIN map
dedup so ``map_concat`` acts as an upsert (the form-state algebra
relies on it).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """Half of ``MemAvailable`` (``/proc/meminfo``), capped at 16g: a
    heap sized past free memory gets the JVM OOM-killed mid-job."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(
                int(line.split()[1]) for line in f
                if line.startswith("MemAvailable:")
            )
    except (OSError, StopIteration):
        return "16g"
    return f"{min(16 << 10, kb // 2048)}m"


def get_spark(
    app_name: str = "mechaml_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("MECHAML_SPARK_MASTER", "local[*]")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("MECHAML_SHUFFLE_PARTITIONS", os.cpu_count() or 8)
        )
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        # Crawl ingestion decodes UNTRUSTED bytes: charset errors must
        # replace (U+FFFD), never fail the task (sniff.decode_text).
        .config("spark.sql.legacy.codingErrorAction", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("MECHAML_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
