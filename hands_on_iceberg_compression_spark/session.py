"""SparkSession factory.

The reference ran all SQL through a remote Trino coordinator backed by a
Nessie Iceberg catalog on MinIO (reference compose/docker-compose.yaml:1-121,
src/TrinoClient.ts:29-86).  Here the engine is an in-process SparkSession and
the catalog is a Parquet warehouse with an Iceberg-style snapshot log
(sources/warehouse.py).

Scale posture: these defaults are tuned so the same code runs on local[N] for
tests and on a many-executor cluster unchanged — AQE on (runtime shuffle
re-planning, skew-join splitting, partition coalescing), broadcast joins
enabled, shuffle partitions sized by the caller.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def make_session(
    app_name: str = "hands-on-iceberg-compression-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    warehouse_dir: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession with scale-ready defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or local[*]).
    ``shuffle_partitions`` defaults to the local core count (min 8) — on a
    real cluster callers pass the cluster-appropriate value (or rely on AQE
    coalescing, which is enabled).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        ncores = os.cpu_count() or 8
        if cpus not in ("", "*"):
            try:
                ncores = int(cpus)
            except ValueError:
                pass
        shuffle_partitions = max(8, ncores)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Spark's default INT96 timestamps carry NO parquet min/max stats —
        # every range predicate on a timestamp scans every row group.  INT64
        # micros restores stats-based file/row-group skipping (and is what
        # Iceberg writes).
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
    )
    if warehouse_dir:
        builder = builder.config("spark.sql.warehouse.dir", warehouse_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
