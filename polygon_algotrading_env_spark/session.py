"""SparkSession factory.

Centralizes the configuration the engine depends on:

- AQE on (runtime re-planning, skew-join handling, partition coalescing) —
  per-ticker skew (hot symbols like SPY) is a first-class concern at scale.
- ``spark.sql.shuffle.partitions`` sized for the local test harness; on a
  real cluster AQE coalescing makes the static number a ceiling, not a
  tuning knob.
- ``spark.sql.legacy.parquet.nanosAsLong=true`` — the driver fixtures store
  ``events.ts`` as parquet TIMESTAMP(NANOS), which Spark otherwise rejects;
  we read it as epoch-nanos bigint and convert in the catalog layer.
- Session timezone pinned to UTC so epoch→timestamp conversions are
  identity-stable and match the DuckDB oracle's naive-timestamp semantics.
  (The reference mixes naive local time and US/Eastern —
  ``v2022/etl-containers/aggregates/src/aggregates_etl.py:25-36`` TODO at
  line 34, ``reference_data_etl.py:66`` — we fix the convention instead of
  reproducing the bug.)
- Arrow enabled for any pandas interchange (extension operators).
- Streaming checkpoints written through Hadoop's ``FileSystem`` API
  (``FileSystemBasedCheckpointFileManager``), not the default
  ``FileContext`` one. ``FileContext.rename`` looks up the link status of
  source and destination, and without Hadoop's native library (pyspark
  ships none) each lookup on ``file:`` forks ``readlink``: about 146 forks
  per ``live_bars`` micro-batch, one batch's largest fixed cost after its
  Python tasks. ``FileSystem.rename`` is a ``rename(2)`` in the JVM. Both
  managers check that the destination is absent before renaming, so a
  second write of an offset-log entry still fails; on HDFS the rename
  itself refuses an existing destination. Set on the builder only: a
  foreign session keeps the manager its deployer chose.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)

# Runtime-settable confs every engine entry point must guarantee, even when
# handed a foreign SparkSession (e.g. the verification driver's).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    # Bucket-partitioned index tables (ANN SRP/IVF, z-order layouts) have
    # O(1k) partition dirs; above the default threshold (32) Spark lists
    # them with a cluster job — hundreds of listing tasks per probe, pure
    # overhead for a pruned read of ~10 dirs. Driver-side listing handles
    # thousands of dirs in milliseconds; beyond 4096 the job-based listing
    # is genuinely the right tool again.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "4096",
}


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (idempotent)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            spark.conf.set(k, v)
    return spark


def get_spark(
    app_name: str = "polygon-algotrading-env-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Local parallelism honors ``SPARK_GRAFT_CPUS`` (driver contract);
    defaults to ``local[*]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.streaming.checkpointFileManagerClass", CHECKPOINT_FILE_MANAGER)
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return ensure_runtime_confs(spark)
