"""SparkSession factory.

Centralizes the configuration the engine depends on:

- AQE on (runtime re-planning, skew-join handling, partition coalescing) —
  per-ticker skew (hot symbols like SPY) is a first-class concern at scale.
- Two partition counts, because batch and streaming read different confs
  (:func:`shuffle_confs`):

  - Batch: ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``,
    the number every batch exchange starts from while AQE and its
    coalescing are on (``SQLConf.numShufflePartitions``). It is sized as
    a ceiling for AQE to coalesce down from: 32 under ``local[*]``,
    otherwise ``max(SPARK_GRAFT_CPUS, 8)``.
  - Streams: ``spark.sql.shuffle.partitions``, one per task slot of the
    master (``local[3]`` gives 3). Structured Streaming turns AQE off
    inside a stream, so this is the state partition count a new stream
    writes into its offset log. Every state partition is loaded,
    versioned and committed on every micro-batch, rows or not, and runs
    one Python task per batch under ``applyInPandasWithState``; more
    partitions than slots only add that fixed cost. A restarted stream
    keeps the count its checkpoint recorded. Under a cluster master the
    slots are not known when the session is built, and the stream count
    is the batch count.

  An explicit ``shuffle_partitions`` sets both.
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
import re

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


def _task_slots(master: str) -> int | None:
    """Task slots of a local master, ``None`` for a cluster master."""
    m = re.fullmatch(r"local(?:\[(\*|\d+)(?:,\s*\d+)?\])?", master.strip())
    if m is None:
        return None
    if m.group(1) == "*":
        return len(os.sched_getaffinity(0))
    return int(m.group(1) or 1)


def shuffle_confs(
    master: str, cpus: str, shuffle_partitions: int | None = None
) -> dict[str, str]:
    """The stream and batch partition counts of a session on ``master``,
    with ``cpus`` the value of ``SPARK_GRAFT_CPUS`` (``"*"`` when unset).

    ``spark.sql.shuffle.partitions`` is the state partition count of a new
    stream: one per task slot. ``initialPartitionNum`` is the batch
    exchanges' count under AQE. An explicit ``shuffle_partitions`` sets
    both.
    """
    if shuffle_partitions is None:
        batch = 32 if cpus == "*" else max(int(cpus), 8)
        stream = _task_slots(master) or batch
    else:
        batch = stream = shuffle_partitions
    return {
        "spark.sql.shuffle.partitions": str(stream),
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": str(batch),
    }


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

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(map=shuffle_confs(master, cpus, shuffle_partitions))
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
