"""Sinks (SURVEY.md §2.1 K1-K6) — partitioned parquet replaces the
reference's hand-rolled S3 key layouts.

- K1 bronze append        — verbatim landing zone (aggregates_etl.py:119-125).
- K2 latest+history dual  — stable "latest" overwrite + timestamped history
                            append (reference_endpoints_etl.py:57-62,
                            aggregates_stocks_etl.py:90-93).
- K3 dim overwrite        — full-refresh dimension (reference_data_etl.py:67):
                            the 'latest' side of the K2 dual write, or
                            ``write_jdbc(mode='overwrite')``.
- K4/K5 fact append       — incremental fact (aggregates_etl.py:171-177,
                            old_source_op.py:176).
- K6 partitioned layout   — ``partitionBy`` replaces `{adjusted}/{ticker}`
                            path building (aggregates_etl.py:79-85,124);
                            partition pruning replaces manual S3 listing.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def write_bronze(df: DataFrame, path: str) -> None:
    """K1: append-only raw landing (parquet, not JSON — same replayability,
    columnar scan for free)."""
    df.write.mode("append").parquet(path)


def write_partitioned(
    df: DataFrame, path: str, partition_cols: Sequence[str], mode: str = "append"
) -> None:
    """K6: hive-style partitioned layout. At 100 TB the partition columns
    are the pruning keys (e.g. adjusted, ticker-bucket, date) — choose
    cardinalities that keep files ≳100 MB."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def dual_write_latest_history(
    df: DataFrame, latest_path: str, history_path: str, snapshot_id: str
) -> None:
    """K2: overwrite the stable 'latest' location and append a timestamped
    snapshot to the history location (poor-man's time travel, exactly the
    reference's latest/timestamped CSV pair)."""
    df.write.mode("overwrite").parquet(latest_path)
    df.write.mode("append").parquet(f"{history_path}/snapshot={snapshot_id}")


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    properties: dict | None = None,
) -> None:
    """K3/K4 to an RDBMS: the reference's ``DataFrame.to_sql`` writes
    (``reference_data_etl.py:67`` with if_exists='replace' → overwrite;
    ``aggregates_etl.py:171-177`` incremental → append).

    Executors write partitions concurrently over JDBC; for a small dim
    table ``df.coalesce(1)`` avoids hammering the database with one
    connection per partition. Exercised in tests against the embedded
    Derby database that ships on Spark's classpath.
    """
    writer = df.write.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.mode(mode).save()


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    n_buckets: int = 32,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """K6 at join scale: hash-bucketed (optionally sorted) managed table.

    Two tables bucketed on the same key with the same bucket count join
    WITHOUT a shuffle (and without even a sort if both are sorted) — the
    co-located fact↔fact join strategy for candles↔candles or
    candles↔trades at 100 TB, where neither side broadcasts and a
    per-query shuffle of the big fact is the dominant cost. Verified by a
    plan test (zero shuffle exchanges under the join).
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table)


def write_jsonl_sharded(
    df: DataFrame,
    path: str,
    shard_key: str,
    num_shards: int = 64,
    mode: str = "overwrite",
) -> None:
    """Export rows as sharded JSONL — the handoff format training jobs
    actually consume.

    Shard = ``xxhash64(shard_key) mod num_shards``: deterministic and
    key-stable (a document lands in the same shard every run, so
    downstream resume/diff logic works), unlike ``repartition(n)``'s
    round-robin which reshuffles arbitrarily per run. One shuffle on the
    shard id; each shard is exactly one ``part-*`` file per directory
    written by Spark's native JSON writer (JVM-side serialization).
    """
    import pyspark.sql.functions as F

    shard = F.pmod(F.xxhash64(F.col(shard_key)), F.lit(num_shards)).alias(
        "__shard"
    )
    (
        df.withColumn("__shard", shard)
        .repartition(num_shards, F.col("__shard"))
        .write.partitionBy("__shard")
        .mode(mode)
        .json(path)
    )


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 256,
    sort_cols: Sequence[str] | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet location into
    ``ceil(total_bytes / target)`` files (optionally locally sorted for
    row-group skipping), replacing it atomically via write-to-temp +
    swap. Returns the new file count.

    Streaming sinks and incremental appends accrete files far below the
    efficient scan size; at 100 TB a million 1 MB files turns every scan
    into a metadata stampede. Run compaction on cold partitions (it
    REPLACES the location — don't race a live writer; versioned tables
    get the same effect by rewriting into a new commit instead).
    """
    import math
    import uuid

    df = spark.read.parquet(path)
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    total = fs.getContentSummary(hpath).getLength()
    n_files = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    compacted = df.repartition(n_files)
    if sort_cols:
        compacted = compacted.sortWithinPartitions(*sort_cols)
    tmp = f"{path.rstrip('/')}.__compact_{uuid.uuid4().hex[:8]}"
    compacted.write.parquet(tmp)
    old = f"{path.rstrip('/')}.__old_{uuid.uuid4().hex[:8]}"
    fs.rename(hpath, jvm.org.apache.hadoop.fs.Path(old))
    fs.rename(jvm.org.apache.hadoop.fs.Path(tmp), hpath)
    fs.delete(jvm.org.apache.hadoop.fs.Path(old), True)
    return n_files


def read_latest(spark: SparkSession, latest_path: str) -> DataFrame:
    return spark.read.parquet(latest_path)


def read_snapshot(spark: SparkSession, history_path: str, snapshot_id: str) -> DataFrame:
    return spark.read.parquet(f"{history_path}/snapshot={snapshot_id}")


def write_jdbc_upsert(
    df: DataFrame,
    url: str,
    table: str,
    key_cols: Sequence[str],
    properties: dict | None = None,
    staging_table: str | None = None,
) -> None:
    """Idempotent RDBMS sink: land the batch in a staging table (parallel
    executor JDBC writes — the only path data takes), then one atomic
    server-side ``MERGE`` folds it into the target by key. Re-running the
    same batch converges to the same table state, which plain ``append``
    cannot promise — this is the exactly-once-shaped JDBC sink the
    reference's ``to_sql(if_exists='append')`` loop lacks (retries there
    duplicate rows; `aggregates_etl.py:171-177`).

    The MERGE statement is a single driver-side DDL round-trip (no row
    data crosses the driver); executors stream the batch straight to the
    staging table. Works on any MERGE-capable RDBMS (tested against the
    embedded Derby on Spark's classpath — unquoted identifiers are
    uppercased by the server, so pass plain names).
    """
    keys = list(key_cols)
    if not keys:
        raise ValueError("key_cols must be non-empty")
    missing = [k for k in keys if k not in df.columns]
    if missing:
        raise ValueError(f"key_cols not in DataFrame: {missing}")
    staging = staging_table or f"{table}_staging"
    write_jdbc(df, url, staging, mode="overwrite", properties=properties)
    # Spark's JDBC writer creates columns as QUOTED identifiers (exact
    # DataFrame case), so the MERGE must quote them too — unquoted names
    # would be case-folded by the server and miss.
    q = '"{}"'.format
    on = " AND ".join(f"t.{q(k)} = s.{q(k)}" for k in keys)
    non_keys = [c for c in df.columns if c not in keys]
    update = (
        "WHEN MATCHED THEN UPDATE SET "
        + ", ".join(f"t.{q(c)} = s.{q(c)}" for c in non_keys)
        if non_keys
        else ""
    )
    cols = ", ".join(q(c) for c in df.columns)
    vals = ", ".join(f"s.{q(c)}" for c in df.columns)
    stmt = (
        f"MERGE INTO {table} t USING {staging} s ON {on} "
        f"{update} "
        f"WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({vals})"
    )
    jvm = df.sparkSession._sc._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        try:
            st.executeUpdate(stmt)
        finally:
            st.close()
    finally:
        conn.close()
