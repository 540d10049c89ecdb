"""Streaming transforms (SURVEY.md §2.10 T1-T6).

The reference's streaming story is daily incremental batch: Airflow
watermarks (T1), overlap-then-dedup (T2, README.md:20), API-side bar
buckets (T3), @daily triggers (T4), raw-zone replay (T5), full dim refresh
(T6). Natively:

- T1 → checkpointed source offsets (exactly-once bookkeeping is the
  engine's, not an Airflow DAG's);
- T2 → ``withWatermark + dropDuplicates`` keyed dedup with bounded state;
- T3 → the same tumbling-window OHLCV aggregation as batch (one definition,
  two execution modes);
- T4 → ``trigger(availableNow=True)`` for daily catch-up, processingTime
  for live;
- T5 → bronze parquet replay through the same stream;
- T6 → ``foreachBatch`` overwrite of dimension snapshots.

These builders take and return (streaming) DataFrames so batch and
streaming share operator definitions — tests run them on file sources with
``availableNow`` into memory sinks.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import TimestampNTZType


def _watermarkable(stream: DataFrame, ts_col: str) -> DataFrame:
    """Event-time watermarks require TimestampType; NTZ event times are
    cast (identity under the engine's pinned UTC session timezone)."""
    if isinstance(stream.schema[ts_col].dataType, TimestampNTZType):
        return stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return stream


def stream_dedup(
    stream: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """T2: stateful exactly-once-per-key dedup with bounded state.

    State is retained only within the watermark horizon — duplicates
    arriving later than ``watermark_delay`` after the max seen event time
    are dropped by the watermark, everything inside it by the dedup state.
    (Unbounded dropDuplicates state is an OOM at 100 TB; the watermark
    bound is what makes this deployable.)
    """
    stream = _watermarkable(stream, ts_col)
    return stream.withWatermark(ts_col, watermark_delay).dropDuplicatesWithinWatermark(
        list(keys)
    )


def stream_ohlcv_bars(
    stream: DataFrame,
    ts_col: str,
    price_col: str,
    duration: str,
    keys: Sequence[str] = (),
    volume_col: str | None = None,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """T3: windowed OHLCV bars over an event-time stream.

    Same semantics as operators.bars.ohlcv_bars, expressed with streaming-
    legal aggregates: open/close are min_by/max_by on event time (streaming
    supports them in Spark 4), the watermark bounds window state and admits
    late trades up to ``watermark_delay``.
    """
    stream = _watermarkable(stream, ts_col)
    vol = F.col(volume_col) if volume_col else F.lit(1.0)
    price = F.col(price_col)
    order = F.col(ts_col)
    out = (
        stream.withWatermark(ts_col, watermark_delay)
        .groupBy(*[F.col(k) for k in keys], F.window(F.col(ts_col), duration).alias("__w"))
        .agg(
            F.min_by(price, order).alias("open"),
            F.max(price).alias("high"),
            F.min(price).alias("low"),
            F.max_by(price, order).alias("close"),
            F.sum(vol).alias("volume"),
            F.sum(price * vol).alias("notional"),
            F.count(F.lit(1)).alias("n_trades"),
        )
    )
    return out.select(
        *keys,
        F.col("__w.start").alias("bucket_start"),
        "open",
        "high",
        "low",
        "close",
        "volume",
        F.try_divide(F.col("notional"), F.col("volume")).alias("vwap"),
        "n_trades",
    )


def stream_bars_from_page_store(
    spark,
    page_root: str,
    duration: str = "5 minutes",
    watermark_delay: str = "10 minutes",
    symbols: Sequence[str] | None = None,
) -> DataFrame:
    """The north-star live pipeline in one call: the streaming page-cursor
    source (``PolygonPagesDataSource.streamReader`` — checkpointed
    per-symbol offsets, executor-side reads, cross-batch overlap dedup)
    feeding the event-time windowed OHLCV aggregation. Start it with
    ``trigger(availableNow=True)`` for daily catch-up or a processingTime
    trigger for live; either way a restart resumes from the checkpoint.

    This is the reference's whole Airflow DAG → ECS → API-bars loop
    (``dag_aggregates_etl.py:128-179`` + the server-side aggregation) as
    one restartable streaming plan.
    """
    from polygon_algotrading_env_spark.sources.restsource import (
        PolygonPagesDataSource,
    )

    spark.dataSource.register(PolygonPagesDataSource)
    reader = spark.readStream.format("polygon_pages").option("path", page_root)
    if symbols:
        reader = reader.option("symbols", ",".join(symbols))
    raw = reader.load().withColumn(
        "ts", F.timestamp_millis(F.col("t")).cast("timestamp_ntz")
    )
    return stream_ohlcv_bars(
        raw,
        "ts",
        "c",
        duration,
        keys=("ticker",),
        volume_col="v",
        watermark_delay=watermark_delay,
    )


def run_available_now(
    stream_df: DataFrame, checkpoint_dir: str, query_name: str, output_mode: str
):
    """T4: drain everything currently available (the daily-batch trigger),
    into an in-memory sink — the single-run test/dev harness path. The
    memory sink does NOT support checkpoint recovery; for multi-run
    incremental pipelines use :func:`run_available_now_to_parquet`."""
    return (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _drain_each_batch(
    stream_df: DataFrame, checkpoint_dir: str, apply, output_mode: str = "append"
):
    """Start ``apply(batch_df, batch_id)`` on every micro-batch of
    everything currently available, checkpointed for restart — the one
    starter behind every foreachBatch sink here."""
    return (
        stream_df.writeStream.foreachBatch(apply)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _into_batch_partition(path: str, reduce):
    """foreachBatch body writing ``reduce(batch_df)`` over the batch's own
    ``batch_id=<id>`` partition of ``path``. Written even when empty: a
    replay of the same batch id must clear a stale partial, and owning
    the partition is what makes the replay exactly-once."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        reduce(batch_df).write.mode("overwrite").parquet(
            f"{path}/batch_id={batch_id}"
        )

    return _apply


def stream_dim_refresh(
    stream_df: DataFrame, checkpoint_dir: str, latest_path: str
):
    """T6: full-refresh dimension stream — every micro-batch atomically
    overwrites the 'latest' dimension snapshot via foreachBatch (the
    streaming form of the reference's daily to_sql(if_exists='replace'),
    ``reference_data_etl.py:67``)."""

    def _overwrite(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_df.dropDuplicates().write.mode("overwrite").parquet(latest_path)

    return _drain_each_batch(stream_df, checkpoint_dir, _overwrite, "update")


def stream_enrich_with_dim(
    stream_df: DataFrame,
    checkpoint_dir: str,
    out_path: str,
    dim_path: str,
    on: Sequence[str] | str,
    how: str = "left_outer",
):
    """Stream-static enrichment against a REFRESHING dimension: each
    micro-batch re-reads the dimension snapshot (the consume side of
    :func:`stream_dim_refresh`) and broadcast-joins it to the batch.

    The dim is re-read INSIDE foreachBatch rather than joined as a
    static DataFrame built once: a pre-built static side caches its file
    listing in the plan, so an overwritten snapshot would silently keep
    enriching with stale rows — re-reading per batch picks up every
    refresh. Exactly-once: each batch overwrites only its own
    ``batch_id=<id>`` partition, so replays can't duplicate."""
    keys = [on] if isinstance(on, str) else list(on)

    def _enrich(batch_df: DataFrame) -> DataFrame:
        dim = batch_df.sparkSession.read.parquet(dim_path)
        return batch_df.join(F.broadcast(dim), keys, how)

    return _drain_each_batch(
        stream_df, checkpoint_dir, _into_batch_partition(out_path, _enrich)
    )


def run_available_now_to_parquet(
    stream_df: DataFrame, checkpoint_dir: str, out_path: str
):
    """T4/T5: the production-shaped incremental sink — append-mode parquet
    with exactly-once bookkeeping in the checkpoint, restartable across
    runs (this is what replaces the reference's daily Airflow→ECS cycle)."""
    return (
        stream_df.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_dedup_ledger(
    stream_df: DataFrame,
    checkpoint_dir: str,
    out_path: str,
    ledger_path: str,
    key_cols: Sequence[str],
):
    """Cross-batch EXACT dedup with an unbounded ledger — the document-
    ingest dedup that ``stream_dedup``'s watermark bound cannot express
    (a duplicate document may arrive months later).

    Each micro-batch anti-joins its (in-batch-deduped) rows against a
    persistent key LEDGER, then writes the fresh rows and their keys into
    ``batch_id=<id>`` partitions with OVERWRITE — the exactly-once
    foreachBatch pattern on plain parquet: Structured Streaming replays an
    interrupted batch under the SAME batch id, the replay overwrites the
    partial partitions instead of appending duplicates, and the anti-join
    excludes the current batch's own ledger partition so a replay can
    never filter out its own half-written keys.

    State lives in parquet, not the state store: the ledger scales to
    corpus size on disk, scans column-pruned to the key columns, and
    survives checkpoint loss. At 100 TB, additionally bucket the ledger by
    key hash so the per-batch anti-join prunes to matching buckets.
    """
    keys = list(key_cols)
    spark = stream_df.sparkSession

    def _ledger_exists() -> bool:
        # Probe through the Hadoop FS API so only a genuinely absent ledger
        # (first batch) skips the anti-join; transient read failures must
        # FAIL the batch so Structured Streaming retries it — swallowing
        # them would silently disable dedup and break exactly-once.
        from polygon_algotrading_env_spark.fsutil import hadoop_path_exists

        return hadoop_path_exists(spark, ledger_path)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.dropDuplicates(keys)
        if _ledger_exists():
            seen = (
                spark.read.option("basePath", ledger_path)
                .parquet(ledger_path)
                .filter(F.col("batch_id") != batch_id)
                .select(*keys)
            )
            fresh = batch.join(seen, on=keys, how="left_anti")
        else:  # first batch: no ledger yet
            fresh = batch
        # Write even when empty: a replay must clear a stale partial.
        fresh.write.mode("overwrite").parquet(f"{out_path}/batch_id={batch_id}")
        fresh.select(*keys).write.mode("overwrite").parquet(
            f"{ledger_path}/batch_id={batch_id}"
        )

    return _drain_each_batch(stream_df, checkpoint_dir, _apply)


def stream_hll_sketch_table(
    stream_df: DataFrame,
    checkpoint_dir: str,
    sketch_path: str,
    key_cols: Sequence[str],
    value_col: str,
    lgk: int = 12,
):
    """Incrementally maintained distinct-count sketches over a stream:
    each micro-batch reduces to ONE mergeable HLL sketch per key group
    (operators/sketches.py) and writes it to its own ``batch_id=<id>``
    partition — the sketch analogue of the ledger pattern, and the
    streaming form of exact ``countDistinct`` state that would otherwise
    grow with the key domain.

    Exactly-once is structural twice over: a replayed batch OVERWRITES
    only its own partition, and even a hypothetical double-merge is
    harmless because HLL union has set semantics (merging the same
    elements again is a no-op). Read the current estimates any time with
    :func:`read_hll_estimates` — a union-merge over the KB-sized
    partition sketches, never a rescan of the stream's history.
    """
    from polygon_algotrading_env_spark.operators.sketches import (
        hll_group_sketches,
    )

    keys = list(key_cols)
    apply = _into_batch_partition(
        sketch_path, lambda b: hll_group_sketches(b, value_col, keys, lgk=lgk)
    )
    return _drain_each_batch(stream_df, checkpoint_dir, apply)


def read_hll_estimates(spark: SparkSession, sketch_path: str, key_cols: Sequence[str]) -> DataFrame:
    """Current distinct-count estimate per key group from the sketch
    table: merge each group's per-batch sketches (`hll_union_agg`) and
    estimate. Input size = groups x batches KB-sized sketches."""
    keys = list(key_cols)
    sk = spark.read.option("basePath", sketch_path).parquet(sketch_path)
    return sk.groupBy(*keys).agg(
        F.hll_sketch_estimate(
            F.hll_union_agg("hll_sketch", F.lit(True))
        ).alias("distinct_est")
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    lookback: str = "10 minutes",
    lookahead: str = "0 seconds",
    watermark_delay: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join with the time-interval condition that makes it
    state-bounded: right rows match a left row when they share ``on`` and
    ``right_ts`` lies in ``[left_ts - lookback, left_ts + lookahead]``.

    Both sides carry event-time watermarks, and the range condition gives
    Spark the proof it needs to EVICT join state (an unconstrained
    stream-stream join must buffer both streams forever — the classic
    production OOM). This is the live form of the batch band join
    (operators/rangejoin.py): trade-vs-quote enrichment, order-vs-fill
    matching, candle-vs-corporate-action tagging all reduce to it.

    ``how``: 'inner' or the watermark-dependent outer forms
    ('leftOuter'/'rightOuter'/'fullOuter') Spark supports for interval
    joins; outer results emit only once the watermark closes the match
    window.
    """
    if on not in left.columns or on not in right.columns:
        raise ValueError(f"join key {on!r} must exist on both streams")
    if left_ts == right_ts:
        raise ValueError(
            "left_ts and right_ts must be named differently (rename one "
            "side) — the join output carries both event-time columns"
        )
    lw = (
        _watermarkable(left, left_ts)
        .withWatermark(left_ts, watermark_delay)
        .withColumnRenamed(on, "__k")
    )
    rw = _watermarkable(right, right_ts).withWatermark(right_ts, watermark_delay)
    cond = (
        (F.col("__k") == F.col(on))
        & (F.col(right_ts) >= F.col(left_ts) - F.expr(f"INTERVAL {lookback}"))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {lookahead}"))
    )
    # Re-derive the key from whichever side is present: in the outer
    # forms one side is null-extended, and dropping the left key alone
    # would null the key on every unmatched left row.
    return (
        lw.join(rw, cond, how)
        .withColumn(on, F.coalesce(F.col(on), F.col("__k")))
        .drop("__k")
    )


def stream_session_stats(
    stream: DataFrame,
    ts_col: str,
    gap: str,
    keys: Sequence[str],
    value_col: str | None = None,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Session-window aggregation over an event-time stream: Spark MERGES
    windows within ``gap`` of each other as events arrive, and the
    watermark both bounds session state and decides when a session is
    final (no event can extend it) — so run append-mode sinks for
    closed-session semantics. Same definition as the batch
    ``session_windows_per_user`` query; one shuffle on the keys.
    """
    stream = _watermarkable(stream, ts_col)
    val = F.col(value_col) if value_col else F.lit(1.0)
    out = (
        stream.withWatermark(ts_col, watermark_delay)
        .groupBy(
            *[F.col(k) for k in keys],
            F.session_window(F.col(ts_col), gap).alias("__w"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(val).alias("volume"),
        )
    )
    return out.select(
        *keys,
        F.col("__w.start").alias("session_start"),
        F.col("__w.end").alias("session_end"),
        "n_events",
        "volume",
    )


def stream_mg_summary_table(
    stream_df: DataFrame,
    checkpoint_dir: str,
    summary_path: str,
    key_col: str,
    capacity: int = 4096,
):
    """Incrementally maintained Misra-Gries frequency summaries over a
    stream — the heavy-hitter analogue of :func:`stream_hll_sketch_table`:
    each micro-batch reduces to ONE ≤ capacity-row MG summary written to
    its own ``batch_id=<id>`` partition. Exactly-once is structural: a
    replayed batch overwrites only its own partition, so its counts enter
    the merge exactly once (MG counts are NOT set-semantics like HLL —
    partition ownership is what makes the replay safe).

    Read the current candidates any time with :func:`read_mg_candidates`
    — a merge over capacity-row partition summaries, never a rescan of
    the stream's history. The merged summary keeps the MG completeness
    bound (any key with total count > N/(capacity+1) survives), so an
    exact recount against the base table certifies top-k exactly as in
    the batch operator (operators/sketches.py: mg_heavy_hitters).
    """
    from polygon_algotrading_env_spark.operators.sketches import (
        mg_partition_candidates,
    )

    def _summary(batch_df: DataFrame) -> DataFrame:
        # Single-partition MG of the whole batch: the per-batch summary
        # must itself be ≤ capacity rows, so coalesce before summarizing.
        return (
            mg_partition_candidates(batch_df.coalesce(1), key_col, capacity)
            .groupBy(key_col)
            .agg(F.sum("mg_count").alias("mg_count"))
        )

    return _drain_each_batch(
        stream_df, checkpoint_dir, _into_batch_partition(summary_path, _summary)
    )


def read_mg_candidates(
    spark: SparkSession, summary_path: str, key_col: str, capacity: int
) -> DataFrame:
    """Merged MG summary across all batch partitions: sum per-key counts,
    then apply the mergeable-summaries trim (subtract the (capacity+1)-th
    largest merged weight, keep positives) so the result is again a valid
    ≤ capacity-row MG summary of the ENTIRE stream history. Input is
    capacity × batches rows — KBs, never the stream itself."""
    merged = (
        spark.read.option("basePath", summary_path)
        .parquet(summary_path)
        .groupBy(key_col)
        .agg(F.sum("mg_count").alias("mg_count"))
    )
    # Trim weight: the (capacity+1)-th largest merged count, or 0 when the
    # merged summary already fits — min over the top-(capacity+1) rows,
    # gated on having actually seen capacity+1 of them. Always one row.
    top = merged.orderBy(F.desc("mg_count"), F.col(key_col)).limit(capacity + 1)
    cut = top.agg(
        F.coalesce(
            F.when(F.count(F.lit(1)) == capacity + 1, F.min("mg_count")),
            F.lit(0),
        ).alias("__cut")
    )
    return (
        merged.crossJoin(F.broadcast(cut))
        .where(F.col("mg_count") > F.col("__cut"))
        .select(key_col, (F.col("mg_count") - F.col("__cut")).alias("mg_count"))
    )


def stream_to_jdbc_upsert(
    stream_df: DataFrame,
    checkpoint_dir: str,
    url: str,
    table: str,
    key_cols: Sequence[str],
    properties: dict | None = None,
):
    """Exactly-once-shaped RDBMS serving sink: each micro-batch lands via
    the staging-table + server-side MERGE writer (sources/writers.py:
    write_jdbc_upsert), so a replayed batch CONVERGES to the same table
    state instead of duplicating rows — foreachBatch's at-least-once
    redelivery composed with an idempotent sink yields effective
    exactly-once, the pattern plain `append` JDBC sinks cannot offer.
    This is the live serving layer the reference's Airflow→to_sql loop
    approximates in daily batch (`aggregates_etl.py:171-177`)."""
    from polygon_algotrading_env_spark.sources.writers import write_jdbc_upsert

    keys = list(key_cols)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # One staging table per target; batches serialize within the query.
        write_jdbc_upsert(
            batch_df.dropDuplicates(keys), url, table, keys, properties
        )

    return _drain_each_batch(stream_df, checkpoint_dir, _apply, "update")


def stream_bottomk_sketch_table(
    stream_df: DataFrame,
    checkpoint_dir: str,
    sketch_path: str,
    key_cols: Sequence[str],
    value_col: str,
    id_col: str,
    k: int = 256,
):
    """Incrementally maintained quantile sketches over a stream — the
    bottom-k analogue of :func:`stream_hll_sketch_table`: each
    micro-batch reduces to one deterministic bottom-k priority sample
    per key group (operators/sketches.py: bottomk_sketch) written to its
    own ``batch_id=<id>`` partition. Exactly-once is structural twice
    over: a replay overwrites only its own partition, and bottom-k by a
    fixed per-id priority has set semantics — merging the same rows
    again changes nothing. Read current quantiles any time with
    :func:`read_bottomk_quantiles`: an EXACT merge over the k-row
    partition sketches (bottom-k of a union = bottom-k of the merged
    bottom-ks), never a rescan of the stream's history."""
    from polygon_algotrading_env_spark.operators.sketches import bottomk_sketch

    keys = list(key_cols)
    apply = _into_batch_partition(
        sketch_path, lambda b: bottomk_sketch(b, value_col, id_col, keys, k=k)
    )
    return _drain_each_batch(stream_df, checkpoint_dir, apply)


def read_bottomk_quantiles(
    spark: SparkSession,
    sketch_path: str,
    key_cols: Sequence[str],
    k: int = 256,
    quantiles: Sequence[float] = (0.5, 0.9),
):
    """Current quantile estimates per key group from the sketch table:
    flatten each group's per-batch samples, re-take the global bottom-k
    (exact merge), and read the estimates off the merged sample. Input
    size = groups x batches x k rows — sketch-sized, stream-history-free."""
    from polygon_algotrading_env_spark.operators.sketches import (
        bottomk_quantile,
    )

    keys = list(key_cols)
    sk = spark.read.option("basePath", sketch_path).parquet(sketch_path)
    merged = sk.groupBy(*keys).agg(
        F.slice(
            F.array_sort(F.flatten(F.collect_list("sketch"))), 1, k
        ).alias("sketch"),
        F.sum("n_rows").cast("bigint").alias("n_rows"),
    )
    cols = [*keys, "n_rows"] + [
        bottomk_quantile(F.col("sketch"), q).alias(f"est_p{int(q * 100)}")
        for q in quantiles
    ]
    return merged.select(*cols)


def stream_qdigest_sketch_table(
    stream_df: DataFrame,
    checkpoint_dir: str,
    sketch_path: str,
    value_col: str,
):
    """Incrementally maintained q-digest inputs over a stream — the
    quantile-rank analogue of :func:`stream_hll_sketch_table`: each
    micro-batch reduces to its exact integer value HISTOGRAM (grid-
    bounded level-0 leaf counts) written to its own ``batch_id=<id>``
    partition. Exactly-once is structural: a replay overwrites only its
    own partition, so counts can never double. Histograms — not
    compressed digests — are what's persisted, because histogram
    addition is EXACT: the read side compresses at the GLOBAL count's
    threshold, so :func:`read_qdigest_quantiles` returns bit-identically
    the digest a batch build over everything ingested would produce
    (merging per-batch COMPRESSED digests is only bound-preserving, not
    exact — operators/sketches.py: qdigest_merge covers that path for
    pre-compressed silver tables)."""

    def _histogram(batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.select(F.col(value_col).cast("bigint").alias("idx"))
            .groupBy("idx")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    return _drain_each_batch(
        stream_df, checkpoint_dir, _into_batch_partition(sketch_path, _histogram)
    )


def read_qdigest_quantiles(
    spark: SparkSession,
    sketch_path: str,
    k: int = 256,
    domain_bits: int = 24,
    q_bps: Sequence[int] = (2500, 5000, 7500, 9000, 9900),
) -> DataFrame:
    """Current quantile estimates from the histogram table: sum the
    per-batch counts (exact), compress once at the global threshold, and
    read the estimates off the digest — bit-identical to a batch
    qdigest_build over the full ingested stream (law-tested), input
    size = batches × per-batch distinct values, stream-history-free."""
    from polygon_algotrading_env_spark.operators.sketches import (
        _qdigest_compress,
        qdigest_quantiles,
    )

    hist = (
        spark.read.option("basePath", sketch_path)
        .parquet(sketch_path)
        .groupBy("idx")
        .agg(F.sum("cnt").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    n = hist.agg(F.sum("cnt")).collect()[0][0] or 0
    nodes = _qdigest_compress(
        hist.select(F.lit(0).alias("lvl"), "idx", "cnt"),
        int(n),
        k,
        domain_bits,
    )
    return qdigest_quantiles(nodes, int(n), q_bps)


def stream_cms_sketch_table(
    stream_df: DataFrame,
    checkpoint_dir: str,
    sketch_path: str,
    value_col: str,
    depth: int = 4,
    width: int = 1024,
):
    """Incrementally maintained Count-Min Sketch over a stream — the
    frequency analogue of :func:`stream_qdigest_sketch_table`: each
    micro-batch reduces to its own (row, bucket, cnt) counter relation
    (grid-bounded: <= depth x width rows) written to its own
    ``batch_id=<id>`` partition. Exactly-once is structural: a replay
    overwrites only its own partition, so counters can never double.
    Because CMS counters are LINEAR, the read side's per-bucket sum
    (:func:`read_cms_estimates`) is bit-identical to a batch
    ``cms_build`` over everything ingested — for CMS the persisted
    per-batch sketches ARE exact partial states, not bound-preserving
    approximations, so this twin needs no read-side recompression
    step at all."""
    from polygon_algotrading_env_spark.operators.sketches import cms_build

    apply = _into_batch_partition(
        sketch_path, lambda b: cms_build(b, value_col, depth=depth, width=width)
    )
    return _drain_each_batch(stream_df, checkpoint_dir, apply)


def read_cms_estimates(
    spark: SparkSession,
    sketch_path: str,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Current frequency estimates from the streaming CMS table: sum
    the per-batch counters (exact — counter addition IS the merge),
    then answer point queries for the probe keys. Bit-identical to a
    batch cms_build + cms_point_estimates over the full ingested
    stream (law-tested); input size = batches x grid, never stream
    history."""
    from polygon_algotrading_env_spark.operators.sketches import (
        cms_point_estimates,
    )

    merged = (
        spark.read.option("basePath", sketch_path)
        .parquet(sketch_path)
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    return cms_point_estimates(
        merged, keys, key_col, depth=depth, width=width
    )


def stream_ams_sketch_table(
    stream_df: DataFrame,
    checkpoint_dir: str,
    sketch_path: str,
    value_col: str,
    rows: int = 32,
):
    """Incrementally maintained AMS F2 sketch over a stream — the
    self-join-size analogue of :func:`stream_cms_sketch_table`: each
    micro-batch reduces to its own (row, signed_sum) relation (exactly
    ``rows`` bigints) written to its own ``batch_id=<id>`` partition.
    Exactly-once is structural (a replay overwrites only its own
    partition), and because signed sums are LINEAR the read side's
    per-row sum is bit-identical to a batch ``ams_build`` over
    everything ingested — a live join-size / skew monitor whose state
    is ``rows`` bigints per batch, independent of stream volume."""
    from polygon_algotrading_env_spark.operators.sketches import ams_build

    apply = _into_batch_partition(
        sketch_path, lambda b: ams_build(b, value_col, rows=rows)
    )
    return _drain_each_batch(stream_df, checkpoint_dir, apply)


def read_ams_f2(
    spark: SparkSession,
    sketch_path: str,
    rows: int = 32,
    groups: int = 4,
) -> DataFrame:
    """Current F2 estimate from the streaming AMS table: sum the
    per-batch signed sums (exact — addition IS the merge), then run
    the median-of-means estimator. Bit-identical to a batch ams_build
    + ams_f2_estimate over the full ingested stream (law-tested);
    input size = batches x rows, never stream history."""
    from polygon_algotrading_env_spark.operators.sketches import (
        ams_f2_estimate,
    )

    merged = (
        spark.read.option("basePath", sketch_path)
        .parquet(sketch_path)
        .groupBy("row")
        .agg(F.sum("signed_sum").cast("bigint").alias("signed_sum"))
    )
    return ams_f2_estimate(merged, rows=rows, groups=groups)
