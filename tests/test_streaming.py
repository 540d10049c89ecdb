from __future__ import annotations

import shutil
import tempfile
from contextlib import contextmanager
from datetime import datetime
from pathlib import Path

import pytest

from polygon_algotrading_env_spark.streaming.pipeline import (
    run_available_now,
    run_available_now_to_parquet,
    stream_dedup,
    stream_ohlcv_bars,
)


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="pae_spark_stream_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


TICK_SCHEMA = "ticker string, ts timestamp_ntz, price double, trade_id long"


def _write_ticks(spark, path, rows):
    spark.createDataFrame(rows, TICK_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def _ticks_stream(spark, path):
    return spark.readStream.schema(TICK_SCHEMA).parquet(path)


def test_stream_dedup_drops_redelivered_trades(spark, tmpdir):
    src = f"{tmpdir}/src"
    rows = [
        ("SPY", datetime(2024, 1, 1, 10, 0, 1), 100.0, 1),
        ("SPY", datetime(2024, 1, 1, 10, 0, 2), 101.0, 2),
        ("SPY", datetime(2024, 1, 1, 10, 0, 1), 100.0, 1),  # redelivery
        ("SPY", datetime(2024, 1, 1, 10, 0, 3), 102.0, 3),
    ]
    _write_ticks(spark, src, rows)
    deduped = stream_dedup(
        _ticks_stream(spark, src), "ts", keys=["ticker", "trade_id"]
    )
    q = run_available_now(deduped, f"{tmpdir}/ckpt", "dedup_t", "append")
    q.awaitTermination(120)
    out = spark.sql("SELECT trade_id FROM dedup_t").collect()
    assert sorted(r["trade_id"] for r in out) == [1, 2, 3]


def test_stream_bars_match_batch_semantics(spark, tmpdir):
    """Complete mode shows every window — semantics must equal batch bars."""
    src = f"{tmpdir}/src"
    rows = [
        ("SPY", datetime(2024, 1, 1, 10, 0, 5), 10.0, 1),
        ("SPY", datetime(2024, 1, 1, 10, 2, 0), 15.0, 2),
        ("SPY", datetime(2024, 1, 1, 10, 4, 59), 12.0, 3),
        ("SPY", datetime(2024, 1, 1, 10, 6, 0), 20.0, 4),
    ]
    _write_ticks(spark, src, rows)
    bars = stream_ohlcv_bars(
        _ticks_stream(spark, src), "ts", "price", "5 minutes", keys=("ticker",)
    )
    q = run_available_now(bars, f"{tmpdir}/ckpt", "bars_t", "complete")
    q.awaitTermination(120)
    got = {
        r["bucket_start"]: (r["open"], r["high"], r["low"], r["close"], r["n_trades"])
        for r in spark.sql("SELECT * FROM bars_t").collect()
    }
    assert got[datetime(2024, 1, 1, 10, 0)] == (10.0, 15.0, 10.0, 12.0, 3)
    assert got[datetime(2024, 1, 1, 10, 5)] == (20.0, 20.0, 20.0, 20.0, 1)


def test_stream_bars_append_emits_on_watermark_close(spark, tmpdir):
    """Append mode: a window is emitted exactly once, in the first batch
    whose INPUT watermark (set at the END of the previous batch) has passed
    the window end — the T1/T2 exactly-once contract across restarts."""
    src = f"{tmpdir}/src"
    bars_for = lambda: stream_ohlcv_bars(  # noqa: E731
        _ticks_stream(spark, src), "ts", "price", "5 minutes", keys=("ticker",),
        watermark_delay="0 seconds",
    )
    sink = f"{tmpdir}/gold_bars"
    _write_ticks(spark, src, [("SPY", datetime(2024, 1, 1, 10, 0, 5), 10.0, 1)])
    q = run_available_now_to_parquet(bars_for(), f"{tmpdir}/ckpt", sink)
    q.awaitTermination(120)
    assert spark.read.parquet(sink).count() == 0  # window still open

    # Run 2 advances the watermark past 10:05 at its END; run 3's batch
    # then evicts and emits the closed 10:00 window.
    _write_ticks(spark, src, [("SPY", datetime(2024, 1, 1, 10, 30, 0), 11.0, 2)])
    q = run_available_now_to_parquet(bars_for(), f"{tmpdir}/ckpt", sink)
    q.awaitTermination(120)
    _write_ticks(spark, src, [("SPY", datetime(2024, 1, 1, 10, 40, 0), 12.0, 3)])
    q = run_available_now_to_parquet(bars_for(), f"{tmpdir}/ckpt", sink)
    q.awaitTermination(120)
    out = {r["bucket_start"]: r for r in spark.read.parquet(sink).collect()}
    # Run 3 emits 10:00 in its data batch (input watermark 10:30 from run 2)
    # and 10:30 in the trailing no-data batch (watermark advanced to 10:40).
    # The still-open 10:40 window must NOT be emitted; nothing twice.
    assert set(out) == {datetime(2024, 1, 1, 10, 0), datetime(2024, 1, 1, 10, 30)}
    b = out[datetime(2024, 1, 1, 10, 0)]
    assert b["n_trades"] == 1 and b["open"] == 10.0


def test_stream_dedup_ledger_cross_run(spark, tmp_path):
    """Exact dedup across RUNS (not just within a watermark): a duplicate
    arriving in a later drain is dropped by the parquet ledger."""
    import pyspark.sql.functions as F

    from polygon_algotrading_env_spark.streaming.pipeline import (
        stream_dedup_ledger,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ledger = str(tmp_path / "ledger")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        stream = spark.readStream.schema("doc_id long, text string").parquet(src)
        q = stream_dedup_ledger(stream, ckpt, out, ledger, ["doc_id"])
        q.awaitTermination(120)

    spark.createDataFrame(
        [(1, "a"), (2, "b"), (2, "b-dup-in-batch")], "doc_id long, text string"
    ).write.mode("append").parquet(src)
    drain()
    first = spark.read.parquet(out)
    assert first.select("doc_id").distinct().count() == 2
    assert first.count() == 2  # in-batch dup dropped

    # Second run: one true duplicate (doc 1) + one new doc.
    spark.createDataFrame(
        [(1, "a-again"), (3, "c")], "doc_id long, text string"
    ).write.mode("append").parquet(src)
    drain()
    final = spark.read.parquet(out)
    assert final.count() == 3
    assert {r["doc_id"] for r in final.collect()} == {1, 2, 3}
    # Ledger holds exactly the distinct keys.
    assert spark.read.parquet(ledger).select("doc_id").distinct().count() == 3


def test_stream_enrich_sees_dim_refresh(spark, tmp_path):
    """Stream-static enrichment must reflect the CURRENT dimension
    snapshot at each drain — rows arriving after a dim refresh enrich
    with the new attributes (a static side built once would keep the
    stale file listing forever)."""
    from polygon_algotrading_env_spark.streaming.pipeline import (
        stream_enrich_with_dim,
    )

    src, dim = str(tmp_path / "src"), str(tmp_path / "dim")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def drain():
        stream = spark.readStream.schema("ticker string, v double").parquet(src)
        q = stream_enrich_with_dim(stream, ckpt, out, dim, on="ticker")
        q.awaitTermination(120)

    spark.createDataFrame(
        [("SPY", "Equity")], "ticker string, asset_class string"
    ).write.mode("overwrite").parquet(dim)
    spark.createDataFrame(
        [("SPY", 1.0), ("TLT", 2.0)], "ticker string, v double"
    ).write.mode("append").parquet(src)
    drain()
    rows = {
        (r["ticker"], r["v"]): r["asset_class"]
        for r in spark.read.option("basePath", out).parquet(out).collect()
    }
    assert rows == {("SPY", 1.0): "Equity", ("TLT", 2.0): None}

    # dim refresh adds TLT and reclassifies SPY; only NEW stream rows
    # (later batches) see it — enriched batches already written stay put
    spark.createDataFrame(
        [("SPY", "ETF"), ("TLT", "Bond ETF")],
        "ticker string, asset_class string",
    ).write.mode("overwrite").parquet(dim)
    spark.createDataFrame(
        [("SPY", 3.0), ("TLT", 4.0)], "ticker string, v double"
    ).write.mode("append").parquet(src)
    drain()
    rows = {
        (r["ticker"], r["v"]): r["asset_class"]
        for r in spark.read.option("basePath", out).parquet(out).collect()
    }
    assert rows == {
        ("SPY", 1.0): "Equity",
        ("TLT", 2.0): None,
        ("SPY", 3.0): "ETF",
        ("TLT", 4.0): "Bond ETF",
    }


def test_stream_hll_sketch_table_matches_batch(spark, tmp_path):
    """Incremental sketch maintenance across two drains must estimate
    EXACTLY what a direct batch sketch over all data estimates (HLL union
    is a set operation — same algorithm, same answer), and a no-data
    re-drain must not change the result."""
    import pyspark.sql.functions as F

    from polygon_algotrading_env_spark.streaming.pipeline import (
        read_hll_estimates,
        stream_hll_sketch_table,
    )

    src = str(tmp_path / "src")
    sketches = str(tmp_path / "sketches")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        stream = spark.readStream.schema("seg string, uid long").parquet(src)
        q = stream_hll_sketch_table(stream, ckpt, sketches, ["seg"], "uid")
        q.awaitTermination(120)

    rows1 = [("a", i) for i in range(200)] + [("b", i) for i in range(50)]
    spark.createDataFrame(rows1, "seg string, uid long").write.mode(
        "append"
    ).parquet(src)
    drain()
    # overlap: 100 repeat uids for 'a' (set semantics absorb them) + new
    rows2 = [("a", i) for i in range(100, 400)] + [("b", i) for i in range(50, 60)]
    spark.createDataFrame(rows2, "seg string, uid long").write.mode(
        "append"
    ).parquet(src)
    drain()

    est = {
        r["seg"]: r["distinct_est"]
        for r in read_hll_estimates(spark, sketches, ["seg"]).collect()
    }
    all_rows = spark.createDataFrame(rows1 + rows2, "seg string, uid long")
    direct = {
        r["seg"]: r["e"]
        for r in all_rows.groupBy("seg")
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg("uid", F.lit(12))
            ).alias("e")
        )
        .collect()
    }
    assert est == direct
    # exactness at these cardinalities is not guaranteed; the bound is
    exact = {"a": 400, "b": 60}
    for k in exact:
        assert abs(est[k] - exact[k]) <= max(1, 0.065 * exact[k])

    drain()  # third drain, no new data: estimates unchanged
    est2 = {
        r["seg"]: r["distinct_est"]
        for r in read_hll_estimates(spark, sketches, ["seg"]).collect()
    }
    assert est2 == est


def _page_store_batch_bars(spark, root):
    """Batch ohlcv_bars over every page in the store: what a page-store
    bars stream must equal once it has read them all."""
    import pyspark.sql.functions as F

    from polygon_algotrading_env_spark.operators.bars import ohlcv_bars

    src = (
        spark.read.format("polygon_pages").option("path", root).load()
        .withColumn("ts", F.timestamp_millis(F.col("t")).cast("timestamp_ntz"))
    )
    return ohlcv_bars(
        src, ts_col="ts", price_col="c", duration="5 minutes",
        keys=("ticker",), volume_col="v",
    )


def test_stream_bars_from_page_store_end_to_end(spark, tmpdir):
    """North-star composition: the streaming page-cursor source feeding
    windowed OHLCV — one availableNow drain must equal the batch pipeline
    (distributed page reader → batch ohlcv_bars) on the same store."""
    import json as _json
    import os

    from polygon_algotrading_env_spark.streaming.pipeline import (
        stream_bars_from_page_store,
    )

    MIN_MS = 60_000
    root = f"{tmpdir}/pages"
    for sym, base in (("SPY", 100.0), ("TLT", 50.0)):
        os.makedirs(f"{root}/{sym}", exist_ok=True)
        rows = [
            {"t": i * MIN_MS, "o": base, "h": base + 1, "l": base - 1,
             "c": base + (i % 5), "v": 10.0, "vw": base, "n": 2}
            for i in range(12)  # 12 minutes -> three 5m buckets
        ]
        for page_no, lo in enumerate(range(0, 12, 4)):
            with open(f"{root}/{sym}/page-{page_no}.json", "w") as f:
                _json.dump({"results": rows[lo : lo + 5]}, f)  # overlap 1

    bars = stream_bars_from_page_store(spark, root, duration="5 minutes")
    q = (
        bars.writeStream.format("memory")
        .queryName("page_bars")
        .outputMode("complete")
        .option("checkpointLocation", f"{tmpdir}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["ticker"], r["bucket_start"], r["open"], r["close"], r["volume"], r["n_trades"])
        for r in spark.sql("select * from page_bars").collect()
    }

    want = {
        (r["ticker"], r["bucket_start"], r["open"], r["close"], r["volume"], r["n_trades"])
        for r in _page_store_batch_bars(spark, root).collect()
    }
    assert got == want and len(got) == 6  # 2 symbols x 3 buckets


def test_engine_checkpoint_manager_refuses_overwrite(spark, tmp_path):
    """The offset log's exactly-once rule: a batch id is written once. The
    engine session's checkpoint manager is the FileSystem one, and it
    refuses a second atomic create of a path, keeping the first bytes."""
    from py4j.protocol import Py4JJavaError

    from polygon_algotrading_env_spark.session import CHECKPOINT_FILE_MANAGER

    jvm = spark._jvm
    target = tmp_path / "0"
    path = jvm.org.apache.hadoop.fs.Path(target.as_uri())
    fm = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        path, spark._jsparkSession.sessionState().newHadoopConf()
    )
    assert fm.getClass().getName() == CHECKPOINT_FILE_MANAGER

    out = fm.createAtomic(path, False)
    out.write(bytearray(b"first"))
    out.close()
    out = fm.createAtomic(path, False)
    out.write(bytearray(b"second"))
    with pytest.raises(Py4JJavaError) as err:
        out.close()
    exists_cls = jvm.org.apache.hadoop.fs.FileAlreadyExistsException._java_lang_class
    assert exists_cls.isInstance(err.value.java_exception)
    assert target.read_bytes() == b"first"


STATE_PARTITIONS = "spark.sql.shuffle.partitions"
BATCH_PARTITIONS = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"


@contextmanager
def _confs(spark, confs):
    """Set session confs for a block, then restore what was there."""
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _land_page(root, page_no):
    """Write page ``page_no`` of SPY and TLT: 1-minute bars for minutes
    4*page_no .. 4*page_no+4, so consecutive pages overlap by one bar."""
    import json as _json

    for sym, base in (("SPY", 100.0), ("TLT", 50.0)):
        (root / sym).mkdir(parents=True, exist_ok=True)
        recs = [
            {"t": i * 60_000, "o": base, "h": base + 1, "l": base - 1,
             "c": base + (i % 5), "v": 10.0 + i, "vw": base, "n": 2}
            for i in range(page_no * 4, page_no * 4 + 5)
        ]
        (root / sym / f"page-{page_no}.json").write_text(
            _json.dumps({"results": recs})
        )


def _drain_page_bars(spark, root, ckpt, name):
    """One availableNow run of the page-store bars stream into the memory
    table ``name`` (complete mode: the table holds every bar)."""
    from polygon_algotrading_env_spark.streaming.pipeline import (
        stream_bars_from_page_store,
    )

    q = (
        stream_bars_from_page_store(spark, str(root), duration="5 minutes")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None


def _assert_page_bars_equal_batch(spark, root, name):
    cols = ("ticker", "bucket_start", "open", "high", "low", "close",
            "volume", "n_trades")
    got = sorted(
        tuple(r[c] for c in cols)
        for r in spark.sql(f"select * from {name}").collect()
    )
    want = sorted(
        tuple(r[c] for c in cols)
        for r in _page_store_batch_bars(spark, str(root)).collect()
    )
    assert got == want and len(got) == 6  # 2 symbols x 3 buckets


def test_stream_resumes_checkpoint_of_filecontext_manager(spark, tmp_path):
    """A page-store bars checkpoint written under Spark's default
    FileContext manager resumes under the engine's FileSystem manager:
    the bars equal a batch ohlcv_bars over all pages, none missed or
    read twice (a re-read page would double its bucket's volume)."""
    conf = "spark.sql.streaming.checkpointFileManagerClass"
    root, ckpt = tmp_path / "pages", str(tmp_path / "ckpt")

    _land_page(root, 0)
    _land_page(root, 1)
    with _confs(spark, {conf: "org.apache.spark.sql.execution.streaming."
                              "checkpointing.FileContextBasedCheckpointFileManager"}):
        _drain_page_bars(spark, root, ckpt, "resumed_bars")
    # Minutes 8-12 land after the stop; the 5-10 bucket spans the restart.
    _land_page(root, 2)
    _drain_page_bars(spark, root, ckpt, "resumed_bars")
    _assert_page_bars_equal_batch(spark, root, "resumed_bars")


def _recorded_state_partitions(ckpt):
    """The state partition count each batch's offset log entry recorded,
    in batch order."""
    import json as _json

    entries = [p for p in (Path(ckpt) / "offsets").iterdir() if p.name.isdigit()]
    return [
        int(_json.loads(p.read_text().splitlines()[1])["conf"][STATE_PARTITIONS])
        for p in sorted(entries, key=lambda p: int(p.name))
    ]


def _state_partition_dirs(ckpt):
    return sum(1 for p in (Path(ckpt) / "state" / "0").iterdir() if p.name.isdigit())


def test_shuffle_confs_split_state_from_batch():
    """A new stream gets one state partition per task slot; batch exchanges
    keep today's count through AQE's initial partition number; an explicit
    count sets both."""
    from polygon_algotrading_env_spark.session import shuffle_confs

    assert shuffle_confs("local[3]", "4") == {
        STATE_PARTITIONS: "3", BATCH_PARTITIONS: "8",
    }
    assert shuffle_confs("local[3]", "4", 8) == {
        STATE_PARTITIONS: "8", BATCH_PARTITIONS: "8",
    }
    assert shuffle_confs("local[4]", "*")[BATCH_PARTITIONS] == "32"
    assert shuffle_confs("local", "2")[STATE_PARTITIONS] == "1"
    # A cluster master's slots are unknown when the session is built.
    assert shuffle_confs("spark://host:7077", "16") == {
        STATE_PARTITIONS: "16", BATCH_PARTITIONS: "16",
    }


def test_state_partitions_follow_slots_batch_plans_do_not(spark, tmp_path):
    """Under the split confs of ``local[3]`` with 4 CPUs, a batch aggregate
    still plans 8 shuffle partitions while a new stream records and keeps
    3 state partitions."""
    import re

    import pyspark.sql.functions as F

    from polygon_algotrading_env_spark.session import shuffle_confs

    root, ckpt = tmp_path / "pages", str(tmp_path / "ckpt")
    _land_page(root, 0)
    with _confs(spark, shuffle_confs("local[3]", "4")):
        agg = spark.range(100).groupBy((F.col("id") % 7).alias("k")).count()
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert set(re.findall(r"hashpartitioning\(.*, (\d+)\)", plan)) == {"8"}
        _drain_page_bars(spark, root, ckpt, "slot_bars")
    assert _recorded_state_partitions(ckpt) == [3]
    assert _state_partition_dirs(ckpt) == 3


def test_stream_restart_keeps_recorded_state_partitions(spark, tmp_path):
    """A page-store bars checkpoint written at 8 state partitions resumes at
    8 on a session whose new streams get one per task slot: the offset log
    still records 8 and the bars equal a batch ohlcv_bars over all pages,
    with the 5-10 bucket's state carried across the restart."""
    from polygon_algotrading_env_spark.session import shuffle_confs

    root, ckpt = tmp_path / "pages", str(tmp_path / "ckpt")
    _land_page(root, 0)
    _land_page(root, 1)
    with _confs(spark, {STATE_PARTITIONS: "8"}):
        _drain_page_bars(spark, root, ckpt, "rescaled_bars")
    first = _recorded_state_partitions(ckpt)
    assert set(first) == {8}

    slots = shuffle_confs(spark.sparkContext.master, "*")
    assert slots[STATE_PARTITIONS] != "8"
    _land_page(root, 2)
    with _confs(spark, slots):
        _drain_page_bars(spark, root, ckpt, "rescaled_bars")
    recorded = _recorded_state_partitions(ckpt)
    assert len(recorded) > len(first) and set(recorded) == {8}
    assert _state_partition_dirs(ckpt) == 8
    _assert_page_bars_equal_batch(spark, root, "rescaled_bars")


def test_stream_stream_interval_join(spark, tmp_path):
    """Two file streams joined on key within [t-10m, t]: matches inside the
    interval survive, outside are dropped; plan carries both watermarks."""
    from datetime import datetime

    from polygon_algotrading_env_spark.streaming.pipeline import (
        stream_stream_interval_join,
    )

    lsrc, rsrc = str(tmp_path / "l"), str(tmp_path / "r")
    t = lambda m: datetime(2024, 1, 1, 10, m, 0)  # noqa: E731
    spark.createDataFrame(
        [("SPY", t(30), 1.0), ("TLT", t(30), 2.0)],
        "ticker string, lts timestamp, lval double",
    ).coalesce(1).write.parquet(lsrc)
    spark.createDataFrame(
        [
            ("SPY", t(25), 10.0),   # inside 10m lookback -> match
            ("SPY", t(10), 11.0),   # too old -> dropped
            ("SPY", t(35), 12.0),   # after left (lookahead 0) -> dropped
            ("TLT", t(29), 13.0),   # inside -> match
        ],
        "ticker string, rts timestamp, rval double",
    ).coalesce(1).write.parquet(rsrc)

    left = spark.readStream.schema("ticker string, lts timestamp, lval double").parquet(lsrc)
    right = spark.readStream.schema("ticker string, rts timestamp, rval double").parquet(rsrc)
    joined = stream_stream_interval_join(
        left, right, on="ticker", left_ts="lts", right_ts="rts",
        lookback="10 minutes",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM ssj").collect()
    got = sorted((r["ticker"], r["rval"]) for r in rows)
    assert got == [("SPY", 10.0), ("TLT", 13.0)]

    import pytest

    with pytest.raises(ValueError):
        stream_stream_interval_join(left, right, on="nope", left_ts="lts", right_ts="rts")
    with pytest.raises(ValueError):
        stream_stream_interval_join(
            left, right.withColumnRenamed("rts", "lts"), on="ticker",
            left_ts="lts", right_ts="lts",
        )


def test_interval_join_left_outer_keeps_key(spark):
    """Unmatched left rows in the outer form must keep their join key
    (the renamed-left-key coalesce). Batch DataFrames exercise the same
    plan logic without waiting on watermark-close emission."""
    from datetime import datetime

    from polygon_algotrading_env_spark.streaming.pipeline import (
        stream_stream_interval_join,
    )

    t = lambda m: datetime(2024, 1, 1, 10, m, 0)  # noqa: E731
    left = spark.createDataFrame(
        [("SPY", t(30), 1.0), ("IWM", t(30), 3.0)],
        "ticker string, lts timestamp, lval double",
    )
    right = spark.createDataFrame(
        [("SPY", t(25), 10.0)], "ticker string, rts timestamp, rval double"
    )
    out = stream_stream_interval_join(
        left, right, on="ticker", left_ts="lts", right_ts="rts",
        lookback="10 minutes", how="leftOuter",
    ).collect()
    got = sorted((r["ticker"], r["rval"]) for r in out)
    assert got == [("IWM", None), ("SPY", 10.0)]


def test_stream_session_windows_close_on_watermark(spark, tmp_path):
    """Sessions merge events within the gap and close once the watermark
    passes: two SPY bursts 30 minutes apart become two sessions; the
    append-mode sink only emits sessions the watermark has finalized."""
    from datetime import datetime

    from polygon_algotrading_env_spark.streaming.pipeline import (
        stream_session_stats,
    )

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    t = lambda m, s=0: datetime(2024, 1, 1, 10, m, s)  # noqa: E731
    rows = [
        ("u1", t(0), 1.0), ("u1", t(2), 2.0), ("u1", t(3), 3.0),   # session A
        ("u1", t(33), 4.0),                                        # session B
        ("u2", t(1), 5.0),
        # late sentinel far ahead so the watermark closes everything above
        ("u3", t(59), 0.0),
    ]
    spark.createDataFrame(rows, "user string, ts timestamp, v double")\
        .coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("user string, ts timestamp, v double").parquet(src)
    q = (
        stream_session_stats(stream, "ts", "5 minutes", ["user"], value_col="v")
        .writeStream.format("memory")
        .queryName("sess")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user"], r["session_start"]): (r["n_events"], r["volume"], r["session_end"])
        for r in spark.sql("SELECT * FROM sess").collect()
    }
    assert got[("u1", t(0))] == (3, 6.0, t(8))      # merged burst, end = last+gap
    assert got[("u1", t(33))] == (1, 4.0, t(38))
    assert got[("u2", t(1))] == (1, 5.0, t(6))


def test_stream_mg_summary_table_completeness(spark, tmp_path):
    """Two drains of skewed data: the merged MG candidates must contain
    every key whose TOTAL count exceeds N/(capacity+1), counts must be
    lower bounds, and no-overflow merges must pass through untrimmed."""
    from polygon_algotrading_env_spark.streaming.pipeline import (
        read_mg_candidates,
        stream_mg_summary_table,
    )

    src = str(tmp_path / "src")
    summaries = str(tmp_path / "mg")
    ckpt = str(tmp_path / "ckpt")
    capacity = 32

    def drain():
        stream = spark.readStream.schema("k long").parquet(src)
        q = stream_mg_summary_table(stream, ckpt, summaries, "k", capacity)
        q.awaitTermination(120)

    heavy = [(1,)] * 300 + [(2,)] * 200 + [(3,)] * 120
    tail1 = [(100 + i,) for i in range(400)]
    spark.createDataFrame(heavy + tail1, "k long").write.mode("append").parquet(src)
    drain()
    heavy2 = [(1,)] * 250 + [(2,)] * 100 + [(4,)] * 150
    tail2 = [(1000 + i,) for i in range(400)]
    spark.createDataFrame(heavy2 + tail2, "k long").write.mode("append").parquet(src)
    drain()

    got = {
        r["k"]: r["mg_count"]
        for r in read_mg_candidates(spark, summaries, "k", capacity).collect()
    }
    assert len(got) <= capacity
    all_rows = heavy + tail1 + heavy2 + tail2
    n = len(all_rows)
    from collections import Counter

    true = Counter(k for (k,) in all_rows)
    for k, cnt in true.items():
        if cnt > n / (capacity + 1):
            assert k in got, (k, cnt)
        if k in got:
            assert got[k] <= cnt  # undercounts only
    # small no-overflow case: counts exact, no trim applied
    src2 = str(tmp_path / "src2")
    spark.createDataFrame([(7,)] * 5 + [(8,)] * 3, "k long").write.parquet(src2)
    stream = spark.readStream.schema("k long").parquet(src2)
    q = stream_mg_summary_table(
        stream, str(tmp_path / "ckpt2"), str(tmp_path / "mg2"), "k", capacity
    )
    q.awaitTermination(120)
    got2 = {
        r["k"]: r["mg_count"]
        for r in read_mg_candidates(
            spark, str(tmp_path / "mg2"), "k", capacity
        ).collect()
    }
    assert got2 == {7: 5, 8: 3}


def test_stream_bottomk_sketch_table(spark, tmp_path):
    """Streaming quantile sketch table: per-batch bottom-k partitions,
    merged reads equal the BATCH sketch over everything ingested (the
    exact-merge law, end to end through restarts)."""
    import pyspark.sql.functions as F

    from polygon_algotrading_env_spark.operators.sketches import (
        bottomk_quantile,
        bottomk_sketch,
    )
    from polygon_algotrading_env_spark.streaming.pipeline import (
        read_bottomk_quantiles,
        stream_bottomk_sketch_table,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    skp = str(tmp_path / "sketches")
    rows1 = [("g", i, float((i * 37) % 100)) for i in range(400)]
    rows2 = [("g", 1000 + i, float((i * 53) % 100)) for i in range(400)]
    schema = "key string, id long, v double"
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("append").parquet(src)

    def drain():
        q = stream_bottomk_sketch_table(
            spark.readStream.schema(schema).parquet(src),
            ckpt, skp, ["key"], "v", "id", k=64,
        )
        q.awaitTermination(120)
        assert q.exception() is None, q.exception()

    drain()
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(src)
    drain()

    got = read_bottomk_quantiles(spark, skp, ["key"], k=64).collect()[0]
    full = spark.createDataFrame(rows1 + rows2, schema)
    want = (
        bottomk_sketch(full, "v", "id", ["key"], k=64)
        .select(
            "n_rows",
            bottomk_quantile(F.col("sketch"), 0.5).alias("p50"),
            bottomk_quantile(F.col("sketch"), 0.9).alias("p90"),
        )
        .collect()[0]
    )
    assert got["n_rows"] == want["n_rows"] == 800
    assert got["est_p50"] == want["p50"]
    assert got["est_p90"] == want["p90"]


def test_stream_qdigest_sketch_table(spark, tmp_path):
    """Streaming q-digest table: per-batch exact histograms in batch_id
    partitions, read-side compress at the global threshold — the merged
    read is BIT-IDENTICAL (node sets and quantile rows) to a batch
    qdigest_build over everything ingested, across two drains and a
    replayed query restart."""
    import random

    from polygon_algotrading_env_spark.operators.sketches import (
        qdigest_build,
        qdigest_quantiles,
    )
    from polygon_algotrading_env_spark.streaming.pipeline import (
        read_qdigest_quantiles,
        stream_qdigest_sketch_table,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    skp = str(tmp_path / "sketches")
    rnd = random.Random(5)
    rows1 = [(rnd.randint(0, 3000),) for _ in range(9000)]
    rows2 = [(rnd.randint(500, 4000),) for _ in range(6000)]
    schema = "v long"
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    def drain():
        q = stream_qdigest_sketch_table(
            spark.readStream.schema(schema).parquet(src), ckpt, skp, "v"
        )
        q.awaitTermination(120)
        assert q.exception() is None, q.exception()

    drain()
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    drain()

    got = sorted(
        tuple(r)
        for r in read_qdigest_quantiles(
            spark, skp, k=64, domain_bits=12
        ).collect()
    )
    full = spark.createDataFrame(rows1 + rows2, schema)
    nodes, n = qdigest_build(full, "v", k=64, domain_bits=12)
    want = sorted(tuple(r) for r in qdigest_quantiles(nodes, n).collect())
    assert n == 15000
    assert got == want


def test_stream_cms_sketch_table(spark, tmp_path):
    """Streaming CMS table: per-batch exact counter relations in
    batch_id partitions, read-side per-bucket sum — the merged read's
    point estimates are BIT-IDENTICAL to a batch cms_build +
    cms_point_estimates over everything ingested, across two drains
    (counter addition IS the merge, so nothing is approximate about
    the streaming path)."""
    import random

    from polygon_algotrading_env_spark.operators.sketches import (
        cms_build,
        cms_point_estimates,
    )
    from polygon_algotrading_env_spark.streaming.pipeline import (
        read_cms_estimates,
        stream_cms_sketch_table,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    skp = str(tmp_path / "sketches")
    rnd = random.Random(9)
    rows1 = [(rnd.randint(0, 300),) for _ in range(7000)]
    rows2 = [(rnd.randint(100, 500),) for _ in range(5000)]
    schema = "v long"
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    def drain():
        q = stream_cms_sketch_table(
            spark.readStream.schema(schema).parquet(src),
            ckpt,
            skp,
            "v",
            depth=4,
            width=256,
        )
        q.awaitTermination(120)
        assert q.exception() is None, q.exception()

    drain()
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    drain()

    probes = spark.createDataFrame([(k,) for k in range(0, 501)], schema)
    got = sorted(
        tuple(r)
        for r in read_cms_estimates(
            spark, skp, probes, "v", depth=4, width=256
        ).collect()
    )
    full = spark.createDataFrame(rows1 + rows2, schema)
    want = sorted(
        tuple(r)
        for r in cms_point_estimates(
            cms_build(full, "v", depth=4, width=256),
            probes,
            "v",
            depth=4,
            width=256,
        ).collect()
    )
    assert got == want
    # And the estimates really are estimates OF the ingested stream:
    # never below the true counts.
    from collections import Counter

    true = Counter(v for (v,) in rows1 + rows2)
    est = dict(got)
    for k in range(0, 501):
        assert est[k] >= true.get(k, 0)


def test_stream_ams_sketch_table(spark, tmp_path):
    """Streaming AMS table: per-batch exact (row, signed_sum) relations
    in batch_id partitions, read-side per-row sum — the merged read's
    F2 estimate is BIT-IDENTICAL to a batch ams_build + ams_f2_estimate
    over everything ingested, across two drains (signed-sum addition IS
    the merge; the second batch exercises genuine cancellation against
    the first's sums)."""
    import random

    from polygon_algotrading_env_spark.operators.sketches import (
        ams_build,
        ams_f2_estimate,
    )
    from polygon_algotrading_env_spark.streaming.pipeline import (
        read_ams_f2,
        stream_ams_sketch_table,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    skp = str(tmp_path / "sketches")
    rnd = random.Random(17)
    rows1 = [(rnd.randint(0, 300),) for _ in range(6000)]
    rows2 = [(rnd.randint(100, 500),) for _ in range(4000)]
    schema = "v long"
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    def drain():
        q = stream_ams_sketch_table(
            spark.readStream.schema(schema).parquet(src),
            ckpt,
            skp,
            "v",
            rows=16,
        )
        q.awaitTermination(120)
        assert q.exception() is None, q.exception()

    drain()
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    drain()

    got = read_ams_f2(spark, skp, rows=16, groups=4).collect()[0]["est_f2"]
    full = spark.createDataFrame(rows1 + rows2, schema)
    want = ams_f2_estimate(
        ams_build(full, "v", rows=16), rows=16, groups=4
    ).collect()[0]["est_f2"]
    assert got == want
