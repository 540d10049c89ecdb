from __future__ import annotations

import shutil
import tempfile
from datetime import datetime

import pytest

from polygon_algotrading_env_spark.streaming.stateful import (
    stream_cusum,
    stream_rsi,
    stream_running_stats,
    stream_sma_signal,
)

TICK_SCHEMA = "ticker string, ts timestamp, price double, size double"


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="pae_spark_state_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _run(spark, src, ckpt, name):
    stream = spark.readStream.schema(TICK_SCHEMA).parquet(src)
    q = (
        stream_running_stats(stream, evict_idle=False)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return {r["ticker"]: r for r in spark.sql(f"SELECT * FROM {name}").collect()}


def test_running_stats_accumulate_per_symbol(spark, tmpdir):
    rows = [
        ("SPY", datetime(2024, 1, 1, 10, 0, 0), 100.0, 10.0),
        ("SPY", datetime(2024, 1, 1, 10, 0, 2), 110.0, 30.0),
        ("TLT", datetime(2024, 1, 1, 10, 0, 1), 50.0, 5.0),
    ]
    spark.createDataFrame(rows, TICK_SCHEMA).coalesce(1).write.parquet(f"{tmpdir}/src")
    got = _run(spark, f"{tmpdir}/src", f"{tmpdir}/ckpt", "tape1")
    spy = got["SPY"]
    assert spy["n"] == 2
    assert abs(spy["mean_price"] - 105.0) < 1e-12
    assert abs(spy["vwap"] - (100 * 10 + 110 * 30) / 40.0) < 1e-12
    assert spy["last_price"] == 110.0 and spy["high"] == 110.0 and spy["low"] == 100.0
    assert got["TLT"]["n"] == 1


def test_running_stats_state_survives_restart(spark, tmpdir):
    src = f"{tmpdir}/src"
    # Memory sink can't recover from a checkpoint; foreachBatch can — it's
    # also the production sink shape for pushing tape updates onward.
    collected: list = []

    def _run_fb(name):
        stream = spark.readStream.schema(TICK_SCHEMA).parquet(src)
        q = (
            stream_running_stats(stream, evict_idle=False)
            .writeStream.foreachBatch(
                lambda bdf, bid: collected.extend(bdf.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", f"{tmpdir}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    spark.createDataFrame(
        [("SPY", datetime(2024, 1, 1, 10, 0, 0), 100.0, 1.0)], TICK_SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    _run_fb("a")
    assert [r["n"] for r in collected if r["ticker"] == "SPY"] == [1]

    collected.clear()
    spark.createDataFrame(
        [("SPY", datetime(2024, 1, 1, 10, 5, 0), 120.0, 1.0),
         ("SPY", datetime(2024, 1, 1, 10, 4, 0), 80.0, 1.0)], TICK_SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    _run_fb("b")
    spy = [r for r in collected if r["ticker"] == "SPY"][-1]
    assert spy["n"] == 3                      # state restored from checkpoint
    assert spy["last_price"] == 120.0         # latest-ts wins, not batch order
    assert spy["low"] == 80.0 and spy["high"] == 120.0


# --- streaming CUSUM ------------------------------------------------------

DEV_SCHEMA = "symbol string, ts timestamp, a double"


def _batch_cusum(rows):
    """Closed-form reference: S_t = P_t - min(0, min prefix P)."""
    out = {}
    by_sym: dict = {}
    for sym, ts, a in sorted(rows, key=lambda r: (r[0], r[1])):
        by_sym.setdefault(sym, []).append((ts, a))
    for sym, seq in by_sym.items():
        pref, pmin = 0.0, 0.0
        for ts, a in seq:
            pref += a
            pmin = min(pmin, pref)  # includes current — this is the clamp
            out[(sym, ts)] = pref - min(pmin, 0.0)
    return out


def test_stream_cusum_equals_batch_closed_form(spark, tmpdir):
    from datetime import datetime
    from polygon_algotrading_env_spark.streaming.stateful import stream_cusum

    rows = []
    vals = [0.4, -0.9, 1.2, 0.8, -0.3, 2.0, -4.0, 0.6, 0.7, 0.9]
    for i, v in enumerate(vals):
        rows.append(("X", datetime(2024, 1, 1, 10, 0, i), v))
        rows.append(("Y", datetime(2024, 1, 1, 10, 0, i), -v))
    # two chunks → two micro-batches → state must carry across
    src = f"{tmpdir}/src"
    spark.createDataFrame(rows[:8], DEV_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame(rows[8:], DEV_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema(DEV_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream_cusum(stream, threshold=1.5)
        .writeStream.format("memory")
        .queryName("cusum_s")
        .outputMode("append")
        .option("checkpointLocation", f"{tmpdir}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["symbol"], r["ts"]): (r["cusum"], r["alarm"])
        for r in spark.sql("SELECT * FROM cusum_s").collect()
    }
    ref = _batch_cusum(rows)
    assert len(got) == len(rows)
    for k, s_ref in ref.items():
        s_got, alarm = got[k]
        assert abs(s_got - s_ref) < 1e-12, (k, s_got, s_ref)
        assert alarm == (s_ref > 1.5)


def test_stream_cusum_drops_late_rows(spark, tmpdir):
    from datetime import datetime
    from polygon_algotrading_env_spark.streaming.stateful import stream_cusum

    src = f"{tmpdir}/src"
    first = [("X", datetime(2024, 1, 1, 10, 0, 5), 1.0)]
    late = [("X", datetime(2024, 1, 1, 10, 0, 1), 99.0),  # behind watermark
            ("X", datetime(2024, 1, 1, 10, 0, 6), 0.5)]
    spark.createDataFrame(first, DEV_SCHEMA).coalesce(1).write.mode(
        "append").parquet(src)
    spark.createDataFrame(late, DEV_SCHEMA).coalesce(1).write.mode(
        "append").parquet(src)
    stream = (
        spark.readStream.schema(DEV_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream_cusum(stream, threshold=10.0)
        .writeStream.format("memory")
        .queryName("cusum_late")
        .outputMode("append")
        .option("checkpointLocation", f"{tmpdir}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM cusum_late ORDER BY ts").collect()
    # the 10:00:01 row arrived after 10:00:05 was applied → dropped
    assert [r["ts"].second for r in rows] == [5, 6]
    assert abs(rows[-1]["cusum"] - 1.5) < 1e-12


# --- streaming SMA signals ≡ batch backtest --------------------------------

BAR_SCHEMA = "symbol string, ts timestamp, close double"


def test_stream_sma_signal_equals_batch_backtest(spark, tmpdir):
    from datetime import datetime, timedelta

    from polygon_algotrading_env_spark.operators.backtest import (
        sma_crossover_backtest,
    )
    from polygon_algotrading_env_spark.streaming.stateful import (
        stream_sma_signal,
    )

    t0 = datetime(2024, 1, 1, 9, 30)
    vals = [100 + ((i * 37) % 11) - 5 + (3 if i > 14 else 0) for i in range(30)]
    rows = [
        (s, t0 + timedelta(minutes=5 * i), float(v) * (1 if s == "X" else 2))
        for s in ("X", "Y")
        for i, v in enumerate(vals)
    ]
    src = f"{tmpdir}/src"
    half = len(rows) // 2
    spark.createDataFrame(rows[:half], BAR_SCHEMA).coalesce(1).write.mode(
        "append").parquet(src)
    spark.createDataFrame(rows[half:], BAR_SCHEMA).coalesce(1).write.mode(
        "append").parquet(src)
    stream = (
        spark.readStream.schema(BAR_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream_sma_signal(stream, fast=5, slow=20)
        .writeStream.format("memory")
        .queryName("sig_s")
        .outputMode("append")
        .option("checkpointLocation", f"{tmpdir}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["symbol"], r["ts"]): r
        for r in spark.sql("SELECT * FROM sig_s").collect()
    }
    batch = sma_crossover_backtest(
        spark.createDataFrame(rows, BAR_SCHEMA),
        key_col="symbol", ts_col="ts", price_col="close",
        fast=5, slow=20,
    ).collect()
    assert len(got) == len(batch) == len(rows)
    for r in batch:
        s = got[(r["symbol"], r["ts"])]
        assert s["signal"] == r["signal"] and s["position"] == r["position"]
        assert abs(s["sma_fast"] - r["sma_fast"]) < 1e-9
        assert abs(s["sma_slow"] - r["sma_slow"]) < 1e-9
        assert abs(s["pnl"] - r["pnl"]) < 1e-12


# --- streaming EWMA vol ≡ batch closed form + restart soak -----------------


def _py_ewma_vol(rows, span=39):
    """Sequential Python reference of the RiskMetrics recursion."""
    lam, alpha = 1.0 - 2.0 / (span + 1), 2.0 / (span + 1)
    state: dict = {}
    ref = {}
    for sym, ts, px in sorted(rows, key=lambda r: (r[0], r[1])):
        var, last, seeded = state.get(sym, (0.0, None, False))
        r = 0.0 if (last is None or last == 0.0) else px / last - 1.0
        var = r * r if not seeded else lam * var + alpha * r * r
        state[sym] = (var, px, True)
        ref[(sym, ts)] = var**0.5
    return ref


def test_stream_ewma_vol_equals_batch_closed_form(spark, tmpdir):
    from datetime import datetime, timedelta

    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from polygon_algotrading_env_spark.operators.indicators import (
        with_ema_closed_form,
    )
    from polygon_algotrading_env_spark.streaming.stateful import (
        stream_ewma_vol,
    )

    t0 = datetime(2024, 1, 1, 10, 0, 0)
    px = [100.0, 101.5, 99.0, 0.0, 103.0, 103.0, 97.5, 104.2, 100.1, 102.3]
    rows = []
    for i, p in enumerate(px):
        rows.append(("X", t0 + timedelta(minutes=5 * i), p))
        rows.append(("Y", t0 + timedelta(minutes=5 * i), 2 * p + 1))
    src = f"{tmpdir}/src"
    # two files → two micro-batches → the recursion must carry across
    spark.createDataFrame(rows[:12], BAR_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame(rows[12:], BAR_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema(BAR_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream_ewma_vol(stream, span=39)
        .writeStream.format("memory")
        .queryName("ewma_s")
        .outputMode("append")
        .option("checkpointLocation", f"{tmpdir}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["symbol"], r["ts"]): r["ewma_vol"]
        for r in spark.sql("SELECT * FROM ewma_s").collect()
    }
    assert len(got) == len(rows)
    # law 1: sequential Python reference, tight tolerance
    ref = _py_ewma_vol(rows)
    for k, v in ref.items():
        assert abs(got[k] - v) < 1e-12, (k, got[k], v)
    # law 2: the batch closed-form plan (ewma_vol_5m's engine), float-noise
    # tolerance — the two-level prefix-sum evaluation reorders the product
    w = Window.partitionBy("symbol").orderBy("ts")
    bars = spark.createDataFrame(rows, BAR_SCHEMA)
    prev = F.lag("close").over(w)
    ret = F.when(prev.isNull() | (prev == 0), F.lit(0.0)).otherwise(
        F.col("close") / prev - 1
    )
    rr = bars.select("symbol", "ts", (ret * ret).alias("__r2"))
    batch = with_ema_closed_form(
        rr, "__r2", span=39, keys=["symbol"], order_cols=["ts"], out="__var"
    )
    for r in batch.collect():
        assert abs(got[(r["symbol"], r["ts"])] - r["__var"] ** 0.5) < 1e-9


def test_stream_ewma_vol_state_survives_restart(spark, tmpdir):
    from datetime import datetime, timedelta

    from polygon_algotrading_env_spark.streaming.stateful import (
        stream_ewma_vol,
    )

    t0 = datetime(2024, 1, 1, 10, 0, 0)
    px = [100.0, 102.0, 99.5, 101.0, 98.0, 103.5]
    rows = [("X", t0 + timedelta(minutes=5 * i), p) for i, p in enumerate(px)]
    src = f"{tmpdir}/src"
    collected: list = []

    def _run_fb():
        stream = spark.readStream.schema(BAR_SCHEMA).parquet(src)
        q = (
            stream_ewma_vol(stream, span=39)
            .writeStream.foreachBatch(
                lambda bdf, bid: collected.extend(bdf.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", f"{tmpdir}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    spark.createDataFrame(rows[:3], BAR_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    _run_fb()  # first run, then the query is gone (kill)
    spark.createDataFrame(rows[3:], BAR_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    _run_fb()  # restart from the checkpoint: recursion must continue
    got = {(r["symbol"], r["ts"]): r["ewma_vol"] for r in collected}
    ref = _py_ewma_vol(rows)
    assert len(got) == len(rows)
    for k, v in ref.items():
        assert abs(got[k] - v) < 1e-12, (k, got[k], v)


# --- streaming RSI ≡ batch window formula -----------------------------------


def test_stream_rsi_equals_batch_window(spark, tmpdir):
    from datetime import datetime, timedelta

    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from polygon_algotrading_env_spark.streaming.stateful import stream_rsi

    import random

    rnd = random.Random(7)
    t0 = datetime(2024, 1, 1, 10, 0, 0)
    rows = []
    for sym, base in (("X", 100.0), ("Y", 50.0)):
        px = base
        for i in range(40):
            px = round(px + rnd.uniform(-2, 2), 2)
            rows.append((sym, t0 + timedelta(minutes=i), px))
    schema = "symbol string, ts timestamp, value double"
    src = f"{tmpdir}/src"
    spark.createDataFrame(rows[:30], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame(rows[30:], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream_rsi(stream, period=14)
        .writeStream.format("memory")
        .queryName("rsi_s")
        .outputMode("append")
        .option("checkpointLocation", f"{tmpdir}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["symbol"], r["ts"]): r["rsi"]
        for r in spark.sql("SELECT * FROM rsi_s").collect()
    }
    # batch reference: the exact recipe of rsi_14_per_event_type
    w = Window.partitionBy("symbol").orderBy("ts")
    d = F.col("value") - F.lag("value").over(w)
    gl = spark.createDataFrame(rows, schema).select(
        "symbol",
        "ts",
        F.row_number().over(w).alias("rn"),
        F.when(d > 0, d).otherwise(F.lit(0.0)).alias("gain"),
        F.when(d < 0, -d).otherwise(F.lit(0.0)).alias("loss"),
    )
    f = Window.partitionBy("symbol").orderBy("rn").rowsBetween(-13, 0)
    ref_rows = (
        gl.select(
            "symbol",
            "ts",
            "rn",
            (F.round(F.sum("gain").over(f), 6) / F.count(F.lit(1)).over(f)).alias("ag"),
            (F.round(F.sum("loss").over(f), 6) / F.count(F.lit(1)).over(f)).alias("al"),
        )
        .filter(F.col("rn") > 14)
        .collect()
    )
    assert len(got) == len(ref_rows) > 0
    for r in ref_rows:
        ref = (
            100.0
            if r["al"] == 0
            else 100.0 - 100.0 / (1.0 + r["ag"] / r["al"])
        )
        assert abs(got[(r["symbol"], r["ts"])] - ref) < 1e-9, (
            r["symbol"], r["ts"],
        )


def test_merged_sorted_restores_cross_chunk_order():
    # One micro-batch can deliver a group across several Arrow chunks; a
    # later chunk carrying EARLIER timestamps is in-batch data and must
    # survive the monotonicity guard — so the merge sorts once across
    # chunks, not per chunk.
    import pandas as pd

    from polygon_algotrading_env_spark.streaming.stateful import (
        _merged_sorted,
    )

    c1 = pd.DataFrame({"ts": [30, 40], "v": ["c", "d"]})
    c2 = pd.DataFrame({"ts": [10, 20], "v": ["a", "b"]})
    merged = _merged_sorted(iter([c1, pd.DataFrame({"ts": [], "v": []}), c2]), "ts")
    assert merged["ts"].tolist() == [10, 20, 30, 40]
    assert merged["v"].tolist() == ["a", "b", "c", "d"]
    assert _merged_sorted(iter([]), "ts") is None
    assert _merged_sorted(iter([pd.DataFrame({"ts": []})]), "ts") is None


# --- streaming MACD ≡ batch (pandas recursion AND fused closed form) --------


def test_stream_macd_equals_batch(spark, tmpdir):
    from datetime import datetime, timedelta

    from indicator_refs import with_macd
    from polygon_algotrading_env_spark.operators.indicators import with_macd_closed_form
    from polygon_algotrading_env_spark.streaming.stateful import stream_macd

    t0 = datetime(2024, 1, 1, 10, 0, 0)
    px = [100.0, 101.5, 99.0, 103.0, 97.5, 104.2, 100.1, 102.3, 98.8, 101.0]
    rows = []
    for i, p in enumerate(px):
        rows.append(("X", t0 + timedelta(minutes=5 * i), p))
        rows.append(("Y", t0 + timedelta(minutes=5 * i), 2 * p + 1))
    src = f"{tmpdir}/src"
    # two files → two micro-batches → the recursions must carry across
    spark.createDataFrame(rows[:12], BAR_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame(rows[12:], BAR_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema(BAR_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream_macd(stream, fast=3, slow=5, signal=2)
        .writeStream.format("memory")
        .queryName("macd_s")
        .outputMode("append")
        .option("checkpointLocation", f"{tmpdir}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["symbol"], r["ts"]): (r["macd"], r["macd_signal"], r["macd_hist"])
        for r in spark.sql("SELECT * FROM macd_s").collect()
    }
    assert len(got) == len(rows)
    bars = spark.createDataFrame(rows, BAR_SCHEMA)
    # law 1: the pandas sequential recursion, tight tolerance
    ref = {
        (r["symbol"], r["ts"]): (r["macd"], r["macd_signal"], r["macd_hist"])
        for r in with_macd(
            bars, "close", ["symbol"], ["ts"], fast=3, slow=5, signal=2
        ).collect()
    }
    for k, v in ref.items():
        for i in range(3):
            assert abs(got[k][i] - v[i]) < 1e-12, (k, i)
    # law 2: the fused closed-form batch plan, float-noise tolerance
    cf = {
        (r["symbol"], r["ts"]): (r["macd"], r["macd_signal"], r["macd_hist"])
        for r in with_macd_closed_form(
            bars, "close", ["symbol"], ["ts"], fast=3, slow=5, signal=2
        ).collect()
    }
    for k, v in cf.items():
        for i in range(3):
            assert abs(got[k][i] - v[i]) < 1e-9, (k, i)


def test_stream_macd_state_survives_restart(spark, tmpdir):
    from datetime import datetime, timedelta

    from indicator_refs import with_macd
    from polygon_algotrading_env_spark.streaming.stateful import stream_macd

    t0 = datetime(2024, 1, 1, 10, 0, 0)
    px = [100.0, 102.0, 99.5, 101.0, 98.0, 103.5]
    rows = [("X", t0 + timedelta(minutes=5 * i), p) for i, p in enumerate(px)]
    src = f"{tmpdir}/src"
    collected: list = []

    def _run_fb():
        stream = spark.readStream.schema(BAR_SCHEMA).parquet(src)
        q = (
            stream_macd(stream, fast=3, slow=5, signal=2)
            .writeStream.foreachBatch(
                lambda bdf, bid: collected.extend(bdf.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", f"{tmpdir}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    spark.createDataFrame(rows[:3], BAR_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    _run_fb()  # first run, then the query is gone (kill)
    spark.createDataFrame(rows[3:], BAR_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    _run_fb()  # restart from the checkpoint: recursions must continue
    got = {(r["symbol"], r["ts"]): r["macd_signal"] for r in collected}
    bars = spark.createDataFrame(rows, BAR_SCHEMA)
    ref = {
        (r["symbol"], r["ts"]): r["macd_signal"]
        for r in with_macd(
            bars, "close", ["symbol"], ["ts"], fast=3, slow=5, signal=2
        ).collect()
    }
    assert len(got) == len(rows)
    for k, v in ref.items():
        assert abs(got[k] - v) < 1e-12, (k, got[k], v)


# --- streaming Kalman ≡ batch recursion --------------------------------------


def test_stream_kalman_equals_batch_and_survives_restart(spark, tmpdir):
    from datetime import datetime, timedelta

    from indicator_refs import with_kalman_level
    from polygon_algotrading_env_spark.streaming.stateful import (
        stream_kalman_level,
    )

    t0 = datetime(2024, 1, 1, 10, 0, 0)
    px = [100.0, 101.5, 99.0, 103.0, 97.5, 104.2, 100.1, 102.3]
    rows = []
    for i, p in enumerate(px):
        rows.append(("X", t0 + timedelta(minutes=5 * i), p))
        rows.append(("Y", t0 + timedelta(minutes=5 * i), 2 * p + 1))
    src = f"{tmpdir}/src"
    collected: list = []

    def _run_fb():
        stream = spark.readStream.schema(BAR_SCHEMA).parquet(src)
        q = (
            stream_kalman_level(stream)
            .writeStream.foreachBatch(
                lambda bdf, bid: collected.extend(bdf.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", f"{tmpdir}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    spark.createDataFrame(rows[:6], BAR_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    _run_fb()  # first run (kill after)
    spark.createDataFrame(rows[6:], BAR_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    _run_fb()  # restart: gain AND level recursions continue from state
    got = {
        (r["symbol"], r["ts"]): (r["kalman_level"], r["kalman_gain"])
        for r in collected
    }
    bars = spark.createDataFrame(rows, BAR_SCHEMA)
    ref = {
        (r["symbol"], r["ts"]): (r["kalman_level"], r["kalman_gain"])
        for r in with_kalman_level(bars, "close", ["symbol"], ["ts"]).collect()
    }
    assert len(got) == len(rows)
    for k, v in ref.items():
        assert abs(got[k][0] - v[0]) < 1e-12, k
        assert got[k][1] == v[1], k  # gains bit-exact


# --- kill/restart through the recursion skeleton ----------------------------

_RESTART_CASES = {
    "cusum": (DEV_SCHEMA, lambda s: stream_cusum(s, threshold=1.0)),
    "sma_signal": (BAR_SCHEMA, lambda s: stream_sma_signal(s, fast=2, slow=4)),
    "rsi": (
        "symbol string, ts timestamp, value double",
        lambda s: stream_rsi(s, period=4),
    ),
}


@pytest.mark.parametrize("op", sorted(_RESTART_CASES))
def test_recursion_restart_equals_one_run_and_drops_late_rows(
    spark, tmpdir, op
):
    """Two availableNow runs on one checkpoint emit exactly what one run
    over the whole feed emits — the state (array fields included: SMA
    prices, RSI gains/losses) round-trips the state store. The second
    half re-delivers one row AT and one BEHIND the first run's last
    timestamp per key, with wild values; the cursor must drop both."""
    from datetime import timedelta
    import random

    schema, build = _RESTART_CASES[op]
    rnd = random.Random(11)
    t0 = datetime(2024, 1, 1, 10, 0, 0)
    feed = []
    for sym, px in (("X", 100.0), ("Y", 50.0)):
        for i in range(12):
            px = round(px + rnd.uniform(-2, 2), 2)
            feed.append((sym, t0 + timedelta(minutes=i), px))
    cut = t0 + timedelta(minutes=6)
    first = [r for r in feed if r[1] < cut]
    second = [r for r in feed if r[1] >= cut]
    late = [
        ("X", t0 + timedelta(minutes=5), 1e6),
        ("Y", t0 + timedelta(minutes=3), -1e6),
    ]

    def _runs(parts, name):
        src, got = f"{tmpdir}/{name}_src", []
        for part in parts:
            spark.createDataFrame(part, schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            q = (
                build(spark.readStream.schema(schema).parquet(src))
                .writeStream.foreachBatch(
                    lambda bdf, bid: got.extend(map(tuple, bdf.collect()))
                )
                .outputMode("append")
                .option("checkpointLocation", f"{tmpdir}/{name}_ckpt")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
        return sorted(got)

    restarted = _runs([first, second + late], "restart")
    assert restarted, "no emission"
    assert restarted == _runs([feed], "once")


# --- streaming ECDF drift ≡ first-n/rest batch split -------------------------

EV_SCHEMA = "event_type string, ts timestamp, value double"


def _py_drift_reference(rows, n_ref):
    """Independent pure-Python two-sample ECDF reference: first n_ref
    rows per key (ts order) are the reference sample, the rest current;
    KS/W1/CvM from sorted samples with bisect — no shared code with the
    operator's map-fold."""
    import bisect
    from collections import defaultdict

    def cents(x):
        v = x * 100.0
        return int(v + 0.5) if v >= 0 else -int(-v + 0.5)

    by_key = defaultdict(list)
    for k, t, v in sorted(rows, key=lambda r: (r[0], r[1])):
        by_key[k].append(cents(v))
    want = {}
    for k, vs in by_key.items():
        s1 = sorted(vs[:n_ref])
        s2 = sorted(vs[n_ref:])
        if not s2:
            continue
        n1, n2 = len(s1), len(s2)
        grid = sorted(set(s1) | set(s2))
        d_at = [
            bisect.bisect_right(s1, g) * n2 - bisect.bisect_right(s2, g) * n1
            for g in grid
        ]
        d_num = max(abs(d) for d in d_at)
        w1_num = sum(
            abs(d_at[i]) * (grid[i + 1] - grid[i])
            for i in range(len(grid) - 1)
        )
        mult = [s1.count(g) + s2.count(g) for g in grid]
        cvm_num = sum(d * d * m for d, m in zip(d_at, mult))
        want[k] = (n1, n2, d_num, w1_num, cvm_num)
    return want


def test_stream_ecdf_drift_equals_batch_split_across_batches(spark, tmpdir):
    """Multi-micro-batch feed (maxFilesPerTrigger=1): the final emission
    per key must equal the independent first-n/rest reference, with the
    calibration boundary falling mid-file and mid-batch."""
    import random
    from datetime import datetime, timedelta

    from polygon_algotrading_env_spark.streaming.stateful import (
        stream_ecdf_drift,
    )

    rnd = random.Random(7)
    t0 = datetime(2024, 1, 1, 9, 30, 0)
    rows = []
    for i in range(40):
        # planted drift: key 'a' shifts location after calibration
        rows.append(("a", t0 + timedelta(seconds=i), 10.0 + rnd.random() + (1.5 if i >= 12 else 0.0)))
        rows.append(("b", t0 + timedelta(seconds=i), 20.0 + rnd.random()))
    src = f"{tmpdir}/src"
    for lo, hi in ((0, 30), (30, 56), (56, 80)):  # 3 files -> 3 batches
        spark.createDataFrame(rows[lo:hi], EV_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema(EV_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream_ecdf_drift(stream, n_ref=12)
        .writeStream.format("memory")
        .queryName("drift1")
        .outputMode("update")
        .option("checkpointLocation", f"{tmpdir}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["event_type"]: r
        for r in spark.sql(
            "SELECT * FROM (SELECT *, row_number() OVER "
            "(PARTITION BY event_type ORDER BY n2 DESC) AS rn FROM drift1) "
            "WHERE rn = 1"
        ).collect()
    }
    want = _py_drift_reference(rows, n_ref=12)
    assert set(got) == set(want)
    for k, (n1, n2, d_num, w1_num, cvm_num) in want.items():
        r = got[k]
        assert (r["n1"], r["n2"], r["d_num"], r["w1_num"], r["cvm_num"]) == (
            n1, n2, d_num, w1_num, cvm_num
        ), k
        assert abs(r["ks"] - round(d_num / (n1 * n2), 6)) < 1e-12
        assert abs(r["w1"] - round(w1_num / (n1 * n2 * 100.0), 6)) < 1e-12
    # the planted location shift must light up key 'a' far above 'b'
    assert got["a"]["w1"] > 5 * got["b"]["w1"]
    assert got["a"]["ks"] > got["b"]["ks"]


def test_stream_ecdf_drift_state_survives_restart(spark, tmpdir):
    """Kill/restart across the calibration boundary: reference counts and
    the monotonicity cursor must recover from the checkpoint, final
    statistics identical to the reference."""
    from datetime import datetime, timedelta

    from polygon_algotrading_env_spark.streaming.stateful import (
        stream_ecdf_drift,
    )

    t0 = datetime(2024, 1, 1, 9, 30, 0)
    vals = [1.0, 2.0, 1.5, 2.5, 3.0, 4.0, 3.5, 4.5, 5.0, 6.0]
    rows = [("x", t0 + timedelta(seconds=i), v) for i, v in enumerate(vals)]
    src = f"{tmpdir}/src"
    collected: list = []

    def _run_fb():
        stream = spark.readStream.schema(EV_SCHEMA).parquet(src)
        q = (
            stream_ecdf_drift(stream, n_ref=4)
            .writeStream.foreachBatch(
                lambda bdf, bid: collected.extend(bdf.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", f"{tmpdir}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    spark.createDataFrame(rows[:3], EV_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    _run_fb()  # dies mid-calibration (3 of 4 reference rows seen)
    assert collected == []  # nothing emitted before calibration completes
    spark.createDataFrame(rows[3:], EV_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    _run_fb()  # restart: calibration completes from checkpointed state
    assert collected, "no emission after restart"
    last = collected[-1]
    want = _py_drift_reference(rows, n_ref=4)["x"]
    assert (
        last["n1"], last["n2"], last["d_num"], last["w1_num"], last["cvm_num"]
    ) == want


def test_stream_ecdf_drift_counts_same_timestamp_ties(spark, tmpdir):
    """Tick data collides on the microsecond: rows sharing (key, ts)
    within a micro-batch must ALL be counted, exactly as the certified
    batch basis counts them (row_number over ts, event_id) — the
    composite (last_ts, n_at_last) cursor, not a bare `t <= last_ts`
    drop. Ties are planted inside the calibration window, straddling
    the boundary, and in the current sample; the pure-Python reference
    counts every row."""
    from datetime import datetime, timedelta

    from polygon_algotrading_env_spark.streaming.stateful import (
        stream_ecdf_drift,
    )

    t0 = datetime(2024, 1, 1, 9, 30, 0)
    rows = []
    for i in range(12):
        ts = t0 + timedelta(seconds=i // 2)  # every timestamp twice
        rows.append(("a", ts, 10.0 + 0.25 * i))
    # triple tie straddling the calibration boundary (n_ref=4 → rows
    # 3,4,5 at one ts: one calibrates, two land in the current sample)
    rows.extend(
        ("b", t0 + timedelta(seconds=j // 3), 20.0 + 0.5 * j)
        for j in range(9)
    )
    src = f"{tmpdir}/src"
    spark.createDataFrame(rows, EV_SCHEMA).coalesce(1).write.parquet(src)
    q = (
        stream_ecdf_drift(
            spark.readStream.schema(EV_SCHEMA).parquet(src), n_ref=4
        )
        .writeStream.format("memory")
        .queryName("drift_ties")
        .outputMode("update")
        .option("checkpointLocation", f"{tmpdir}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["event_type"]: r
        for r in spark.sql("SELECT * FROM drift_ties").collect()
    }
    want = _py_drift_reference(rows, n_ref=4)
    assert set(got) == set(want)
    for k, (n1, n2, d_num, w1_num, cvm_num) in want.items():
        r = got[k]
        assert (r["n1"], r["n2"], r["d_num"], r["w1_num"], r["cvm_num"]) == (
            n1, n2, d_num, w1_num, cvm_num
        ), k
    # every planted row counted — nothing silently dropped at the guard
    assert got["a"]["n1"] + got["a"]["n2"] == 12
    assert got["b"]["n1"] + got["b"]["n2"] == 9


def test_drift_emit_row_overflow_nulls_like_batch_trycast():
    """Past the BIGINT ceiling the monitor must degrade exactly like the
    certified batch basis (TRY_CAST → NULL for the numerator AND the
    double derived from it), not crash at Arrow conversion. Synthetic
    count maps cross the boundary without streaming ~10⁹ rows; each
    statistic overflows independently."""
    from polygon_algotrading_env_spark.streaming.stateful import (
        _drift_emit_row,
    )

    # (a) no overflow: exact ints round-trip
    row = _drift_emit_row("k", {100: 4}, {200: 5}).iloc[0]
    assert row["w1_num"] == 4 * 5 * 100 and row["cvm_num"] == 20**2 * 4
    # (b) w1_num = |d|·gap = 20·(10¹⁸−100) > 2⁶³−1; cvm stays exact
    row = _drift_emit_row("k", {100: 4}, {10**18: 5}).iloc[0]
    assert row["w1_num"] is None and row["w1"] is None
    assert row["cvm_num"] == 20**2 * 4 and row["cvm"] is not None
    # (c) cvm_num = d²·mult = (4·10⁹)²·4 > 2⁶³−1; w1 stays exact
    big = _drift_emit_row("k", {100: 4}, {200: 10**9})
    row = big.iloc[0]
    assert row["cvm_num"] is None and row["cvm"] is None
    assert row["w1_num"] == 4 * 10**9 * 100 and row["w1"] is not None
    # the overflowed frame still converts to the declared output types
    # (the crash mode this guard exists to prevent: an unguarded Python
    # int > 2⁶³−1 makes the column object-dtype and int64 casting raise)
    import pyarrow as pa

    tbl = pa.Table.from_pandas(big, preserve_index=False)
    for col in ("n1", "n2", "d_num", "w1_num", "cvm_num"):
        tbl.column(col).cast(pa.int64())
    for col in ("ks", "w1", "cvm"):
        tbl.column(col).cast(pa.float64())


def test_stream_ecdf_drift_default_nref_is_certified_basis():
    """The default n_ref must be 128 — the one configuration the
    committed oracle artifacts certify (ecdf_drift_first_n_by_type pins
    rn <= 128 in both the Spark plan and the DuckDB SQL)."""
    import inspect

    from polygon_algotrading_env_spark.streaming.stateful import (
        stream_ecdf_drift,
    )

    sig = inspect.signature(stream_ecdf_drift)
    assert sig.parameters["n_ref"].default == 128


def test_stream_ecdf_drift_matches_certified_batch_basis(spark, tmpdir, sf_dir):
    """The monitor's final emission per key over an in-order feed of the
    REAL events fixture equals the certified batch basis
    `ecdf_drift_first_n_by_type` (n_ref=128) row for row — the
    adjustment-twin law shape: stream ≡ certified batch on the same
    data. The fixture carries unique (event_type, ts), so the
    monotonicity guard drops nothing."""
    import pyspark.sql.functions as F

    from polygon_algotrading_env_spark.catalog import load_table
    from polygon_algotrading_env_spark.queries import REGISTRY
    from polygon_algotrading_env_spark.streaming.stateful import (
        stream_ecdf_drift,
    )

    src = f"{tmpdir}/src"
    load_table(spark, sf_dir, "events").select(
        "event_type", "ts", "value"
    ).orderBy("ts", "event_id").coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(EV_SCHEMA).parquet(src)
    q = (
        stream_ecdf_drift(stream, n_ref=128)
        .writeStream.format("memory")
        .queryName("drift_basis")
        .outputMode("update")
        .option("checkpointLocation", f"{tmpdir}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r["event_type"]: r
        for r in spark.sql(
            "SELECT * FROM (SELECT *, row_number() OVER "
            "(PARTITION BY event_type ORDER BY n2 DESC) AS rn "
            "FROM drift_basis) WHERE rn = 1"
        ).collect()
    }
    want = {
        r["event_type"]: r
        for r in REGISTRY["ecdf_drift_first_n_by_type"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert want, "fixture produced no post-calibration rows — law vacuous"
    assert set(got) == set(want)
    for k, w in want.items():
        g = got[k]
        assert (g["n1"], g["n2"], g["w1_num"], g["cvm_num"]) == (
            w["n1"], w["n2"], w["w1_num"], w["cvm_num"]
        ), k
        assert abs(g["w1"] - w["w1"]) < 1e-12 and abs(g["cvm"] - w["cvm"]) < 1e-12


def test_stream_ecdf_drift_redelivery_skips_prefix_applies_new_ties(
    spark, tmpdir
):
    """Overlapping re-delivery (at-least-once source): a later batch that
    re-delivers the rows already applied at last_ts PLUS a genuinely new
    tie at that same timestamp must skip exactly the already-applied
    prefix and count the new tie once — the composite (last_ts,
    n_at_last) cursor's designed case. Conversely (documented residual
    ambiguity without row ids): a FRESH tie arriving alone in a later
    batch is indistinguishable from a re-delivery and is dropped."""
    from datetime import datetime, timedelta

    from polygon_algotrading_env_spark.streaming.stateful import (
        stream_ecdf_drift,
    )

    t0 = datetime(2024, 1, 1, 9, 30, 0)
    tie_ts = t0 + timedelta(seconds=10)
    base = [("k", t0 + timedelta(seconds=i), 10.0 + i) for i in range(4)]
    ties = [("k", tie_ts, 50.0), ("k", tie_ts, 60.0)]
    new_tie = [("k", tie_ts, 70.0)]
    src = f"{tmpdir}/src"
    # batch 1: calibration (n_ref=4) + two ties at tie_ts
    spark.createDataFrame(base + ties, EV_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    # batch 2: RE-delivers both ties and adds one new tie at the same ts
    spark.createDataFrame(ties + new_tie, EV_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q = (
        stream_ecdf_drift(
            spark.readStream.schema(EV_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            n_ref=4,
        )
        .writeStream.format("memory")
        .queryName("drift_redeliver")
        .outputMode("update")
        .option("checkpointLocation", f"{tmpdir}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "SELECT * FROM drift_redeliver ORDER BY n2"
    ).collect()
    # batch 1 emission: 2 post-calibration rows; batch 2: exactly ONE
    # more (the new third tie), the redelivered pair skipped
    assert [r["n2"] for r in rows] == [2, 3]
    assert all(r["n1"] == 4 for r in rows)

    # fresh tie ALONE in a later batch (no redelivery context): dropped
    src2 = f"{tmpdir}/src2"
    spark.createDataFrame(base + ties, EV_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src2)
    spark.createDataFrame(new_tie, EV_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src2)
    q = (
        stream_ecdf_drift(
            spark.readStream.schema(EV_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src2),
            n_ref=4,
        )
        .writeStream.format("memory")
        .queryName("drift_freshtie")
        .outputMode("update")
        .option("checkpointLocation", f"{tmpdir}/ckpt2")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n2s = [
        r["n2"]
        for r in spark.sql(
            "SELECT * FROM drift_freshtie ORDER BY n2"
        ).collect()
    ]
    assert max(n2s) == 2  # the lone fresh tie at last_ts was dropped


def test_stream_ecdf_drift_tie_cursor_survives_restart(spark, tmpdir):
    """n_at_last must recover from the checkpoint: the stream dies after
    applying two ties at T, restarts, and the next batch re-delivers
    both plus one new tie at T — exactly one new row counted."""
    from datetime import datetime, timedelta

    from polygon_algotrading_env_spark.streaming.stateful import (
        stream_ecdf_drift,
    )

    t0 = datetime(2024, 1, 1, 9, 30, 0)
    tie_ts = t0 + timedelta(seconds=10)
    base = [("k", t0 + timedelta(seconds=i), 10.0 + i) for i in range(4)]
    ties = [("k", tie_ts, 50.0), ("k", tie_ts, 60.0)]
    src = f"{tmpdir}/src"
    collected: list = []

    def _run():
        q = (
            stream_ecdf_drift(
                spark.readStream.schema(EV_SCHEMA).parquet(src), n_ref=4
            )
            .writeStream.foreachBatch(
                lambda bdf, bid: collected.extend(bdf.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", f"{tmpdir}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    spark.createDataFrame(base + ties, EV_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    _run()  # applies both ties, checkpoints (last_ts=T, n_at_last=2)
    assert collected and collected[-1]["n2"] == 2
    spark.createDataFrame(
        ties + [("k", tie_ts, 70.0)], EV_SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    _run()  # restart: redelivered pair skipped via recovered cursor
    assert collected[-1]["n2"] == 3 and collected[-1]["n1"] == 4


EV_ID_SCHEMA = "event_type string, ts timestamp, value double, event_id long"


def test_stream_ecdf_drift_id_cursor_closes_fresh_tie_ambiguity(
    spark, tmpdir
):
    """With id_col the cursor is the exact lexicographic (ts, event_id)
    of the batch basis, so the documented no-id residual case vanishes:
    a FRESH tie at last_ts arriving ALONE in a later batch (id beyond
    the cursor) is applied once, while a re-delivered prefix (ids at or
    below the cursor) is still skipped — including when one batch mixes
    both."""
    from datetime import datetime, timedelta

    from polygon_algotrading_env_spark.streaming.stateful import (
        stream_ecdf_drift,
    )

    t0 = datetime(2024, 1, 1, 9, 30, 0)
    tie_ts = t0 + timedelta(seconds=10)
    base = [
        ("k", t0 + timedelta(seconds=i), 10.0 + i, i) for i in range(4)
    ]
    ties = [("k", tie_ts, 50.0, 10), ("k", tie_ts, 60.0, 11)]
    fresh = [("k", tie_ts, 70.0, 12)]
    mixed = [("k", tie_ts, 60.0, 11), ("k", tie_ts, 80.0, 13)]
    src = f"{tmpdir}/src"
    # batch 1: calibration (n_ref=4) + two post-calibration ties
    spark.createDataFrame(base + ties, EV_ID_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    # batch 2: a fresh tie at the SAME ts, alone — the no-id cursor's
    # documented drop case
    spark.createDataFrame(fresh, EV_ID_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    # batch 3: a re-delivery plus another fresh tie in one batch
    spark.createDataFrame(mixed, EV_ID_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q = (
        stream_ecdf_drift(
            spark.readStream.schema(EV_ID_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            n_ref=4,
            id_col="event_id",
        )
        .writeStream.format("memory")
        .queryName("drift_idcursor")
        .outputMode("update")
        .option("checkpointLocation", f"{tmpdir}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "SELECT * FROM drift_idcursor ORDER BY n2"
    ).collect()
    # 2 ties applied in batch 1, the lone fresh tie in batch 2 now
    # COUNTS (n2=3), and batch 3 adds exactly the one new id (n2=4)
    assert [r["n2"] for r in rows] == [2, 3, 4]
    assert all(r["n1"] == 4 for r in rows)


def test_stream_ecdf_drift_id_cursor_survives_restart(spark, tmpdir):
    """last_id must recover from the checkpoint: kill after the ties,
    restart onto a batch that re-delivers them plus one fresh tie —
    exactly one new row counted, none dropped."""
    from datetime import datetime, timedelta

    from polygon_algotrading_env_spark.streaming.stateful import (
        stream_ecdf_drift,
    )

    t0 = datetime(2024, 1, 1, 9, 30, 0)
    tie_ts = t0 + timedelta(seconds=10)
    base = [
        ("k", t0 + timedelta(seconds=i), 10.0 + i, i) for i in range(4)
    ]
    ties = [("k", tie_ts, 50.0, 10), ("k", tie_ts, 60.0, 11)]
    src = f"{tmpdir}/src"
    collected: list = []

    def _run():
        q = (
            stream_ecdf_drift(
                spark.readStream.schema(EV_ID_SCHEMA).parquet(src),
                n_ref=4,
                id_col="event_id",
            )
            .writeStream.foreachBatch(
                lambda bdf, bid: collected.extend(bdf.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", f"{tmpdir}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    spark.createDataFrame(base + ties, EV_ID_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    _run()  # applies both ties, checkpoints (last_ts=T, last_id=11)
    assert collected and collected[-1]["n2"] == 2
    spark.createDataFrame(
        ties + [("k", tie_ts, 70.0, 12)], EV_ID_SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    _run()  # restart: redelivered pair skipped via recovered last_id
    assert collected[-1]["n2"] == 3 and collected[-1]["n1"] == 4
