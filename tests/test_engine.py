from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from polygon_algotrading_env_spark.engine import Engine


@pytest.fixture(scope="module")
def eng(spark):
    return Engine(spark=spark)


def test_table_and_query(eng, sf_dir):
    assert eng.table("customer", sf_dir).count() == 150
    assert eng.query("pricing_summary", sf_dir).count() == 6


def test_sql_over_views(eng, sf_dir):
    eng.register_views(sf_dir)
    assert eng.sql("SELECT count(*) AS n FROM orders").collect()[0]["n"] == 1500


def test_bars_and_resample(eng, sf_dir):
    ev = eng.table("events", sf_dir)
    five = eng.bars(
        ev, "5 minutes", ts_col="ts", price_col="value", keys=("event_type",),
        order_col="ts_ns",
    )
    hourly = eng.resample(five, "1 hour", keys=("event_type",))
    assert hourly.count() < five.count()


def test_dedup_and_search_dispatch(eng, sf_dir):
    docs = eng.table("documents", sf_dir)
    pairs = eng.dedup_corpus(docs, method="minhash", bands=16)
    assert "est_jaccard" in pairs.columns
    emb = eng.table("embeddings", sf_dir)
    q = list(emb.filter(F.col("vec_id") == 3).collect()[0]["embedding"])
    exact = eng.search(emb, q, k=5, method="exact")
    assert exact.collect()[0]["vec_id"] == 3
    ivf = eng.search(emb, q, k=5, method="ivf", n_centroids=8, n_probe=8)
    assert ivf.collect()[0]["vec_id"] == 3
    with pytest.raises(ValueError):
        eng.dedup_corpus(docs, method="nope")


def test_ingest_requires_lake_root(eng):
    with pytest.raises(ValueError):
        eng.ingest_candles(["SPY"], lambda s, d: {"results": []}, "1970-01-01", "1970-01-02")


def test_engine_cluster_split_backtest_versioned(spark, tmp_path):
    from polygon_algotrading_env_spark.engine import Engine

    eng = Engine(spark)
    docs = spark.createDataFrame(
        [(0, "aaa"), (1, "aaab"), (2, "zzz")], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    labels, survivors = eng.cluster_duplicates(
        docs, pairs, quality_col="doc_id"
    )
    assert {r.id: r.component for r in labels.collect()} == {0: 0, 1: 0, 2: 2}
    assert {r.cluster: r.survivor_doc_id for r in survivors.collect()} == {0: 1, 2: 2}

    out = eng.split(docs, "doc_id")
    assert set(out.columns) == {"doc_id", "text", "split"}

    bars = spark.createDataFrame(
        [("X", float(i), 10.0 + i) for i in range(30)],
        "event_type string, bucket_start double, close double",
    )
    res = eng.backtest(bars)
    assert set(res) == {"bars", "trades", "equity"}
    assert res["equity"].columns == ["event_type", "bucket_start", "pnl", "cum_pnl", "drawdown"]

    vt = eng.versioned_table(str(tmp_path / "vt"))
    vt.write(docs)
    assert vt.read(version=0).count() == 3


def test_engine_round2_surface(spark, sf_dir, tmp_path):
    import pyspark.sql.functions as F

    from polygon_algotrading_env_spark.engine import Engine

    eng = Engine(spark)
    left = spark.createDataFrame([("A", 10, "l")], "k string, t long, lv string")
    right = spark.createDataFrame([("A", 5, "r")], "k string, t long, rv string")
    plain = eng.asof(left, right, on="k", left_ts="t", right_ts="t")
    chunked = eng.asof(
        left, right, on="k", left_ts="t", right_ts="t", chunk_seconds=3
    )
    assert plain.collect()[0]["rv"] == chunked.collect()[0]["rv"] == "r"

    bj = eng.band_join(left, right, left_val="t", right_val="t", low=-6, high=0)
    assert bj.count() == 1

    df = spark.range(100).withColumn("x", F.col("id") % 10).withColumn(
        "y", F.col("id") % 7
    )
    eng.write_zordered(df, str(tmp_path / "z"), ["x", "y"], n_files=2, bits=4)
    assert spark.read.parquet(str(tmp_path / "z")).count() == 100

    docs = spark.createDataFrame(
        [(1, "alpha beta", 9.0, "s"), (2, "alpha", 1.0, "s")],
        "doc_id int, text string, q double, src string",
    )
    scores = {r["doc_id"]: r["sum_df"] for r in eng.score_corpus(docs).collect()}
    assert scores == {1: 3, 2: 2}
    capped = eng.curate(docs, ["src"], "q", cap=1, tie_col="doc_id")
    assert [r["doc_id"] for r in capped.collect()] == [1]

    pairs = spark.createDataFrame([(1, 2)], "id_a int, id_b int")
    labels, survivors = eng.cluster_duplicates(docs, pairs, quality_col="q")
    assert survivors.collect()[0]["survivor_doc_id"] == 1


def test_engine_indicator_stack_and_sketches(eng, sf_dir):
    import pyspark.sql.functions as F

    ev = eng.table("events", sf_dir)
    bars = eng.bars(
        ev, "5 minutes", ts_col="ts", price_col="value",
        keys=("event_type",), volume_col="value", order_col="ts_ns",
    ).select("event_type", "bucket_start", "high", "low", "close", "volume")
    out = eng.indicators(
        bars, keys=["event_type"], order_cols=["bucket_start"],
        specs=("sma_5", "atr_3", "donchian_5", "stoch_5_3", "obv", "rvol_5"),
    )
    cols = set(out.columns)
    assert {"sma_5", "atr_3", "dc_upper", "stoch_k_5", "obv", "rvol_5"} <= cols
    row = out.where(F.col("close").isNotNull()).limit(1).collect()[0]
    assert row["dc_lower"] <= row["close"] <= row["dc_upper"]

    sk = eng.sketch_distinct(ev, "user_id", ["event_type"])
    ests = {r["event_type"]: r["distinct_est"] for r in sk.collect()}
    assert ests and all(v > 0 for v in ests.values())


def test_engine_ema_macd_specs_match_sequential_references(eng):
    """The facade's ``ema_N`` and ``macd`` specs run the closed forms;
    they must agree with the sequential grouped-map references on a
    multi-key series long enough (> 512 rows a key) to cross a block."""
    import math

    from indicator_refs import with_ema, with_macd

    rows = [
        (k, i, 100.0 + 7.0 * math.sin(i / (3.0 + j)) + 0.1 * i)
        for j, k in enumerate(["A", "B", "C"])
        for i in range(560 + 40 * j)
    ]
    bars = eng.spark.createDataFrame(rows, "sym string, t long, close double")
    got = eng.indicators(
        bars, keys=["sym"], order_cols=["t"], specs=("ema_10", "macd")
    ).collect()
    ref = with_macd(
        with_ema(bars, "close", 10, ["sym"], ["t"]), "close", ["sym"], ["t"]
    ).collect()
    cols = ("ema_10", "macd", "macd_signal", "macd_hist")
    want = {(r["sym"], r["t"]): r for r in ref}
    assert len(got) == len(want) == len(rows)
    for r in got:
        w = want[(r["sym"], r["t"])]
        for c in cols:
            assert abs(r[c] - w[c]) < 1e-9, (r["sym"], r["t"], c, r[c], w[c])


def test_engine_round4_facade_methods(spark, sf_dir):
    from polygon_algotrading_env_spark.engine import Engine

    eng = Engine(spark)
    li = eng.table("lineitem", sf_dir).select("l_partkey")
    hh = eng.heavy_hitters(li, "l_partkey", k=5, capacity=4096).collect()
    assert len(hh) == 5 and all(r["certified"] for r in hh)

    docs = eng.table("documents", sf_dir).select("doc_id", "lang")
    mix = eng.resample_mixture(
        docs, "lang", {"en": 0.5, "de": 0.5}
    ).groupBy("lang").count().collect()
    assert {r["lang"] for r in mix} <= {"en", "de"}

    ev = eng.table("events", sf_dir)
    db = eng.dollar_bars(
        ev, threshold=2000.0, keys=("event_type",),
        ts_col="ts", price_col="value", order_col="ts_ns",
    )
    assert db.count() > 0

    bars = eng.bars(
        ev.withColumnRenamed("event_type", "ticker"), "5 minutes",
        ts_col="ts", price_col="value", volume_col="value", order_col="ts_ns",
    ).select("ticker", "bucket_start", "close")
    lab = eng.label_bars(
        bars, horizon=4, keys=("ticker",),
        ts_col="bucket_start", price_col="close",
    )
    assert set(lab.select("label").distinct().toPandas()["label"]) <= {-1, 0, 1}

    pack = eng.research(
        bars.withColumnRenamed("ticker", "event_type")
    )
    assert set(pack) == {"backtest", "equity", "scorecard"}
