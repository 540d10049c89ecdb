from __future__ import annotations

from datetime import datetime

import pytest

from indicator_refs import with_ema, with_macd
from polygon_algotrading_env_spark.operators.indicators import (
    with_atr,
    with_bollinger,
    with_donchian,
    with_obv,
    with_realized_vol,
    with_returns,
    with_rsi,
    with_running_max_drawdown,
    with_sma,
    with_stochastic,
)


@pytest.fixture(scope="module")
def series(spark):
    prices = [100.0, 102.0, 101.0, 105.0, 107.0, 103.0, 108.0, 110.0]
    rows = [("SPY", datetime(2024, 1, 1 + i), p, i) for i, p in enumerate(prices)]
    rows += [("TLT", datetime(2024, 1, 1 + i), 50.0 + i, i) for i in range(4)]
    return spark.createDataFrame(
        rows, "ticker string, ts timestamp_ntz, close double, seq long"
    )


def _by_key(df, col):
    return {
        (r["ticker"], r["seq"]): r[col] for r in df.collect()
    }


def test_sma(spark, series):
    out = _by_key(with_sma(series, "close", 3, ["ticker"], ["seq"]), "sma_3")
    assert out[("SPY", 0)] == 100.0
    assert abs(out[("SPY", 2)] - (100 + 102 + 101) / 3) < 1e-12
    assert abs(out[("SPY", 7)] - (103 + 108 + 110) / 3) < 1e-12
    assert out[("TLT", 3)] == 52.0


def test_returns(spark, series):
    out = _by_key(with_returns(series, "close", ["ticker"], ["seq"]), "ret")
    assert out[("SPY", 0)] is None
    assert abs(out[("SPY", 1)] - 0.02) < 1e-12


def test_drawdown(spark, series):
    out = _by_key(
        with_running_max_drawdown(series, "close", ["ticker"], ["seq"]), "drawdown"
    )
    assert out[("SPY", 5)] == 103.0 / 107.0 - 1.0
    assert out[("SPY", 7)] == 0.0


def test_bollinger_bands_bracket_sma(spark, series):
    df = with_bollinger(series, "close", 3, 2.0, ["ticker"], ["seq"])
    for r in df.filter("seq >= 2 and ticker = 'SPY'").collect():
        assert r["bb_lower"] <= r["bb_mid"] <= r["bb_upper"]


def test_rsi_bounds_and_direction(spark, series):
    out = _by_key(with_rsi(series, "close", 3, ["ticker"], ["seq"]), "rsi_3")
    vals = [v for k, v in out.items() if k[0] == "SPY" and k[1] >= 1]
    assert all(0.0 <= v <= 100.0 for v in vals)
    assert out[("TLT", 3)] == 100.0  # monotonic rise → no losses


def test_atr_true_range_and_average(spark):
    # bars: (high, low, close); bar 1 gaps DOWN below bar 0's close, so
    # TR must use |high - prev_close| / |low - prev_close|, not just h-l
    rows = [
        ("SPY", 0, 10.0, 8.0, 9.0),
        ("SPY", 1, 7.0, 6.0, 6.5),   # gap down: TR = |6.0-9.0| = 3.0
        ("SPY", 2, 12.0, 6.0, 11.0),  # wide bar: TR = 12-6 = 6.0
    ]
    df = spark.createDataFrame(
        rows, "ticker string, seq long, high double, low double, close double"
    )
    out = {
        r["seq"]: (r["true_range"], r["atr_2"])
        for r in with_atr(df, 2, ["ticker"], ["seq"]).collect()
    }
    assert out[0][0] == 2.0       # first bar: high - low
    assert out[1][0] == 3.0       # gap term dominates
    assert out[2][0] == 6.0
    assert out[1][1] == 2.5       # avg(2.0, 3.0)
    assert out[2][1] == 4.5       # avg(3.0, 6.0)


def test_donchian_channel(spark, series):
    df = series.withColumn("high", series.close + 1).withColumn(
        "low", series.close - 1
    )
    out = {
        (r["ticker"], r["seq"]): (r["dc_upper"], r["dc_lower"], r["dc_mid"])
        for r in with_donchian(df, 3, ["ticker"], ["seq"]).collect()
    }
    # SPY closes 100,102,101 → highs 101,103,102; lows 99,101,100
    assert out[("SPY", 2)] == (103.0, 99.0, 101.0)
    assert out[("SPY", 0)] == (101.0, 99.0, 100.0)


def test_realized_vol_matches_numpy(spark, series):
    import numpy as np

    out = {
        (r["ticker"], r["seq"]): r["rvol_4"]
        for r in with_realized_vol(
            series, "close", 4, ["ticker"], ["seq"]
        ).collect()
    }
    prices = np.array([100.0, 102.0, 101.0, 105.0, 107.0, 103.0, 108.0, 110.0])
    lr = np.log(prices[1:] / prices[:-1])
    # seq 7 frame = last 4 log returns (seq 4..7)
    assert abs(out[("SPY", 7)] - np.std(lr[-4:], ddof=1)) < 1e-12
    assert out[("SPY", 0)] is None  # no return yet → stddev of empty


def test_stochastic_bounds_and_flat_range(spark):
    rows = [
        ("SPY", 0, 11.0, 9.0, 10.0),
        ("SPY", 1, 12.0, 10.0, 12.0),   # close at 2-bar high → %K = 100
        ("SPY", 2, 12.0, 8.0, 8.0),     # close at 3-bar low → %K = 0
        ("FLT", 0, 5.0, 5.0, 5.0),      # flat bar: hh == ll → NULL
    ]
    df = spark.createDataFrame(
        rows, "ticker string, seq long, high double, low double, close double"
    )
    out = {
        (r["ticker"], r["seq"]): (r["stoch_k_3"], r["stoch_d_3_2"])
        for r in with_stochastic(df, 3, 2, ["ticker"], ["seq"]).collect()
    }
    assert out[("SPY", 1)][0] == 100.0
    assert out[("SPY", 2)][0] == 0.0
    assert out[("SPY", 2)][1] == 50.0  # avg(100, 0)
    assert out[("FLT", 0)] == (None, None)


def test_obv_signed_accumulation(spark):
    rows = [
        ("SPY", 0, 10.0, 100.0),
        ("SPY", 1, 11.0, 50.0),   # up:   +50
        ("SPY", 2, 11.0, 30.0),   # flat:  +0
        ("SPY", 3, 10.0, 20.0),   # down: -20
    ]
    df = spark.createDataFrame(
        rows, "ticker string, seq long, close double, volume double"
    )
    out = {
        r["seq"]: r["obv"]
        for r in with_obv(df, ["ticker"], ["seq"]).collect()
    }
    assert out == {0: 0.0, 1: 50.0, 2: 50.0, 3: 30.0}


def test_macd_matches_pandas(spark, series):
    import pandas as pd

    out = {
        (r["ticker"], r["seq"]): (r["macd"], r["macd_signal"], r["macd_hist"])
        for r in with_macd(
            series, "close", ["ticker"], ["seq"], fast=3, slow=5, signal=2
        ).collect()
    }
    prices = pd.Series([100.0, 102.0, 101.0, 105.0, 107.0, 103.0, 108.0, 110.0])
    macd = (
        prices.ewm(span=3, adjust=False).mean()
        - prices.ewm(span=5, adjust=False).mean()
    )
    sig = macd.ewm(span=2, adjust=False).mean()
    for i in range(8):
        got = out[("SPY", i)]
        assert abs(got[0] - macd[i]) < 1e-12
        assert abs(got[1] - sig[i]) < 1e-12
        assert abs(got[2] - (macd[i] - sig[i])) < 1e-12


def test_ema_matches_pandas(spark, series):
    import pandas as pd

    out = _by_key(with_ema(series, "close", 3, ["ticker"], ["seq"]), "ema_3")
    prices = [100.0, 102.0, 101.0, 105.0, 107.0, 103.0, 108.0, 110.0]
    expected = pd.Series(prices).ewm(alpha=0.5, adjust=False).mean()
    for i in range(8):
        assert abs(out[("SPY", i)] - expected[i]) < 1e-9


def test_ema_closed_form_matches_pandas_across_blocks(spark):
    """The pure-JVM closed form (two-level pow-normalized prefix sums +
    bounded lag-carry) must equal the sequential pandas recursion — with a
    block size small enough that every row crosses multiple carry terms,
    and group lengths straddling several blocks."""
    import numpy as np
    import pandas as pd

    from polygon_algotrading_env_spark.operators.indicators import (
        with_ema_closed_form,
    )

    rng = np.random.default_rng(11)
    n = 700
    pdf = pd.DataFrame(
        {
            "k": np.repeat(["a", "b"], n),
            "seq": np.tile(np.arange(n), 2),
            "x": np.round(rng.uniform(10, 500, 2 * n), 2),
        }
    )
    df = spark.createDataFrame(pdf)
    for span, block in [(20, 512), (20, 16), (9, 32), (3, 512)]:
        out = (
            with_ema_closed_form(df, "x", span, ["k"], ["seq"], out="ema", block=block)
            .orderBy("k", "seq")
            .toPandas()
        )
        exp = (
            pdf.sort_values(["k", "seq"])
            .groupby("k")["x"]
            .transform(lambda s, sp=span: s.ewm(span=sp, adjust=False).mean())
        )
        assert np.max(np.abs(out["ema"].to_numpy() - exp.to_numpy())) < 1e-9, (
            span,
            block,
        )


def test_macd_closed_form_matches_pandas_across_blocks(spark):
    """The fused closed-form MACD (one zoned scaffold, fast/slow in one
    window round, signal chained over the derived macd column) must equal
    the sequential pandas recursion — including forced-small blocks where
    every row crosses multiple carry terms and the signal pass consumes a
    block-reconstructed macd, and group lengths straddling blocks."""
    import numpy as np
    import pandas as pd

    from polygon_algotrading_env_spark.operators.indicators import (
        with_macd_closed_form,
    )

    rng = np.random.default_rng(23)
    n = 700
    pdf = pd.DataFrame(
        {
            "k": np.repeat(["a", "b"], n),
            "seq": np.tile(np.arange(n), 2),
            "x": np.round(rng.uniform(10, 500, 2 * n), 2),
        }
    )
    df = spark.createDataFrame(pdf)
    for fast, slow, signal, block in [
        (12, 26, 9, 512),
        (12, 26, 9, 16),
        (3, 5, 2, 32),
    ]:
        out = (
            with_macd_closed_form(
                df, "x", ["k"], ["seq"],
                fast=fast, slow=slow, signal=signal, block=block,
            )
            .orderBy("k", "seq")
            .toPandas()
        )
        srt = pdf.sort_values(["k", "seq"])
        macd = srt.groupby("k")["x"].transform(
            lambda s, f=fast, sl=slow: s.ewm(span=f, adjust=False).mean()
            - s.ewm(span=sl, adjust=False).mean()
        )
        srt = srt.assign(__m=macd)
        sig = srt.groupby("k")["__m"].transform(
            lambda s, sg=signal: s.ewm(span=sg, adjust=False).mean()
        )
        assert np.max(np.abs(out["macd"].to_numpy() - macd.to_numpy())) < 1e-9
        assert np.max(np.abs(out["macd_signal"].to_numpy() - sig.to_numpy())) < 1e-9
        assert (
            np.max(
                np.abs(
                    out["macd_hist"].to_numpy()
                    - (macd.to_numpy() - sig.to_numpy())
                )
            )
            < 1e-9
        ), (fast, slow, signal, block)


# --- Kalman local-level filter --------------------------------------------

def _kalman_ref(y, q, r):
    """Straight-line reference implementation of the same recursion."""
    import numpy as np

    x, p = y[0], r
    out = [x]
    for v in y[1:]:
        pp = p + q
        k = pp / (pp + r)
        x = x + k * (v - x)
        p = (1 - k) * pp
        out.append(x)
    return np.array(out)


def test_kalman_matches_reference_and_is_partition_invariant(spark):
    import numpy as np
    from indicator_refs import with_kalman_level

    ys = [100.0, 100.5, 99.8, 101.2, 100.9, 102.0, 101.5, 101.7, 103.0, 102.2]
    rows = [("A", i, v) for i, v in enumerate(ys)] + [
        ("B", i, v * 2) for i, v in enumerate(ys)
    ]
    df = spark.createDataFrame(rows, ["sym", "t", "y"]).repartition(5)
    out = with_kalman_level(
        df, "y", keys=("sym",), order_cols=("t",), q_var=1e-3, r_var=1e-1
    )
    got = {
        (r["sym"], r["t"]): r["kalman_level"] for r in out.collect()
    }
    ref_a = _kalman_ref(np.array(ys), 1e-3, 1e-1)
    ref_b = _kalman_ref(np.array(ys) * 2, 1e-3, 1e-1)
    for i in range(len(ys)):
        assert abs(got[("A", i)] - ref_a[i]) < 1e-12
        assert abs(got[("B", i)] - ref_b[i]) < 1e-12


def test_kalman_gain_converges_to_steady_state(spark):
    import math
    from indicator_refs import with_kalman_level

    q, r = 1e-3, 1e-1
    # steady-state a-priori variance: P* = (q + sqrt(q^2 + 4qr)) / 2
    p_star = (q + math.sqrt(q * q + 4 * q * r)) / 2
    k_star = p_star / (p_star + r)
    rows = [("A", i, 50.0 + (i % 7)) for i in range(200)]
    df = spark.createDataFrame(rows, ["sym", "t", "y"])
    out = with_kalman_level(
        df, "y", keys=("sym",), order_cols=("t",), q_var=q, r_var=r
    )
    last = out.orderBy("t").collect()[-1]
    assert abs(last["kalman_gain"] - k_star) < 1e-9


def test_kalman_limits(spark):
    """r→0 trusts observations (level ≈ y); constant input is a fixed
    point (level == y exactly)."""
    from indicator_refs import with_kalman_level

    rows = [("A", i, 42.0) for i in range(20)]
    df = spark.createDataFrame(rows, ["sym", "t", "y"])
    out = with_kalman_level(
        df, "y", keys=("sym",), order_cols=("t",), q_var=1e-4, r_var=1e-2
    ).collect()
    assert all(r["kalman_level"] == 42.0 for r in out)

    rows2 = [("A", i, float(i * i % 13)) for i in range(30)]
    df2 = spark.createDataFrame(rows2, ["sym", "t", "y"])
    out2 = with_kalman_level(
        df2, "y", keys=("sym",), order_cols=("t",), q_var=1.0, r_var=1e-12
    ).collect()
    assert all(abs(r["kalman_level"] - r["y"]) < 1e-6 for r in out2)


# --- CUSUM changepoint ------------------------------------------------------
def test_cusum_changepoint_finds_planted_step(spark):
    from polygon_algotrading_env_spark.operators.indicators import (
        cusum_changepoint,
    )

    # g1: level 10 for 6 rows then level 50 for 4 → split after row 6.
    # g2: constant series → every split ties at dev 0, earliest t wins.
    rows = [("g1", i, 10 if i <= 6 else 50) for i in range(1, 11)]
    rows += [("g2", i, 7) for i in range(1, 6)]
    df = spark.createDataFrame(rows, "g string, seq long, v long")
    out = {
        r["g"]: r
        for r in cusum_changepoint(
            df, "v", keys=["g"], order_cols=["seq"]
        ).collect()
    }
    r1 = out["g1"]
    assert r1["t_star"] == 6 and r1["n"] == 10
    # S_6 = 60, S = 260 → dev = |10*60 - 6*260| = 960
    assert r1["dev"] == 960
    assert r1["mean_before"] == 10.0 and r1["mean_after"] == 50.0
    r2 = out["g2"]
    assert r2["t_star"] == 1 and r2["dev"] == 0
    assert r2["mean_before"] == 7.0 and r2["mean_after"] == 7.0


def test_cusum_changepoint_matches_brute_force(spark):
    import numpy as np

    from polygon_algotrading_env_spark.operators.indicators import (
        cusum_changepoint,
    )

    rng = np.random.RandomState(5)
    vals = [int(v) for v in rng.randint(0, 100, 40)]
    df = spark.createDataFrame(
        [("g", i, v) for i, v in enumerate(vals, 1)], "g string, seq long, v long"
    )
    r = cusum_changepoint(df, "v", keys=["g"], order_cols=["seq"]).collect()[0]
    n, s = len(vals), sum(vals)
    devs = []
    st = 0
    for t, v in enumerate(vals, 1):
        st += v
        if t < n:
            devs.append((abs(n * st - t * s), t))
    best = max(devs, key=lambda p: (p[0], -p[1]))
    assert (r["dev"], r["t_star"]) == best


def test_acf_query_matches_numpy_reference(spark):
    """acf_by_type's per-(symbol, lag) moments and rho vs a numpy
    Pearson-of-lagged-pairs reference on the real sf0.001 fixture."""
    import numpy as np
    import pandas as pd

    from polygon_algotrading_env_spark.catalog import load_table
    from polygon_algotrading_env_spark.queries.timeseries import acf_by_type

    out = acf_by_type(spark, "/root/testdata/sf0.001").toPandas()
    ev = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .select("event_type", "ts_ns", "event_id", "value")
        .toPandas()
        .sort_values(["event_type", "ts_ns", "event_id"])
    )
    ev["v"] = np.round(ev["value"] * 100).astype(np.int64)
    for (etype, k), grp in out.set_index(["event_type", "k"]).groupby(level=[0, 1]):
        series = ev[ev.event_type == etype]["v"].to_numpy()
        x, y = series[k:], series[:-k]
        row = grp.iloc[0]
        assert row["nk"] == len(x)
        assert row["sxy"] == int((x.astype(object) * y.astype(object)).sum())
        ref = np.corrcoef(x.astype(float), y.astype(float))[0, 1]
        # rho is emitted on the 6-decimal grid
        assert abs(row["rho"] - ref) < 6e-7
    assert pd.notna(out["rho"]).all()


def test_kalman_closed_form_matches_recursion(spark):
    """Warm-up grouped map (bounded keys×warmup rows) + seeded constant-
    gain closed form must equal the full sequential recursion — gains
    bit-exact, levels within float reassociation noise — across forced
    block sizes, warmups, and a group shorter than the warmup."""
    import numpy as np
    import pandas as pd

    from indicator_refs import with_kalman_level
    from polygon_algotrading_env_spark.operators.indicators import (
        kalman_gain_schedule,
        with_kalman_level_closed_form,
    )

    # the schedule converges to the DOUBLE well inside the default warmup
    g = kalman_gain_schedule(1e-4, 1e-2, 300)
    assert any(g[i] == g[i + 1] for i in range(1, 257)), "not converged"

    rng = np.random.default_rng(7)
    n = 700
    pdf = pd.DataFrame(
        {
            "k": np.repeat(["a", "b", "c"], n)[: 2 * n + 100],
            "seq": np.concatenate(
                [np.arange(n), np.arange(n), np.arange(100)]
            ),
            "x": np.round(rng.uniform(50, 200, 2 * n + 100), 2),
        }
    )
    df = spark.createDataFrame(pdf)
    ref = {
        (r["k"], r["seq"]): (r["kalman_level"], r["kalman_gain"])
        for r in with_kalman_level(df, "x", ["k"], ["seq"]).collect()
    }
    for warmup, block in [(256, 512), (256, 16), (300, 32)]:
        got = {
            (r["k"], r["seq"]): (r["kalman_level"], r["kalman_gain"])
            for r in with_kalman_level_closed_form(
                df, "x", ["k"], ["seq"], warmup=warmup, block=block
            ).collect()
        }
        assert set(got) == set(ref)
        assert max(abs(got[k][0] - ref[k][0]) for k in ref) < 1e-9
        assert all(got[k][1] == ref[k][1] for k in ref)  # gains bit-exact


def test_kalman_closed_form_python_is_bounded(spark):
    """Python must never see the data-sized steady tail: the warm-up
    grouped map lives behind the bounded localCheckpoint pin (surfacing
    as a LogicalRDD, keys×warmup rows), so the final plan carries NO
    FlatMapGroupsInPandas at all, and the steady branch is filtered to
    positions past the warm-up bound."""
    from polygon_algotrading_env_spark.queries import REGISTRY

    out = REGISTRY["kalman_level_5m"].fn(spark, "/root/testdata/sf0.001")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("FlatMapGroupsInPandas") == 0, plan[:400]
    assert "> 256" in plan, "steady-tail warm-up bound missing"
    assert "LogicalRDD" in plan, "pinned warm-up relation missing"


def test_kalman_closed_form_rejects_unconverged_schedule(spark):
    """q << r slows the Riccati contraction to ~1-2*sqrt(q/r) per step;
    a constant-K* tail before double-convergence would silently drift
    from the true filter, so the operator must refuse it loudly."""
    import pandas as pd

    from polygon_algotrading_env_spark.operators.indicators import (
        with_kalman_level_closed_form,
    )

    df = spark.createDataFrame(
        pd.DataFrame({"k": ["a"] * 10, "seq": range(10), "x": [1.0] * 10})
    )
    with pytest.raises(ValueError, match="not converged"):
        with_kalman_level_closed_form(
            df, "x", ["k"], ["seq"], q_var=1e-9, r_var=1e-2, warmup=64
        )
