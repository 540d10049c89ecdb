"""Time-series gold layer: OHLCV bar aggregation + resample ladder
(SURVEY.md §2.4 A7, §2.6 W3) — the computation the reference delegates to
Polygon's aggregates API and we own natively.

``events`` stands in for the tick stream (FIXTURES.md role mapping):
``value`` is the traded price, one row per trade, ``event_type`` the symbol.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from polygon_algotrading_env_spark.catalog import load_table
from polygon_algotrading_env_spark.operators.bars import ohlcv_bars, resample_bars
from polygon_algotrading_env_spark.queries import register

_BAR_ORACLE = """
    SELECT event_type,
           time_bucket(INTERVAL '{minutes} minutes', CAST(ts AS TIMESTAMP))
             AS bucket_start,
           arg_min(value, ts)        AS open,
           max(value)                AS high,
           min(value)                AS low,
           arg_max(value, ts)        AS close,
           round(sum(value), 4)      AS volume,
           count(*)                  AS n_trades
    FROM events
    GROUP BY event_type, bucket_start
"""


def _event_bars(spark, sf_dir, duration: str):
    """Per-symbol OHLCV bars of the event ticks, volume unrounded: the one
    bar relation every bar query of this module starts from."""
    # `value` plays both price and size in the fixture mapping, so
    # volume = Σ value per bucket.
    return ohlcv_bars(
        load_table(spark, sf_dir, "events"),
        ts_col="ts",
        price_col="value",
        duration=duration,
        keys=("event_type",),
        volume_col="value",
        order_col="ts_ns",
    )


def _bars(spark, sf_dir, duration: str):
    # 2-decimal inputs → round-4 volume is tie-free.
    return _event_bars(spark, sf_dir, duration).select(
        "event_type",
        "bucket_start",
        "open",
        "high",
        "low",
        "close",
        F.round("volume", 4).alias("volume"),
        "n_trades",
    )


@register("ohlcv_bars_5m", headline=True, oracle=_BAR_ORACLE.format(minutes=5))
def ohlcv_bars_5m(spark, sf_dir):
    """Flagship: the reference's entire aggregates pipeline
    (scan → dedup → 5-minute OHLCV per symbol — aggregates_etl.py:107-167 +
    the API-side bar aggregation) as one declarative plan."""
    return _bars(spark, sf_dir, "5 minutes")


@register("ohlcv_bars_1h_resampled", headline=True, oracle=_BAR_ORACLE.format(minutes=60))
def ohlcv_bars_1h_resampled(spark, sf_dir):
    """Resample ladder (old_source_op.py:18's 1m→…→1d period list): 1-hour
    bars built FROM the 5-minute bars, not from raw ticks — the oracle
    aggregates raw ticks directly, so a hash match proves the ladder's
    re-aggregation consistency."""
    five = _event_bars(spark, sf_dir, "5 minutes")
    hourly = resample_bars(five, "1 hour", keys=("event_type",))
    return hourly.select(
        "event_type",
        "bucket_start",
        "open",
        "high",
        "low",
        "close",
        F.round("volume", 4).alias("volume"),
        "n_trades",
    )


# 5-minute close bars per symbol: the bar relation of the close-only
# oracles.
_CLOSE_BARS_5M_CTE = """
    WITH bars AS (
      SELECT event_type,
             time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP))
               AS bucket_start,
             arg_max(value, ts) AS close
      FROM events GROUP BY event_type, bucket_start
    )
"""

# SMA(5)/SMA(20) crossover signal and next-bar position over the close bars
# (operators/backtest.sma_crossover_backtest).
_SMA_CROSS_CTE = _CLOSE_BARS_5M_CTE + """,
    w AS (
      SELECT event_type, bucket_start, close,
             round(sum(close) OVER f5, 4)  / count(*) OVER f5  AS sma_fast,
             round(sum(close) OVER f20, 4) / count(*) OVER f20 AS sma_slow,
             lag(close) OVER o AS prev_close
      FROM bars
      WINDOW o  AS (PARTITION BY event_type ORDER BY bucket_start),
             f5 AS (PARTITION BY event_type ORDER BY bucket_start
                    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
             f20 AS (PARTITION BY event_type ORDER BY bucket_start
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ),
    s AS (
      SELECT *, CASE WHEN sma_fast > sma_slow THEN 1 ELSE 0 END AS signal
      FROM w
    ),
    p AS (
      SELECT *,
             coalesce(lag(signal) OVER (PARTITION BY event_type
                                        ORDER BY bucket_start), 0) AS position
      FROM s
    )
"""


@register(
    "sma_crossover_backtest_5m",
    headline=True,
    oracle=_SMA_CROSS_CTE + """
    SELECT event_type, bucket_start, close, sma_fast, sma_slow,
           CAST(signal AS INT) AS signal,
           CAST(position AS INT) AS position,
           CASE WHEN prev_close IS NULL OR prev_close = 0 THEN 0.0
                ELSE close / prev_close - 1 END AS bar_return,
           position * (CASE WHEN prev_close IS NULL OR prev_close = 0 THEN 0.0
                            ELSE close / prev_close - 1 END) AS pnl
    FROM p
    """,
)
def sma_crossover_backtest_5m(spark, sf_dir):
    """North-star backtest path: 5-min bars → SMA(5)/SMA(20) crossover →
    next-bar position → per-bar P&L, all window expressions (see
    operators/backtest.py for the float + lookahead discipline)."""
    from polygon_algotrading_env_spark.operators.backtest import (
        sma_crossover_backtest,
    )

    bars = _event_bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "close"
    )
    return sma_crossover_backtest(bars)


@register(
    "bollinger_20_5m",
    oracle=_CLOSE_BARS_5M_CTE + """
    SELECT event_type, bucket_start, close,
           round(avg(close) OVER f, 6)  AS bb_mid,
           round(avg(close) OVER f + 2 * stddev_samp(close) OVER f, 6)
             AS bb_upper,
           round(avg(close) OVER f - 2 * stddev_samp(close) OVER f, 6)
             AS bb_lower
    FROM bars
    WINDOW f AS (PARTITION BY event_type ORDER BY bucket_start
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    """,
)
def bollinger_20_5m(spark, sf_dir):
    """Bollinger bands (SMA20 ± 2σ) over 5-minute bar closes — the W4
    mean-reversion indicator via operators/indicators.with_bollinger.
    Round-6: both engines evaluate the ≤20-row frame sequentially
    (~1e-13 reorder noise); σ is irrational so the bands are never ON the
    rounding grid, and the mid's exact value (a ≤20-denominator rational
    of 2-decimal closes) sits ≥4e-8 from any half-boundary."""
    from polygon_algotrading_env_spark.operators.indicators import with_bollinger

    bars = _event_bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "close"
    )
    bb = with_bollinger(
        bars, "close", 20, 2.0, keys=["event_type"], order_cols=["bucket_start"]
    )
    return bb.select(
        "event_type",
        "bucket_start",
        "close",
        F.round("bb_mid", 6).alias("bb_mid"),
        F.round("bb_upper", 6).alias("bb_upper"),
        F.round("bb_lower", 6).alias("bb_lower"),
    )


@register(
    "return_correlation_pairs",
    oracle=_CLOSE_BARS_5M_CTE + """,
    rets AS (
      SELECT event_type, bucket_start,
             close / nullif(lag(close) OVER (PARTITION BY event_type
                                      ORDER BY bucket_start), 0) - 1 AS ret
      FROM bars
    )
    SELECT a.event_type AS sym_a, b.event_type AS sym_b,
           CAST(count(*) AS BIGINT)           AS n_buckets,
           round(corr(a.ret, b.ret), 6)       AS ret_corr,
           round(regr_slope(a.ret, b.ret), 6) AS beta_a_on_b
    FROM rets a
    JOIN rets b ON a.bucket_start = b.bucket_start
               AND a.event_type < b.event_type
    WHERE a.ret IS NOT NULL AND b.ret IS NOT NULL
    GROUP BY a.event_type, b.event_type
    """,
)
def return_correlation_pairs(spark, sf_dir):
    """Cross-symbol portfolio analytics: pairwise Pearson correlation and
    OLS beta of 5-minute bar returns, aligned on bucket (inner join on
    bucket_start — a symbol-pair × time equi-join, shuffle bounded by
    bars not ticks). corr/regr_slope are order-insensitive moment
    aggregates on both engines; returns are irrational ratios so round-6
    never lands on a grid tie."""
    bars = _event_bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "close"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("bucket_start")
    rets = bars.select(
        "event_type",
        "bucket_start",
        (F.col("close") / F.nullif(F.lag("close").over(w), F.lit(0.0)) - 1).alias("ret"),
    ).filter(F.col("ret").isNotNull())
    a = rets.select(
        F.col("event_type").alias("sym_a"),
        "bucket_start",
        F.col("ret").alias("ret_a"),
    )
    b = rets.select(
        F.col("event_type").alias("sym_b"),
        "bucket_start",
        F.col("ret").alias("ret_b"),
    )
    return (
        a.join(b, "bucket_start")
        .filter(F.col("sym_a") < F.col("sym_b"))
        .groupBy("sym_a", "sym_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.round(F.corr("ret_a", "ret_b"), 6).alias("ret_corr"),
            F.round(F.expr("regr_slope(ret_a, ret_b)"), 6).alias(
                "beta_a_on_b"
            ),
        )
    )


_BT_CTE = _SMA_CROSS_CTE + """,
    bt AS (
      SELECT event_type, bucket_start, close, position,
             position * (CASE WHEN prev_close IS NULL OR prev_close = 0
                              THEN 0.0 ELSE close / prev_close - 1 END) AS pnl
      FROM p
    )
"""


@register(
    "trades_from_crossover_5m",
    oracle=_BT_CTE + """
    , chg AS (
      SELECT *,
             CASE WHEN position != coalesce(
                    lag(position) OVER (PARTITION BY event_type
                                        ORDER BY bucket_start), 0)
                  THEN 1 ELSE 0 END AS changed
      FROM bt
    ),
    isl AS (
      SELECT *,
             sum(changed) OVER (PARTITION BY event_type ORDER BY bucket_start
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island
      FROM chg
    )
    SELECT event_type,
           min(bucket_start)            AS entry_ts,
           max(bucket_start)            AS exit_ts,
           count(*)                     AS n_bars,
           arg_min(close, bucket_start) AS entry_price,
           arg_max(close, bucket_start) AS exit_price,
           arg_max(close, bucket_start) / arg_min(close, bucket_start) - 1
                                        AS trade_return
    FROM isl WHERE position = 1
    GROUP BY event_type, island
    """,
)
def trades_from_crossover_5m(spark, sf_dir):
    """Backtest stage 2: collapse position runs into round-trip trades
    (gaps-and-islands), with entry/exit price and per-trade return."""
    from polygon_algotrading_env_spark.operators.backtest import (
        extract_trades,
        sma_crossover_backtest,
    )

    bars = _event_bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "close"
    )
    return extract_trades(sma_crossover_backtest(bars))


@register(
    "equity_curve_5m",
    oracle=_BT_CTE + """
    , eq AS (
      SELECT event_type, bucket_start, pnl,
             sum(pnl) OVER (PARTITION BY event_type ORDER BY bucket_start
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_pnl
      FROM bt
    )
    SELECT event_type, bucket_start, pnl,
           round(cum_pnl, 6) AS cum_pnl,
           round(max(cum_pnl) OVER (PARTITION BY event_type ORDER BY bucket_start
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - cum_pnl, 6) AS drawdown
    FROM eq
    """,
)
def equity_curve_5m(spark, sf_dir):
    """Backtest stage 3: running P&L + drawdown, rounded to 6 decimals:
    engines accumulate window sums in different orders (DuckDB's segment
    tree vs Spark's running buffer), leaving ~1e-13 ulp noise — far below
    the round-6 grid, and ratio-valued data is never ON the grid, so the
    rounding is tie-free."""
    from polygon_algotrading_env_spark.operators.backtest import (
        equity_curve,
        sma_crossover_backtest,
    )

    bars = _event_bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "close"
    )
    eq = equity_curve(sma_crossover_backtest(bars))
    return eq.select(
        "event_type", "bucket_start", "pnl",
        F.round("cum_pnl", 6).alias("cum_pnl"),
        F.round("drawdown", 6).alias("drawdown"),
    )


# The derived corporate-actions dim and the 5-minute OHLC bars both
# adjusted-candle oracles start from; each adds its own `fac` CTE.
_ADJ_CTE = """
    WITH ms AS (
      SELECT event_type, epoch_ns(ts) // 1000000 AS ms FROM events
    ),
    rng AS (
      SELECT event_type, min(ms) AS lo, max(ms) AS hi FROM ms
      GROUP BY event_type
    ),
    actions AS (
      SELECT event_type, epoch_ms(lo + (hi - lo) // 3) AS ex_ts,
             0.5 AS factor
      FROM rng
      UNION ALL
      SELECT event_type, epoch_ms(lo + ((hi - lo) * 2) // 3) AS ex_ts,
             0.8 AS factor
      FROM rng
    ),
    bars AS (
      SELECT event_type,
             time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP))
               AS bucket_start,
             arg_min(value, ts) AS open,
             max(value)         AS high,
             min(value)         AS low,
             arg_max(value, ts) AS close
      FROM events GROUP BY event_type, bucket_start
    )
"""


def _adjusted_candles(spark, sf_dir, adjust, factor_col: str):
    """5-minute OHLC bars adjusted by ``adjust`` (an operators/adjust
    function) against the corporate-actions dim derived from the fixture,
    as adjusted_candles_5m describes."""
    ev = load_table(spark, sf_dir, "events")
    ms = F.expr("ts_ns DIV 1000000")
    epoch = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
    rng = ev.groupBy("event_type").agg(
        F.min(ms).alias("lo"), F.max(ms).alias("hi")
    )
    actions = rng.select(
        "event_type",
        F.explode(
            F.array(
                F.struct(
                    F.expr("lo + (hi - lo) DIV 3").alias("ex_ms"),
                    F.lit(0.5).alias("factor"),
                ),
                F.struct(
                    F.expr("lo + ((hi - lo) * 2) DIV 3").alias("ex_ms"),
                    F.lit(0.8).alias("factor"),
                ),
            )
        ).alias("a"),
    ).select(
        "event_type",
        F.expr(f"timestampadd(MILLISECOND, a.ex_ms, {epoch})").alias("ex_ts"),
        F.col("a.factor").alias("factor"),
    )
    bars = _event_bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "open", "high", "low", "close"
    )
    adj = adjust(
        bars,
        actions,
        key="event_type",
        ts_col="bucket_start",
        ex_date_col="ex_ts",
        factor_col="factor",
        price_cols=("open", "high", "low", "close"),
    )
    return adj.select(
        "event_type",
        "bucket_start",
        F.round("open", 6).alias("open"),
        F.round("high", 6).alias("high"),
        F.round("low", 6).alias("low"),
        F.round("close", 6).alias("close"),
        "close_raw",
        F.round(factor_col, 6).alias(factor_col),
    )


@register(
    "adjusted_candles_5m",
    headline=True,
    oracle=_ADJ_CTE + """
    , fac AS (
      SELECT b.event_type, b.bucket_start,
             coalesce(exp(sum(ln(a.factor))), 1.0) AS adj_factor
      FROM bars b
      LEFT JOIN actions a
        ON a.event_type = b.event_type AND a.ex_ts > b.bucket_start
      GROUP BY b.event_type, b.bucket_start
    )
    SELECT b.event_type, b.bucket_start,
           round(b.open  * f.adj_factor, 6) AS open,
           round(b.high  * f.adj_factor, 6) AS high,
           round(b.low   * f.adj_factor, 6) AS low,
           round(b.close * f.adj_factor, 6) AS close,
           b.close AS close_raw,
           round(f.adj_factor, 6) AS adj_factor
    FROM bars b
    JOIN fac f ON f.event_type = b.event_type
              AND f.bucket_start = b.bucket_start
    """,
)
def adjusted_candles_5m(spark, sf_dir):
    """End-to-end ``adjusted=true`` gold query (SURVEY §2.5 J3): the one
    computation the reference delegates wholesale to Polygon's server
    (``polygon-etl-container/src/main.py:43-44`` requests both adjusted and
    raw runs), composed here as a single certified plan: raw ticks → 5-min
    OHLCV bars → suffix-product of corporate-action factors (desc window
    over the dim) → strict-forward as-of join → adjusted O/H/L/C.

    The corporate-actions dim is derived deterministically from the fixture
    (per symbol: a 2-for-1 split at 1/3 of its time range, a 0.8 dividend
    factor at 2/3 — exact integer-millis arithmetic on both engines), so the
    oracle can recreate it exactly; the oracle computes each bar's factor by
    direct product over later actions, proving the operator's window+asof
    suffix-product path against first-principles semantics. Round-6 is
    tie-free: exact products of 2-decimal prices with {0.5, 0.8, 0.4}
    factors sit ON the grid, ≥5e-7 from any half-boundary, vs ~1e-14
    exp/ln cross-engine noise."""
    from polygon_algotrading_env_spark.operators.adjust import adjust_prices

    return _adjusted_candles(spark, sf_dir, adjust_prices, "adj_factor")


@register(
    "adjusted_candles_firstday_5m",
    oracle=_ADJ_CTE + """
    , fac AS (
      SELECT b.event_type, b.bucket_start,
             coalesce(exp(sum(ln(a.factor))), 1.0) AS a_prefix
      FROM bars b
      LEFT JOIN actions a
        ON a.event_type = b.event_type AND a.ex_ts <= b.bucket_start
      GROUP BY b.event_type, b.bucket_start
    )
    SELECT b.event_type, b.bucket_start,
           round(b.open  / f.a_prefix, 6) AS open,
           round(b.high  / f.a_prefix, 6) AS high,
           round(b.low   / f.a_prefix, 6) AS low,
           round(b.close / f.a_prefix, 6) AS close,
           b.close AS close_raw,
           round(f.a_prefix, 6) AS a_prefix
    FROM bars b
    JOIN fac f ON f.event_type = b.event_type
              AND f.bucket_start = b.bucket_start
    """,
)
def adjusted_candles_firstday_5m(spark, sf_dir):
    """The CAUSAL form of the adjusted-candle gold path: prices on the
    FIRST-DAY basis — each bar divided by A(t), the prefix product of
    action factors with ex_date at-or-before the bar — instead of the
    forward-looking suffix product `adjusted_candles_5m` certifies.
    A(t) is what a live stream can actually maintain (no future
    knowledge), and the two bases differ by one per-symbol scalar:
    adjusted == firstday * product(ALL factors). The streaming twin
    (streaming/statev2.stream_adjusted_candles) emits exactly this
    basis; certifying it batch-side ties the stream's semantics to a
    cross-engine hash-matched plan. Same derived corporate-actions dim
    and rounding argument as adjusted_candles_5m; the oracle computes
    A(t) by direct product over at-or-before actions, proving the
    ascending-window prefix + backward as-of join against
    first-principles semantics."""
    from polygon_algotrading_env_spark.operators.adjust import (
        adjust_prices_firstday,
    )

    return _adjusted_candles(
        spark, sf_dir, adjust_prices_firstday, "a_prefix"
    )


@register(
    "strategy_summary_5m",
    oracle=_BT_CTE + """
    , eq AS (
      SELECT event_type, bucket_start, pnl,
             sum(pnl) OVER (PARTITION BY event_type ORDER BY bucket_start
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_pnl
      FROM bt
    ),
    dd AS (
      SELECT event_type, bucket_start, cum_pnl,
             max(cum_pnl) OVER (PARTITION BY event_type ORDER BY bucket_start
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - cum_pnl AS drawdown
      FROM eq
    )
    SELECT event_type,
           count(*) AS n_bars,
           round(arg_max(cum_pnl, bucket_start), 6) AS final_equity,
           round(max(drawdown), 6) AS max_drawdown
    FROM dd GROUP BY event_type
    """,
)
def strategy_summary_5m(spark, sf_dir):
    """Backtest scorecard per symbol: bars traded, final equity, max
    drawdown. Reduces the (verified) equity curve with order-insensitive
    aggregates only — argmax/max never re-accumulate floats, so the
    round-6 policy from equity_curve_5m carries through unchanged."""
    from polygon_algotrading_env_spark.operators.backtest import (
        equity_curve,
        sma_crossover_backtest,
    )

    bars = _event_bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "close"
    )
    eq = equity_curve(sma_crossover_backtest(bars))
    return eq.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_bars"),
        F.round(F.max_by("cum_pnl", "bucket_start"), 6).alias("final_equity"),
        F.round(F.max("drawdown"), 6).alias("max_drawdown"),
    )


@register(
    "gap_filled_bars_30m",
    oracle="""
    WITH bars AS (
      SELECT event_type,
             time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
               AS bucket_start,
             arg_max(value, ts) AS close,
             sum(value)         AS volume,
             count(*)           AS n
      FROM events GROUP BY 1, 2
    ),
    rng AS (
      SELECT event_type, min(bucket_start) AS lo, max(bucket_start) AS hi
      FROM bars GROUP BY 1
    ),
    grid AS (
      SELECT r.event_type,
             unnest(generate_series(r.lo, r.hi, INTERVAL '30 minutes'))
               AS bucket_start
      FROM rng r
    ),
    j AS (
      SELECT g.event_type, g.bucket_start, b.close, b.volume, b.n
      FROM grid g LEFT JOIN bars b
        ON g.event_type = b.event_type AND g.bucket_start = b.bucket_start
    )
    SELECT event_type, bucket_start,
           round(last_value(close IGNORE NULLS)
                 OVER (PARTITION BY event_type ORDER BY bucket_start
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
             AS close,
           coalesce(volume, 0.0)              AS volume,
           CAST(coalesce(n, 0) AS BIGINT)     AS n_trades,
           close IS NULL                      AS filled
    FROM j
    """,
)
def gap_filled_bars_30m(spark, sf_dir):
    """Densified 30-minute bar grid per symbol: missing buckets become
    synthetic zero-volume bars carrying the LOCF close (`filled`=true) —
    the regular grid every indicator/resample assumes, which raw
    thin-symbol series don't provide. Grid rows come from sequence()
    over per-key (min,max) — proportional to the time range, never to
    tick count — and one LOCF window fills closes
    (operators/bars.py: fill_bar_gaps)."""
    from polygon_algotrading_env_spark.operators.bars import fill_bar_gaps

    bars = _event_bars(spark, sf_dir, "30 minutes").select(
        "event_type", "bucket_start", "close", "volume", "n_trades"
    )
    dense = fill_bar_gaps(bars, "30 minutes", keys=("event_type",))
    return dense.select(
        "event_type",
        "bucket_start",
        F.round("close", 6).alias("close"),
        "volume",
        F.col("n_trades").cast("bigint").alias("n_trades"),
        "filled",
    )


_HLC_BARS_CTE = """
    WITH bars AS (
      SELECT event_type,
             time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP))
               AS bucket_start,
             max(value)         AS high,
             min(value)         AS low,
             arg_max(value, ts) AS close
      FROM events GROUP BY event_type, bucket_start
    )
"""


@register(
    "atr_14_5m",
    oracle=_HLC_BARS_CTE + """
    , tr AS (
      SELECT event_type, bucket_start,
             CASE WHEN lag(close) OVER w IS NULL THEN high - low
                  ELSE greatest(high - low,
                                abs(high - lag(close) OVER w),
                                abs(low  - lag(close) OVER w)) END AS t
      FROM bars
      WINDOW w AS (PARTITION BY event_type ORDER BY bucket_start)
    )
    SELECT event_type, bucket_start,
           round(t, 6) AS true_range,
           round(avg(t) OVER (PARTITION BY event_type ORDER BY bucket_start
                              ROWS BETWEEN 13 PRECEDING AND CURRENT ROW), 6)
             AS atr_14
    FROM tr
    """,
)
def atr_14_5m(spark, sf_dir):
    """Average True Range over 5-minute bars (W4): the gap-aware range
    volatility behind stop sizing — TR folds the close-to-open gap into
    the bar range via prev-close, ATR is the trailing-14 mean
    (operators/indicators.with_atr, pure window expressions). Round-6:
    the ≤14-term mean of exact 2-decimal differences carries only ~1e-14
    reorder noise, far off the grid."""
    from polygon_algotrading_env_spark.operators.indicators import with_atr

    bars = _bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "high", "low", "close"
    )
    out = with_atr(
        bars, 14, keys=["event_type"], order_cols=["bucket_start"]
    )
    return out.select(
        "event_type",
        "bucket_start",
        F.round("true_range", 6).alias("true_range"),
        F.round("atr_14", 6).alias("atr_14"),
    )


@register(
    "donchian_20_5m",
    oracle=_HLC_BARS_CTE + """
    SELECT event_type, bucket_start, close,
           max(high) OVER f                       AS dc_upper,
           min(low)  OVER f                       AS dc_lower,
           (max(high) OVER f + min(low) OVER f) / 2 AS dc_mid
    FROM bars
    WINDOW f AS (PARTITION BY event_type ORDER BY bucket_start
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    """,
)
def donchian_20_5m(spark, sf_dir):
    """Donchian 20-bar breakout channel over 5-minute bars (W4). min/max
    copy exact input doubles and the midpoint halves their exact sum, so
    the whole result is reproduced bit-identically by both engines — no
    rounding anywhere (operators/indicators.with_donchian)."""
    from polygon_algotrading_env_spark.operators.indicators import with_donchian

    bars = _bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "high", "low", "close"
    )
    out = with_donchian(
        bars, 20, keys=["event_type"], order_cols=["bucket_start"]
    )
    return out.select(
        "event_type", "bucket_start", "close", "dc_upper", "dc_lower", "dc_mid"
    )


@register(
    "realized_vol_12bar_5m",
    oracle=_HLC_BARS_CTE + """
    , lr AS (
      SELECT event_type, bucket_start,
             ln(nullif(close, 0)
                / nullif(lag(close) OVER (PARTITION BY event_type
                                          ORDER BY bucket_start), 0)) AS r
      FROM bars
    )
    SELECT event_type, bucket_start,
           round(stddev_samp(r) OVER (PARTITION BY event_type
                                      ORDER BY bucket_start
                                      ROWS BETWEEN 11 PRECEDING AND CURRENT ROW),
                 6) AS rvol_12
    FROM lr
    """,
)
def realized_vol_12bar_5m(spark, sf_dir):
    """Realized volatility: sample stddev of the trailing 12 log bar
    returns per symbol (W4) — the risk input to position sizing,
    composed from with_returns(log) + a rolling stddev frame
    (operators/indicators.with_realized_vol). Round-6 over an
    irrational-valued statistic is tie-free; the ≤12-term frame is
    evaluated sequentially by both engines (~1e-15 noise)."""
    from polygon_algotrading_env_spark.operators.indicators import (
        with_realized_vol,
    )

    bars = _bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "close"
    )
    out = with_realized_vol(
        bars, "close", 12, keys=["event_type"], order_cols=["bucket_start"]
    )
    return out.select(
        "event_type", "bucket_start", F.round("rvol_12", 6).alias("rvol_12")
    )


@register(
    "stochastic_14_3_5m",
    oracle=_HLC_BARS_CTE + """
    , k AS (
      SELECT event_type, bucket_start,
             CASE WHEN max(high) OVER f = min(low) OVER f THEN NULL
                  ELSE 100.0 * (close - min(low) OVER f)
                       / (max(high) OVER f - min(low) OVER f) END AS kv
      FROM bars
      WINDOW f AS (PARTITION BY event_type ORDER BY bucket_start
                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, bucket_start,
           round(kv, 6) AS stoch_k,
           round(avg(kv) OVER (PARTITION BY event_type ORDER BY bucket_start
                               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6)
             AS stoch_d
    FROM k
    """,
)
def stochastic_14_3_5m(spark, sf_dir):
    """Stochastic oscillator %K(14)/%D(3) over 5-minute bars (W4): where
    the close sits inside the trailing 14-bar range, smoothed over 3 bars
    (operators/indicators.with_stochastic). Flat ranges yield NULL, not a
    division blow-up. Round-6 on a ratio-valued statistic is tie-free."""
    from polygon_algotrading_env_spark.operators.indicators import (
        with_stochastic,
    )

    bars = _bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "high", "low", "close"
    )
    out = with_stochastic(
        bars, 14, 3, keys=["event_type"], order_cols=["bucket_start"]
    )
    return out.select(
        "event_type",
        "bucket_start",
        F.round("stoch_k_14", 6).alias("stoch_k"),
        F.round("stoch_d_14_3", 6).alias("stoch_d"),
    )


@register(
    "obv_5m",
    oracle="""
    WITH bars AS (
      SELECT event_type,
             time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP))
               AS bucket_start,
             arg_max(value, ts)   AS close,
             round(sum(value), 4) AS volume
      FROM events GROUP BY event_type, bucket_start
    ),
    sv AS (
      SELECT event_type, bucket_start,
             coalesce(sign(close - lag(close) OVER w), 0) * volume AS s
      FROM bars
      WINDOW w AS (PARTITION BY event_type ORDER BY bucket_start)
    )
    SELECT event_type, bucket_start,
           round(sum(s) OVER (PARTITION BY event_type ORDER BY bucket_start
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 4) AS obv
    FROM sv
    """,
)
def obv_5m(spark, sf_dir):
    """On-balance volume per symbol (W4): cumulative volume signed by the
    close direction — the classic volume-flow confirmation indicator
    (operators/indicators.with_obv: lag + cumsum share one per-symbol
    shuffle). Round-4 = the volume column's own grid; the running sum of
    4-decimal values carries ~1e-10 reorder noise."""
    from polygon_algotrading_env_spark.operators.indicators import with_obv

    bars = _bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "close", "volume"
    )
    out = with_obv(bars, keys=["event_type"], order_cols=["bucket_start"])
    return out.select(
        "event_type", "bucket_start", F.round("obv", 4).alias("obv")
    )


def _macd_oracle() -> str:
    from polygon_algotrading_env_spark.queries._ema_sql import ema_pass_ctes

    c12, s12 = ema_pass_ctes(
        "f", "d", keys=["event_type"], ord_col="bucket_start",
        val="close", span=12, out="__f",
    )
    c26, s26 = ema_pass_ctes(
        "s", s12, keys=["event_type"], ord_col="bucket_start",
        val="close", span=26, out="__s",
    )
    c9, s9 = ema_pass_ctes(
        "sig", s26, keys=["event_type"], ord_col="bucket_start",
        val="__f - __s", span=9, out="__sig",
    )
    return _CLOSE_BARS_5M_CTE + f""",
    d AS (
      SELECT event_type, bucket_start, close,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY bucket_start) - 1 AS __t
      FROM bars
    ),{c12},{c26},{c9}
    SELECT event_type, bucket_start,
           round(__f - __s, 6)           AS macd,
           round(__sig, 6)               AS macd_signal,
           round((__f - __s) - __sig, 6) AS macd_hist
    FROM {s9}
    """


@register("macd_12_26_9_5m", oracle=_macd_oracle())
def macd_12_26_9_5m(spark, sf_dir):
    """MACD(12,26,9) over 5-minute bar closes — the EMA-family trend
    indicator, oracle-bearing since round 8 and, since round 11, PURE
    JVM window algebra: with_macd_closed_form fuses all three EMA
    recursions onto one zoned scaffold (one numbering + one data-sized
    exchange — NOT the three-pass chaining whose measured ~6× regression
    kept the Arrow grouped map alive through round 10), removing the
    last applyInPandas recursion from the certified indicator
    headliners. The DuckDB oracle chains three passes of the same
    closed form (``queries/_ema_sql.py`` — pow-normalized block prefix
    sums, signal = pass over pass1−pass2), so the hash match certifies
    the blocked closed form cross-engine; equivalence to the pandas
    sequential recursion (``with_macd`` in tests/indicator_refs.py) is
    pinned deterministically in tests/test_indicators.py across spans and
    forced-small blocks."""
    from polygon_algotrading_env_spark.operators.indicators import (
        with_macd_closed_form,
    )

    bars = _bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "close"
    )
    from polygon_algotrading_env_spark.operators.zonedroll import zoning_mode

    out = with_macd_closed_form(
        bars, "close", keys=["event_type"], order_cols=["bucket_start"],
        mode=zoning_mode(sf_dir),
    )
    return out.select(
        "event_type",
        "bucket_start",
        F.round("macd", 6).alias("macd"),
        F.round("macd_signal", 6).alias("macd_signal"),
        F.round("macd_hist", 6).alias("macd_hist"),
    )


@register(
    "interpolated_bars_30m",
    oracle="""
    WITH bars AS (
      SELECT event_type,
             time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
               AS bucket_start,
             arg_max(value, ts) AS close
      FROM events GROUP BY 1, 2
    ),
    rng AS (
      SELECT event_type, min(bucket_start) AS lo, max(bucket_start) AS hi
      FROM bars GROUP BY 1
    ),
    grid AS (
      SELECT event_type,
             unnest(generate_series(lo, hi, INTERVAL '30 minutes'))
               AS bucket_start
      FROM rng
    ),
    j AS (
      SELECT g.event_type, g.bucket_start, b.close
      FROM grid g LEFT JOIN bars b USING (event_type, bucket_start)
    ),
    w AS (
      SELECT event_type, bucket_start, close,
             last_value(close IGNORE NULLS) OVER wp AS pv,
             last_value(CASE WHEN close IS NOT NULL THEN bucket_start END
                        IGNORE NULLS) OVER wp AS pt,
             first_value(close IGNORE NULLS) OVER wf AS nv,
             first_value(CASE WHEN close IS NOT NULL THEN bucket_start END
                         IGNORE NULLS) OVER wf AS nt
      FROM j
      WINDOW wp AS (PARTITION BY event_type ORDER BY bucket_start
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY event_type ORDER BY bucket_start
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, bucket_start,
           CASE WHEN close IS NOT NULL THEN close
                ELSE pv + (nv - pv) * ((epoch(bucket_start) - epoch(pt))
                                       / (epoch(nt) - epoch(pt))) END
                               AS close,
           close IS NULL       AS filled
    FROM w
    """,
)
def interpolated_bars_30m(spark, sf_dir):
    """Densified 30-minute grid with TIME-LINEAR interpolation across
    gaps (``fill_bar_gaps(method='interpolate')``) — the imputation
    convention for ML feature pipelines, next to the LOCF market
    convention certified by ``gap_filled_bars_30m``. Weighting is by
    time, not row position, so runs of consecutive missing buckets ramp
    correctly; interior-only gaps mean both neighbors always exist. The
    result ships UNROUNDED: with the oracle parenthesized to Spark's
    evaluation order — prev + delta * (ratio), ratio an exact integer
    quotient — every interpolated double is bit-identical across
    engines, and long dyadic-weight gaps land exactly ON round-6 half
    boundaries where the engines' rounding mechanics (BigDecimal
    expansion vs scaled rint) would otherwise flip the last digit."""
    from polygon_algotrading_env_spark.operators.bars import fill_bar_gaps

    bars = _event_bars(spark, sf_dir, "30 minutes").select(
        "event_type", "bucket_start", "close"
    )
    dense = fill_bar_gaps(
        bars, "30 minutes", keys=("event_type",), method="interpolate"
    )
    return dense.select("event_type", "bucket_start", "close", "filled")


@register(
    "rolling_zscore_anomalies_5m",
    oracle=_HLC_BARS_CTE + """
    , z AS (
      SELECT event_type, bucket_start, close,
             (close - avg(close) OVER f) / stddev_samp(close) OVER f AS zv
      FROM bars
      WINDOW f AS (PARTITION BY event_type ORDER BY bucket_start
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, bucket_start, close, round(zv, 6) AS zscore
    FROM z WHERE abs(zv) > 2.5
    """,
)
def rolling_zscore_anomalies_5m(spark, sf_dir):
    """Rolling anomaly detection: bars whose close sits more than 2.5
    sample standard deviations from the trailing 20-bar mean — the
    streaming-friendly outlier flag (one window shuffle per symbol; the
    batch companion to robust_outliers_per_flag's global MAD gate).
    try_divide tolerates flat windows (zero σ → NULL z → never flagged).
    Round-6 on an irrational ratio is tie-free; the 2.5 threshold sits
    far from the ~1e-13 reorder noise of a ≤20-term frame."""
    from polygon_algotrading_env_spark.operators.indicators import (
        with_rolling_stddev,
        with_sma,
    )

    bars = _bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "close"
    )
    d = with_sma(bars, "close", 20, ["event_type"], ["bucket_start"], out="__mu")
    d = with_rolling_stddev(
        d, "close", 20, ["event_type"], ["bucket_start"], out="__sd"
    )
    z = F.try_divide(F.col("close") - F.col("__mu"), F.col("__sd"))
    return (
        d.withColumn("__z", z)
        .where(F.abs("__z") > 2.5)
        .select(
            "event_type",
            "bucket_start",
            "close",
            F.round("__z", 6).alias("zscore"),
        )
    )


@register(
    "multigrain_bars_rollup",
    oracle="""
    WITH base AS (
      SELECT event_type,
             time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS b5,
             time_bucket(INTERVAL '1 hour',    CAST(ts AS TIMESTAMP)) AS b1h,
             time_bucket(INTERVAL '1 day',     CAST(ts AS TIMESTAMP)) AS b1d,
             value
      FROM events
    )
    SELECT '5m' AS grain, event_type, b5 AS bucket_start,
           count(*) AS n_trades, round(sum(value), 4) AS volume
    FROM base GROUP BY 2, 3
    UNION ALL
    SELECT '1h', event_type, b1h, count(*), round(sum(value), 4)
    FROM base GROUP BY 2, 3
    UNION ALL
    SELECT '1d', event_type, b1d, count(*), round(sum(value), 4)
    FROM base GROUP BY 2, 3
    """,
)
def multigrain_bars_rollup(spark, sf_dir):
    """The whole resolution ladder (5m/1h/1d) in ONE aggregation pass via
    GROUPING SETS over three derived bucket columns — one scan and one
    shuffle produce every grain, where the naive ladder (or the oracle's
    UNION ALL formulation, kept for portability) scans per grain.
    grouping() disambiguates which bucket column is active per output
    row. The write-side of a materialized rollup hierarchy."""
    ev = load_table(spark, sf_dir, "events")
    # one window() expression only (Spark rejects multiple); the coarser
    # grains derive from the 5m bucket by date_trunc — exact, since 5
    # minutes divides both the hour and the day
    base = ev.select(
        "event_type",
        F.window("ts", "5 minutes").start.alias("b5"),
        "value",
    ).select(
        "event_type",
        "b5",
        F.date_trunc("hour", "b5").alias("b1h"),
        F.date_trunc("day", "b5").alias("b1d"),
        "value",
    )
    base.createOrReplaceTempView("__mg_base")
    return ev.sparkSession.sql("""
        SELECT CASE WHEN grouping(b5) = 0 THEN '5m'
                    WHEN grouping(b1h) = 0 THEN '1h'
                    ELSE '1d' END                         AS grain,
               event_type,
               coalesce(b5, b1h, b1d)                     AS bucket_start,
               count(*)                                   AS n_trades,
               round(sum(value), 4)                       AS volume
        FROM __mg_base
        GROUP BY event_type GROUPING SETS ((event_type, b5),
                                           (event_type, b1h),
                                           (event_type, b1d))
    """)


@register(
    "roll_spread_estimator",
    oracle=_HLC_BARS_CTE + """
    , d0 AS (
      SELECT event_type, bucket_start,
             close - lag(close) OVER w AS dp
      FROM bars
      WINDOW w AS (PARTITION BY event_type ORDER BY bucket_start)
    ),
    d AS (
      SELECT event_type, bucket_start, dp,
             lag(dp) OVER (PARTITION BY event_type ORDER BY bucket_start)
               AS dp_prev
      FROM d0
    )
    SELECT event_type,
           count(*)                          AS n_obs,
           round(covar_samp(dp, dp_prev), 6) AS autocov,
           round(CASE WHEN covar_samp(dp, dp_prev) < 0
                      THEN 2 * sqrt(-covar_samp(dp, dp_prev)) END, 6)
                                             AS roll_spread
    FROM d WHERE dp IS NOT NULL AND dp_prev IS NOT NULL
    GROUP BY 1
    """,
)
def roll_spread_estimator(spark, sf_dir):
    """Roll (1984) implied bid-ask spread: 2·sqrt(−cov(Δp_t, Δp_{t−1}))
    from the first-order autocovariance of price changes — the classic
    microstructure estimator of effective spread from trade prices alone
    (bounce between bid and ask induces negative autocovariance). NULL
    when the autocovariance is non-negative (no bounce signal), per the
    estimator's definition. Two stacked lag windows share one per-symbol
    shuffle; covar_samp has the same definition in both engines and the
    ≤2k-term sums round at 6dp far above reorder noise."""
    from pyspark.sql import Window

    bars = _bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "close"
    )
    w = Window.partitionBy("event_type").orderBy("bucket_start")
    d = bars.withColumn(
        "dp", F.col("close") - F.lag("close").over(w)
    ).withColumn("dp_prev", F.lag("dp").over(w))
    cov = F.covar_samp("dp", "dp_prev")
    return (
        d.where(F.col("dp").isNotNull() & F.col("dp_prev").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.round(cov, 6).alias("autocov"),
            F.round(
                F.when(cov < 0, 2.0 * F.sqrt(-cov)), 6
            ).alias("roll_spread"),
        )
    )


@register(
    "amihud_illiquidity_daily",
    oracle="""
    WITH bars AS (
      SELECT event_type,
             time_bucket(INTERVAL '1 day', CAST(ts AS TIMESTAMP)) AS d,
             arg_max(value, ts)   AS close,
             round(sum(value), 4) AS volume
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT event_type, d, volume,
             abs(close / nullif(lag(close) OVER (PARTITION BY event_type ORDER BY d), 0)
                 - 1) AS aret
      FROM bars
    )
    SELECT event_type,
           count(*)                                   AS n_days,
           round(avg(aret / volume) * 1e6, 6)         AS amihud_x1e6
    FROM r WHERE aret IS NOT NULL AND volume > 0
    GROUP BY 1
    """,
)
def amihud_illiquidity_daily(spark, sf_dir):
    """Amihud (2002) illiquidity: mean of |daily return| / volume per
    symbol (scaled 1e6) — the standard price-impact-per-traded-unit
    proxy. Daily bars, one lag window, one aggregate; the ratio's
    division order matches the oracle exactly so round-6 sits on
    bit-identical values."""
    from pyspark.sql import Window

    bars = _bars(spark, sf_dir, "1 day").select(
        "event_type", "bucket_start", "close", "volume"
    )
    w = Window.partitionBy("event_type").orderBy("bucket_start")
    r = bars.withColumn(
        "aret", F.abs(F.col("close") / F.nullif(F.lag("close").over(w), F.lit(0.0)) - 1)
    )
    return (
        r.where(F.col("aret").isNotNull() & (F.col("volume") > 0))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(F.avg(F.col("aret") / F.col("volume")) * 1e6, 6).alias(
                "amihud_x1e6"
            ),
        )
    )


@register(
    "beta_vs_market_5m",
    oracle=_HLC_BARS_CTE + """
    , r AS (
      SELECT event_type, bucket_start,
             close / nullif(lag(close) OVER (PARTITION BY event_type
                                      ORDER BY bucket_start), 0) - 1 AS ret
      FROM bars
    ),
    mkt AS (
      SELECT bucket_start, avg(ret) AS mret, count(*) AS n_syms
      FROM r WHERE ret IS NOT NULL
      GROUP BY 1 HAVING count(*) = 5
    )
    SELECT r.event_type,
           count(*)                                      AS n_obs,
           round(covar_samp(r.ret, m.mret)
                 / var_samp(m.mret), 6)                  AS beta
    FROM r JOIN mkt m ON r.bucket_start = m.bucket_start
    WHERE r.ret IS NOT NULL
    GROUP BY 1
    """,
)
def beta_vs_market_5m(spark, sf_dir):
    """CAPM beta per symbol against an equal-weight market factor built
    from the SAME relation: per-bucket mean return across symbols
    (buckets where all 5 symbols trade, so the factor is balanced),
    joined back and regressed via cov/var. The factor side is
    bucket-grain — broadcastable at any corpus size — and the returns
    relation is computed once, reused by both sides through exchange
    reuse. Round-6 over irrational regression outputs is tie-free."""
    from pyspark.sql import Window

    bars = _bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "close"
    )
    w = Window.partitionBy("event_type").orderBy("bucket_start")
    r = bars.withColumn(
        "ret", F.col("close") / F.nullif(F.lag("close").over(w), F.lit(0.0)) - 1
    ).where(F.col("ret").isNotNull())
    mkt = (
        r.groupBy("bucket_start")
        .agg(F.avg("ret").alias("mret"), F.count(F.lit(1)).alias("n_syms"))
        .where(F.col("n_syms") == 5)
        .select("bucket_start", "mret")
    )
    return (
        r.join(F.broadcast(mkt), "bucket_start")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.round(
                F.covar_samp("ret", "mret") / F.var_samp("mret"), 6
            ).alias("beta"),
        )
    )


@register(
    "max_drawdown_duration_5m",
    oracle=_HLC_BARS_CTE + """
    , dd AS (
      SELECT event_type, bucket_start, close,
             CASE WHEN close >= max(close) OVER (PARTITION BY event_type
                                                 ORDER BY bucket_start
                                                 ROWS UNBOUNDED PRECEDING)
                  THEN 0 ELSE 1 END AS under
      FROM bars
    ),
    isl AS (
      SELECT event_type, bucket_start, under,
             sum(1 - under) OVER (PARTITION BY event_type ORDER BY bucket_start
                                  ROWS UNBOUNDED PRECEDING) AS grp
      FROM dd
    )
    SELECT event_type,
           CAST(max(len) AS BIGINT) AS max_underwater_bars
    FROM (
      SELECT event_type, grp, count(*) AS len
      FROM isl WHERE under = 1
      GROUP BY 1, 2
    ) t
    GROUP BY 1
    """,
)
def max_drawdown_duration_5m(spark, sf_dir):
    """Longest underwater streak per symbol: consecutive bars below the
    running close high, measured in bars — the drawdown-DURATION risk
    statistic that max-drawdown depth misses. Gaps-and-islands with the
    group id as the running count of at-high bars (a new high closes the
    streak); running max, island id, and the final count are windows and
    aggregates over ONE per-symbol partitioning."""
    from pyspark.sql import Window

    bars = _bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "close"
    )
    w = Window.partitionBy("event_type").orderBy("bucket_start")
    run_max = F.max("close").over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    dd = bars.withColumn(
        "under", F.when(F.col("close") >= run_max, 0).otherwise(1)
    )
    isl = dd.withColumn(
        "grp",
        F.sum(1 - F.col("under")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        isl.where(F.col("under") == 1)
        .groupBy("event_type", "grp")
        .agg(F.count(F.lit(1)).alias("len"))
        .groupBy("event_type")
        .agg(F.max("len").cast("bigint").alias("max_underwater_bars"))
    )


@register(
    "variance_ratio_4x_5m",
    oracle=_HLC_BARS_CTE + """
    , lr AS (
      SELECT event_type, bucket_start,
             ln(nullif(close, 0)) - lag(ln(nullif(close, 0)))    OVER w AS r1,
             ln(nullif(close, 0)) - lag(ln(nullif(close, 0)), 4) OVER w AS r4
      FROM bars
      WINDOW w AS (PARTITION BY event_type ORDER BY bucket_start)
    )
    SELECT event_type,
           count(r1)                                        AS n_obs,
           round(var_samp(r4) / (4 * var_samp(r1)), 6)      AS vr4
    FROM lr
    GROUP BY 1
    """,
)
def variance_ratio_4x_5m(spark, sf_dir):
    """Lo-MacKinlay variance ratio VR(4) per symbol: the variance of
    overlapping 4-bar log returns over 4× the variance of 1-bar log
    returns — the classic random-walk test (VR≈1 under iid increments,
    <1 mean-reversion, >1 momentum). Both horizons come from the SAME
    ln(close) column via two stacked lags in ONE per-symbol window
    partitioning; var_samp ignores the q-1 leading NULLs of the long
    horizon on both engines identically. Round-6 on an O(1) ratio leaves
    ~6 orders of magnitude above reorder noise."""
    from pyspark.sql import Window

    bars = _bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "close"
    )
    w = Window.partitionBy("event_type").orderBy("bucket_start")
    # nullif guard: a zero close (bad tick) yields NULL log-returns
    # instead of an ANSI error / DuckDB ln(0) abort at larger SFs.
    lnc = F.log(F.nullif(F.col("close"), F.lit(0.0)))
    lr = bars.select(
        "event_type",
        (lnc - F.lag(lnc).over(w)).alias("r1"),
        (lnc - F.lag(lnc, 4).over(w)).alias("r4"),
    )
    return lr.groupBy("event_type").agg(
        F.count("r1").alias("n_obs"),
        F.round(F.var_samp("r4") / (4 * F.var_samp("r1")), 6).alias("vr4"),
    )


@register(
    "acf_returns_lags",
    oracle=_HLC_BARS_CTE + """
    , r AS (
      SELECT event_type, bucket_start,
             close / nullif(lag(close) OVER w, 0) - 1 AS ret
      FROM bars
      WINDOW w AS (PARTITION BY event_type ORDER BY bucket_start)
    ),
    l AS (
      SELECT event_type, ret,
             lag(ret)    OVER w AS ret_l1,
             lag(ret, 2) OVER w AS ret_l2,
             lag(ret, 3) OVER w AS ret_l3
      FROM r
      WINDOW w AS (PARTITION BY event_type ORDER BY bucket_start)
    )
    SELECT event_type,
           count(ret)                 AS n_obs,
           round(corr(ret, ret_l1), 6) AS acf_1,
           round(corr(ret, ret_l2), 6) AS acf_2,
           round(corr(ret, ret_l3), 6) AS acf_3
    FROM l
    GROUP BY 1
    """,
)
def acf_returns_lags(spark, sf_dir):
    """Return autocorrelation function at lags 1-3 per symbol — the
    serial-dependence fingerprint behind momentum/mean-reversion sizing
    and the Ljung-Box inputs. One per-symbol window partitioning carries
    the return and all three lagged copies; Pearson corr drops NULL pairs
    (the lag warm-ups) identically in both engines. Wide output (one row
    per symbol) keeps the lag columns alignment-free for the hash."""
    from pyspark.sql import Window

    bars = _bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "close"
    )
    w = Window.partitionBy("event_type").orderBy("bucket_start")
    r = bars.withColumn("ret", F.col("close") / F.nullif(F.lag("close").over(w), F.lit(0.0)) - 1)
    l = r.select(
        "event_type",
        "ret",
        F.lag("ret").over(w).alias("ret_l1"),
        F.lag("ret", 2).over(w).alias("ret_l2"),
        F.lag("ret", 3).over(w).alias("ret_l3"),
    )
    return l.groupBy("event_type").agg(
        F.count("ret").alias("n_obs"),
        F.round(F.corr("ret", "ret_l1"), 6).alias("acf_1"),
        F.round(F.corr("ret", "ret_l2"), 6).alias("acf_2"),
        F.round(F.corr("ret", "ret_l3"), 6).alias("acf_3"),
    )


_SIGNED_BARS_CTE = _HLC_BARS_CTE.replace(
    "arg_max(value, ts) AS close",
    "arg_max(value, ts) AS close, round(sum(value), 4) AS volume",
) + """
    , s AS (
      SELECT event_type, bucket_start, volume,
             close - lag(close) OVER w AS dp,
             CASE WHEN close - lag(close) OVER w > 0 THEN 1.0
                  WHEN close - lag(close) OVER w < 0 THEN -1.0 END AS raw_sign
      FROM bars
      WINDOW w AS (PARTITION BY event_type ORDER BY bucket_start)
    ),
    sg AS (
      SELECT event_type, bucket_start, volume, dp,
             last_value(raw_sign IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY bucket_start
                     ROWS UNBOUNDED PRECEDING) AS side
      FROM s
    )
"""


@register(
    "tick_rule_ofi",
    oracle=_SIGNED_BARS_CTE + """
    SELECT event_type,
           count(side)                                          AS n_bars,
           round(sum(side * volume), 4)                         AS net_signed_vol,
           round(sum(side * volume) / sum(abs(side) * volume), 6) AS ofi
    FROM sg
    GROUP BY 1
    """,
)
def tick_rule_ofi(spark, sf_dir):
    """Order-flow imbalance under the tick rule (Lee-Ready without quotes):
    each bar is classified buyer- or seller-initiated by the sign of its
    close-to-close change, zero-change bars inherit the LAST nonzero sign
    (LOCF via last_value IGNORE NULLS — the tick rule's carry-forward),
    and OFI = signed volume over classifiable volume. Sign derivation and
    carry-forward ride the one per-symbol ordered partitioning; unclassified
    warm-up bars drop out of both numerator and denominator identically."""
    from pyspark.sql import Window

    bars = _bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "close", "volume"
    )
    w = Window.partitionBy("event_type").orderBy("bucket_start")
    dp = F.col("close") - F.lag("close").over(w)
    s = bars.withColumn("dp", dp).withColumn(
        "raw_sign",
        F.when(F.col("dp") > 0, 1.0).when(F.col("dp") < 0, -1.0),
    )
    sg = s.withColumn(
        "side",
        F.last("raw_sign", ignorenulls=True).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return sg.groupBy("event_type").agg(
        F.count("side").alias("n_bars"),
        F.round(F.sum(F.col("side") * F.col("volume")), 4).alias(
            "net_signed_vol"
        ),
        F.round(
            F.sum(F.col("side") * F.col("volume"))
            / F.sum(F.abs(F.col("side")) * F.col("volume")),
            6,
        ).alias("ofi"),
    )


@register(
    "kyle_lambda_5m",
    oracle=_SIGNED_BARS_CTE + """
    SELECT event_type,
           count(*)                                  AS n_obs,
           round(regr_slope(dp, side * volume), 8)   AS kyle_lambda
    FROM sg
    WHERE dp IS NOT NULL AND side IS NOT NULL
    GROUP BY 1
    """,
)
def kyle_lambda_5m(spark, sf_dir):
    """Kyle (1985) lambda per symbol: the regression slope of price change
    on signed volume — price impact per unit of net order flow, the
    standard market-depth estimator. Reuses the tick-rule signed bars;
    regr_slope is covar_pop/var_pop per the SQL standard in BOTH engines,
    so the only cross-engine daylight is accumulation order — ~1e-12
    relative, far under the 8dp grid on an O(1e-2) slope."""
    from pyspark.sql import Window

    bars = _bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "close", "volume"
    )
    w = Window.partitionBy("event_type").orderBy("bucket_start")
    dp = F.col("close") - F.lag("close").over(w)
    s = bars.withColumn("dp", dp).withColumn(
        "raw_sign",
        F.when(F.col("dp") > 0, 1.0).when(F.col("dp") < 0, -1.0),
    )
    sg = s.withColumn(
        "side",
        F.last("raw_sign", ignorenulls=True).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        sg.where(F.col("dp").isNotNull() & F.col("side").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.round(
                F.regr_slope(F.col("dp"), F.col("side") * F.col("volume")), 8
            ).alias("kyle_lambda"),
        )
    )


@register(
    "kalman_level_5m",
    oracle="""
    WITH RECURSIVE d AS MATERIALIZED (
      SELECT event_type, bucket_start, close,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY bucket_start) AS t
      FROM (
        SELECT event_type,
               time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP))
                 AS bucket_start,
               arg_max(value, ts) AS close
        FROM events GROUP BY event_type, bucket_start)
    ),
    n AS MATERIALIZED (SELECT max(t) AS maxt FROM d),
    -- Gain recursion is DATA-INDEPENDENT for the local-level model
    -- (depends only on q/r and t), so it replays once on a single-row
    -- chain, not per group: pp = p + q; k = pp/(pp+r); p' = (1-k)*pp.
    -- Literals are e-notation: 0.01 would type as DECIMAL and quantize
    -- the whole chain (the CASE-literal trap from the PageRank oracles).
    g AS (
      SELECT 1 AS t, 1e-2 AS p, 0e0 AS k
      UNION ALL
      SELECT t + 1,
             (1e0 - (p + 1e-4) / ((p + 1e-4) + 1e-2)) * (p + 1e-4),
             (p + 1e-4) / ((p + 1e-4) + 1e-2)
      FROM g WHERE t < (SELECT maxt FROM n)
    ),
    -- MATERIALIZED wrapper so the level recursion reads a computed
    -- table: joining the recursive g directly re-executes its whole
    -- chain every level iteration (O(n^2) replays — minutes, not
    -- seconds, at sf0.01).
    gm AS MATERIALIZED (SELECT t, k FROM g),
    -- Level recursion replays in LOCKSTEP across all groups: iteration
    -- i advances every event_type from t=i to t=i+1 at once, exactly
    -- the arithmetic of the engine's scalar loop (x += k*(y-x)).
    lv AS (
      SELECT event_type, t, close AS x FROM d WHERE t = 1
      UNION ALL
      SELECT d.event_type, d.t, w.x + gm.k * (d.close - w.x)
      FROM lv w
      JOIN d ON d.event_type = w.event_type AND d.t = w.t + 1
      JOIN gm ON gm.t = d.t
    )
    SELECT d.event_type, d.bucket_start,
           round(d.close, 4)  AS close,
           round(lv.x, 6)     AS kalman_level,
           round(gm.k, 6)     AS kalman_gain
    FROM d
    JOIN lv ON lv.event_type = d.event_type AND lv.t = d.t
    JOIN gm ON gm.t = d.t
    """,
)
def kalman_level_5m(spark, sf_dir):
    """Kalman local-level denoised close per symbol — oracle-bearing since
    round 8, and since round 11 BOUNDED in its Python: the data-
    independent gain schedule converges to the double by t=256, so
    with_kalman_level_closed_form runs the time-varying warm-up as an
    Arrow grouped map over at most keys×256 rows and the data-sized
    steady tail as the seeded constant-coefficient closed form (pure JVM
    window algebra on the shared zoned scaffold) — no applyInPandas ever
    touches more than 256 rows per key. The DuckDB oracle still replays
    the EXACT recursion in a recursive CTE (gain chain on one row per
    step, level chain in lockstep across symbols), so the hash match
    certifies warm-recursion + steady closed form ≡ exact recursion
    cross-engine (differences ≤ ~1e-13, five orders under the round-6
    grid). Steady-state/limit property tests remain in
    tests/test_indicators.py. Output exposes the filtered level and the
    gain so downstream signals can threshold on both."""
    from polygon_algotrading_env_spark.operators.indicators import (
        with_kalman_level_closed_form,
    )
    from polygon_algotrading_env_spark.operators.zonedroll import zoning_mode

    bars = _bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "close"
    )
    out = with_kalman_level_closed_form(
        bars,
        "close",
        keys=("event_type",),
        order_cols=("bucket_start",),
        q_var=1e-4,
        r_var=1e-2,
        mode=zoning_mode(sf_dir),
    )
    return out.select(
        "event_type",
        "bucket_start",
        F.round("close", 4).alias("close"),
        F.round("kalman_level", 6).alias("kalman_level"),
        F.round("kalman_gain", 6).alias("kalman_gain"),
    )


@register(
    "cusum_alarms_5m",
    oracle=_HLC_BARS_CTE + """
    , r AS (
      SELECT event_type, bucket_start,
             close / nullif(lag(close) OVER (PARTITION BY event_type
                                      ORDER BY bucket_start), 0) - 1 AS ret
      FROM bars
    ),
    stats AS (
      SELECT event_type, avg(ret) AS mu, stddev_samp(ret) AS sd
      FROM r WHERE ret IS NOT NULL GROUP BY 1
    ),
    z AS (
      SELECT r.event_type, r.bucket_start,
             (r.ret - s.mu) / s.sd - 0.5 AS a
      FROM r JOIN stats s ON r.event_type = s.event_type
      WHERE r.ret IS NOT NULL
    ),
    p0 AS (
      SELECT event_type, bucket_start,
             sum(a) OVER (PARTITION BY event_type ORDER BY bucket_start
                          ROWS UNBOUNDED PRECEDING) AS pref
      FROM z
    ),
    p AS (
      SELECT event_type, bucket_start, pref,
             least(min(pref) OVER (PARTITION BY event_type
                                   ORDER BY bucket_start
                                   ROWS UNBOUNDED PRECEDING), 0) AS pref_min
      FROM p0
    )
    SELECT event_type,
           count(CASE WHEN pref - pref_min > 4.0 THEN 1 END) AS n_alarm_bars,
           round(max(pref - pref_min), 4)                    AS max_cusum,
           min(CASE WHEN pref - pref_min > 4.0
                    THEN bucket_start END)                   AS first_alarm
    FROM p
    GROUP BY 1
    """,
)
def cusum_alarms_5m(spark, sf_dir):
    """One-sided CUSUM drift detector per symbol, WITHOUT the sequential
    recursion: S_t = max(0, S_{t-1} + a_t) has the closed form
    S_t = P_t − min(0, min_{j≤t} P_j) over prefix sums P — so the classic
    'inherently streaming' changepoint statistic becomes two stacked
    running windows over ONE per-symbol partitioning, fully parallel
    across symbols and expressible in both engines. a_t standardizes the
    return against per-symbol full-sample stats (broadcast join-back,
    drift allowance k=0.5σ); alarm threshold h=4. Running sums evaluate
    in identical sequential order on both engines, so the comparisons
    sit on bit-identical values."""
    from pyspark.sql import Window

    bars = _bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "close"
    )
    w = Window.partitionBy("event_type").orderBy("bucket_start")
    r = bars.withColumn(
        "ret", F.col("close") / F.nullif(F.lag("close").over(w), F.lit(0.0)) - 1
    ).where(F.col("ret").isNotNull())
    stats = r.groupBy("event_type").agg(
        F.avg("ret").alias("mu"), F.stddev_samp("ret").alias("sd")
    )
    z = r.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "bucket_start",
        ((F.col("ret") - F.col("mu")) / F.col("sd") - 0.5).alias("a"),
    )
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    p = z.withColumn("pref", F.sum("a").over(run)).withColumn(
        "pref_min", F.least(F.min(F.col("pref")).over(run), F.lit(0.0))
    )
    cusum = F.col("pref") - F.col("pref_min")
    return p.groupBy("event_type").agg(
        F.count(F.when(cusum > 4.0, 1)).alias("n_alarm_bars"),
        F.round(F.max(cusum), 4).alias("max_cusum"),
        F.min(F.when(cusum > 4.0, F.col("bucket_start"))).alias("first_alarm"),
    )


@register(
    "pairs_spread_zscore",
    headline=True,
    oracle=_HLC_BARS_CTE + """
    , a AS (SELECT bucket_start, close AS ca FROM bars WHERE event_type = 'click'),
    b AS (SELECT bucket_start, close AS cb FROM bars WHERE event_type = 'view'),
    j AS (SELECT a.bucket_start, ca, cb FROM a JOIN b USING (bucket_start)),
    h AS (
      SELECT bucket_start, ca, cb,
             count(*)     OVER w AS n_obs,
             (avg(ca * cb) OVER w - avg(ca) OVER w * avg(cb) OVER w)
             / nullif(avg(cb * cb) OVER w - avg(cb) OVER w * avg(cb) OVER w, 0)
               AS beta
      FROM j
      WINDOW w AS (ORDER BY bucket_start ROWS BETWEEN 49 PRECEDING
                   AND CURRENT ROW)
    ),
    s AS (
      SELECT bucket_start, n_obs, beta, ca - beta * cb AS spread FROM h
      WHERE n_obs >= 50
    ),
    z AS (
      SELECT bucket_start, beta, spread,
             count(*)            OVER w2 AS n_z,
             avg(spread)         OVER w2 AS mu,
             stddev_samp(spread) OVER w2 AS sd
      FROM s
      WINDOW w2 AS (ORDER BY bucket_start ROWS BETWEEN 19 PRECEDING
                    AND CURRENT ROW)
    )
    SELECT bucket_start,
           round(beta, 6)                 AS beta,
           round(spread, 6)               AS spread,
           round((spread - mu) / sd, 6)   AS zscore
    FROM z WHERE n_z >= 20 AND sd > 0
    """,
)
def pairs_spread_zscore(spark, sf_dir):
    """Pairs-trading signal for one symbol pair: rolling 50-bar OLS hedge
    ratio from windowed moments (cov/var as avg identities — no fitting
    loop), residual spread, and its trailing 20-bar z-score — the entry/
    exit statistic of statistical arbitrage. The pair aligns by bucket
    equi-join; every rolling statistic rides ONE global-time ordered
    window (single series after the join — the per-pair partitioning at
    scale is by pair id). Warm-up rows where either window is partial are
    excluded by exact row counts, not null checks, so both engines cut
    identically."""
    from pyspark.sql import Window

    bars = _bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "close"
    )
    a = bars.where(F.col("event_type") == "click").select(
        "bucket_start", F.col("close").alias("ca")
    )
    b = bars.where(F.col("event_type") == "view").select(
        "bucket_start", F.col("close").alias("cb")
    )
    j = a.join(b, "bucket_start")
    w = Window.orderBy("bucket_start").rowsBetween(-49, 0)
    beta = (
        F.avg(F.col("ca") * F.col("cb")).over(w)
        - F.avg("ca").over(w) * F.avg("cb").over(w)
    ) / F.nullif(
        F.avg(F.col("cb") * F.col("cb")).over(w)
        - F.avg("cb").over(w) * F.avg("cb").over(w),
        F.lit(0),
    )
    h = j.select(
        "bucket_start",
        "ca",
        "cb",
        F.count(F.lit(1)).over(w).alias("n_obs"),
        beta.alias("beta"),
    )
    s = h.where(F.col("n_obs") >= 50).select(
        "bucket_start",
        "beta",
        (F.col("ca") - F.col("beta") * F.col("cb")).alias("spread"),
    )
    w2 = Window.orderBy("bucket_start").rowsBetween(-19, 0)
    z = s.select(
        "bucket_start",
        "beta",
        "spread",
        F.count(F.lit(1)).over(w2).alias("n_z"),
        F.avg("spread").over(w2).alias("mu"),
        F.stddev_samp("spread").over(w2).alias("sd"),
    )
    return z.where((F.col("n_z") >= 20) & (F.col("sd") > 0)).select(
        "bucket_start",
        F.round("beta", 6).alias("beta"),
        F.round("spread", 6).alias("spread"),
        F.round((F.col("spread") - F.col("mu")) / F.col("sd"), 6).alias(
            "zscore"
        ),
    )


@register(
    "post_shock_drift_5bar",
    oracle=_HLC_BARS_CTE + """
    , r AS (
      SELECT event_type, bucket_start,
             close / nullif(lag(close) OVER w, 0) - 1 AS ret
      FROM bars
      WINDOW w AS (PARTITION BY event_type ORDER BY bucket_start)
    ),
    stats AS (
      SELECT event_type, avg(ret) AS mu, stddev_samp(ret) AS sd
      FROM r WHERE ret IS NOT NULL GROUP BY 1
    ),
    fwd AS (
      SELECT r.event_type, r.bucket_start, r.ret, s.mu, s.sd,
             sum(r.ret) OVER (PARTITION BY r.event_type
                              ORDER BY r.bucket_start
                              ROWS BETWEEN 1 FOLLOWING AND 5 FOLLOWING)
               AS car5,
             count(r.ret) OVER (PARTITION BY r.event_type
                                ORDER BY r.bucket_start
                                ROWS BETWEEN 1 FOLLOWING AND 5 FOLLOWING)
               AS n_fwd
      FROM r JOIN stats s ON r.event_type = s.event_type
      WHERE r.ret IS NOT NULL
    )
    SELECT event_type,
           count(*)                 AS n_shocks,
           round(avg(car5), 6)      AS avg_car5,
           round(avg(CASE WHEN car5 > 0 THEN 1.0 ELSE 0.0 END), 6)
                                    AS frac_positive
    FROM fwd
    WHERE abs(ret - mu) > 3 * sd AND n_fwd = 5
    GROUP BY 1
    """,
)
def post_shock_drift_5bar(spark, sf_dir):
    """Event study on price shocks: bars whose return sits >3σ from the
    symbol mean are 'events', and the cumulative return over the NEXT 5
    bars (strictly forward window — no lookahead into the event bar)
    averages into the post-shock drift — the reversal/momentum diagnostic
    behind shock-fade strategies. Shock selection uses full-sample
    per-symbol stats broadcast back; the forward CAR is a following-rows
    sum on the same per-symbol partitioning; truncated trailing windows
    (n_fwd < 5) are excluded by exact count on both engines."""
    from pyspark.sql import Window

    bars = _bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "close"
    )
    w = Window.partitionBy("event_type").orderBy("bucket_start")
    r = bars.withColumn(
        "ret", F.col("close") / F.nullif(F.lag("close").over(w), F.lit(0.0)) - 1
    ).where(F.col("ret").isNotNull())
    stats = r.groupBy("event_type").agg(
        F.avg("ret").alias("mu"), F.stddev_samp("ret").alias("sd")
    )
    fw = w.rowsBetween(1, 5)
    fwd = r.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "ret",
        "mu",
        "sd",
        F.sum("ret").over(fw).alias("car5"),
        F.count("ret").over(fw).alias("n_fwd"),
    )
    return (
        fwd.where(
            (F.abs(F.col("ret") - F.col("mu")) > 3 * F.col("sd"))
            & (F.col("n_fwd") == 5)
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_shocks"),
            F.round(F.avg("car5"), 6).alias("avg_car5"),
            F.round(
                F.avg(F.when(F.col("car5") > 0, 1.0).otherwise(0.0)), 6
            ).alias("frac_positive"),
        )
    )


_DAILY_BARS_CTE = """
    WITH bars AS (
      SELECT event_type,
             time_bucket(INTERVAL '1 day', CAST(ts AS TIMESTAMP)) AS d,
             arg_max(value, ts) AS close
      FROM events GROUP BY 1, 2
    )
"""


@register(
    "cross_sectional_momentum",
    oracle=_DAILY_BARS_CTE + """
    , r0 AS (
      SELECT event_type, d,
             close / nullif(lag(close) OVER (PARTITION BY event_type ORDER BY d), 0) - 1
               AS ret
      FROM bars
    ),
    r AS (
      SELECT event_type, d, ret,
             lead(ret) OVER (PARTITION BY event_type ORDER BY d) AS fwd_ret
      FROM r0
    ),
    ranked AS (
      SELECT d, event_type, ret, fwd_ret,
             rank() OVER (PARTITION BY d ORDER BY ret DESC, event_type)
               AS mom_rank,
             count(*) OVER (PARTITION BY d) AS n_syms
      FROM r WHERE ret IS NOT NULL AND fwd_ret IS NOT NULL
    )
    SELECT d,
           round(avg(CASE WHEN mom_rank <= 2 THEN fwd_ret END), 6)
             AS long_leg,
           round(avg(CASE WHEN mom_rank > n_syms - 2 THEN fwd_ret END), 6)
             AS short_leg,
           round(avg(CASE WHEN mom_rank <= 2 THEN fwd_ret END)
                 - avg(CASE WHEN mom_rank > n_syms - 2 THEN fwd_ret END), 6)
             AS ls_spread
    FROM ranked
    WHERE n_syms = 5
    GROUP BY 1
    """,
)
def cross_sectional_momentum(spark, sf_dir):
    """Cross-sectional momentum: rank symbols EACH DAY by trailing daily
    return, hold the top-2 long and bottom-2 short, and measure the
    next-day long-short spread — the factor-portfolio axis (rank across
    symbols per date) that every per-symbol window query misses. Forward
    return comes from lead() on the same per-symbol window as the
    trailing return (no lookahead into ranking); the cross-sectional rank
    is a per-DAY window whose partitions are symbol-count-sized; days
    missing any symbol are excluded by exact count."""
    from pyspark.sql import Window

    bars = _bars(spark, sf_dir, "1 day").select(
        "event_type", F.col("bucket_start").alias("d"), "close"
    )
    w = Window.partitionBy("event_type").orderBy("d")
    ret = F.col("close") / F.nullif(F.lag("close").over(w), F.lit(0.0)) - 1
    r = (
        bars.withColumn("ret", ret)
        .withColumn("fwd_ret", F.lead("ret").over(w))
        .where(F.col("ret").isNotNull() & F.col("fwd_ret").isNotNull())
    )
    wd = Window.partitionBy("d")
    ranked = r.withColumn(
        "mom_rank",
        F.rank().over(wd.orderBy(F.desc("ret"), "event_type")),
    ).withColumn("n_syms", F.count(F.lit(1)).over(wd))
    long_leg = F.avg(F.when(F.col("mom_rank") <= 2, F.col("fwd_ret")))
    short_leg = F.avg(
        F.when(F.col("mom_rank") > F.col("n_syms") - 2, F.col("fwd_ret"))
    )
    return (
        ranked.where(F.col("n_syms") == 5)
        .groupBy("d")
        .agg(
            F.round(long_leg, 6).alias("long_leg"),
            F.round(short_leg, 6).alias("short_leg"),
            F.round(long_leg - short_leg, 6).alias("ls_spread"),
        )
    )


@register(
    "intraday_volume_profile",
    oracle="""
    WITH h AS (
      SELECT event_type,
             CAST(ts AS DATE)        AS d,
             extract(hour FROM ts)   AS hr,
             sum(CAST(round(value * 100) AS BIGINT)) AS hv
      FROM events GROUP BY 1, 2, 3
    ),
    dtot AS (
      SELECT event_type, d, CAST(sum(hv) AS BIGINT) AS dv
      FROM h GROUP BY 1, 2
    )
    SELECT h.event_type,
           CAST(h.hr AS INT)                       AS hr,
           count(*)                                AS n_days,
           round(CAST(sum(h.hv) AS DOUBLE) / count(*) / 100, 4)
                                                   AS avg_volume,
           round(avg(CAST(h.hv AS DOUBLE) / CAST(t.dv AS DOUBLE)), 6)
                                                   AS avg_share_of_day
    FROM h JOIN dtot t ON h.event_type = t.event_type AND h.d = t.d
    GROUP BY 1, 2
    """,
)
def intraday_volume_profile(spark, sf_dir):
    """Intraday seasonality: each symbol's average volume and average
    share-of-day per hour-of-day — the U-shape profile behind execution
    scheduling (trade more when the tape does). Hour cells aggregate
    once; daily totals are the same relation re-grouped (both tiny);
    the share averages the per-day ratio, not the ratio of averages, so
    thin days weigh equally — the execution-calendar convention.

    ``value`` lives on a 2-decimal grid, so hour cells sum EXACT integer
    hundredths (one cast at the scan) and every downstream quantity is a
    deterministic function of exact integers — the float ``sum(value)``
    form flaked once at the round-4 boundary because partial-aggregation
    order varies run to run (the registry docstring's magnitude-aware
    rounding rule, applied: round at the inputs' exact decimal width)."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type",
        F.to_date("ts").alias("d"),
        F.hour("ts").alias("hr"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("hv")
    )
    dtot = h.groupBy("event_type", "d").agg(
        F.sum("hv").cast("bigint").alias("dv")
    )
    return (
        h.join(dtot, ["event_type", "d"])
        .groupBy("event_type", F.col("hr").cast("int").alias("hr"))
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(
                F.sum("hv").cast("double") / F.count(F.lit(1)) / 100, 4
            ).alias("avg_volume"),
            F.round(
                F.avg(F.col("hv").cast("double") / F.col("dv").cast("double")),
                6,
            ).alias("avg_share_of_day"),
        )
    )


@register(
    "under_ingested_days",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    med AS (
      SELECT event_type,
             median(n) AS med_n
      FROM daily GROUP BY 1
    )
    SELECT d.event_type,
           strftime(d.d, '%Y-%m-%d') AS d,
           d.n,
           CAST(m.med_n AS DOUBLE)   AS med_n
    FROM daily d JOIN med m USING (event_type)
    WHERE d.n * 4 < m.med_n * 3
    """,
)
def under_ingested_days(spark, sf_dir):
    """Ingest-gap audit: days where a symbol's event count fell below 75%
    of its median daily count — the monitoring query behind 'did the
    nightly pull silently drop pages?' (the reference's cron ETL has no
    such check; its failure mode is exactly this silent undercount).
    Day-grain aggregate, per-symbol exact median over ~30 rows, and the
    3/4 threshold as integer cross-multiplication (n·4 < med·3) so the
    cut is exact on both engines even when the median is fractional."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d0")
    ).agg(F.count(F.lit(1)).alias("n"))
    med = daily.groupBy("event_type").agg(
        F.expr("percentile(n, 0.5)").alias("med_n")
    )
    return (
        daily.join(F.broadcast(med), "event_type")
        .where(F.col("n") * 4 < F.col("med_n") * 3)
        .select(
            "event_type",
            F.date_format("d0", "yyyy-MM-dd").alias("d"),
            "n",
            F.col("med_n").cast("double").alias("med_n"),
        )
    )


@register(
    "seasonal_decompose_hourly",
    oracle="""
    WITH hb AS (
      SELECT event_type,
             time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS h,
             avg(value) AS y
      FROM events GROUP BY 1, 2
    ),
    tr AS (
      SELECT event_type, h, y,
             avg(y) OVER (PARTITION BY event_type ORDER BY h
                          ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
               AS trend,
             count(*) OVER (PARTITION BY event_type ORDER BY h
                            ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
               AS n_win
      FROM hb
    ),
    dt AS (
      SELECT event_type, h, y, trend, y - trend AS detrended,
             extract(hour FROM h) AS hod
      FROM tr WHERE n_win = 25
    ),
    seas AS (
      SELECT event_type, hod, avg(detrended) AS seasonal
      FROM dt GROUP BY 1, 2
    )
    SELECT d.event_type,
           CAST(d.hod AS INT)                          AS hod,
           round(s.seasonal, 6)                        AS seasonal,
           count(*)                                    AS n_obs,
           round(stddev_samp(d.detrended - s.seasonal), 6) AS resid_sd
    FROM dt d JOIN seas s ON d.event_type = s.event_type AND d.hod = s.hod
    GROUP BY 1, 2, s.seasonal
    """,
)
def seasonal_decompose_hourly(spark, sf_dir):
    """Classical additive seasonal decomposition of the hourly price
    series per symbol: trend = centered 25-hour moving average (exact
    window only — partial edges excluded by count), seasonal = mean
    detrended value per hour-of-day, remainder spread = stddev of the
    residual — trend/seasonality/noise split behind anomaly thresholds
    that don't re-alarm every morning spike. The trend window and the
    seasonal/residual aggregates all ride the per-symbol partitioning;
    the seasonal model is 24 rows per symbol."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hb = ev.groupBy(
        "event_type", F.window("ts", "1 hour").start.alias("h")
    ).agg(F.avg("value").alias("y"))
    w = Window.partitionBy("event_type").orderBy("h").rowsBetween(-12, 12)
    tr = hb.select(
        "event_type",
        "h",
        "y",
        F.avg("y").over(w).alias("trend"),
        F.count(F.lit(1)).over(w).alias("n_win"),
    )
    dt = tr.where(F.col("n_win") == 25).select(
        "event_type",
        "y",
        "trend",
        (F.col("y") - F.col("trend")).alias("detrended"),
        F.hour("h").alias("hod"),
    )
    seas = dt.groupBy("event_type", "hod").agg(
        F.avg("detrended").alias("seasonal")
    )
    return (
        dt.join(F.broadcast(seas), ["event_type", "hod"])
        .groupBy("event_type", F.col("hod").cast("int").alias("hod"), "seasonal")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.round(
                F.stddev_samp(F.col("detrended") - F.col("seasonal")), 6
            ).alias("resid_sd"),
        )
        .select(
            "event_type",
            "hod",
            F.round("seasonal", 6).alias("seasonal"),
            "n_obs",
            "resid_sd",
        )
    )


@register(
    "mtf_trend_filter_5m",
    oracle=_HLC_BARS_CTE + """
    , h1 AS (
      SELECT event_type,
             time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS h,
             arg_max(value, ts) AS h_close
      FROM events GROUP BY 1, 2
    ),
    h1s AS (
      SELECT event_type, h, h_close,
             avg(h_close) OVER (PARTITION BY event_type ORDER BY h
                                ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
               AS h_sma10,
             count(*) OVER (PARTITION BY event_type ORDER BY h
                            ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS nw
      FROM h1
    )
    SELECT b.event_type, b.bucket_start,
           round(b.close, 4)    AS close,
           round(s.h_sma10, 6)  AS h_sma10,
           CASE WHEN b.close > s.h_sma10 THEN 1 ELSE 0 END AS uptrend
    FROM bars b
    JOIN h1s s
      ON s.event_type = b.event_type
     AND s.h = time_bucket(INTERVAL '1 hour', b.bucket_start)
    WHERE s.nw = 10
    """,
)
def mtf_trend_filter_5m(spark, sf_dir):
    """Multi-timeframe alignment: every 5-minute bar carries its OWN
    hour's 10-hour SMA trend gate (trade the fast timeframe only in the
    slow timeframe's direction — the classic MTF filter). The hourly
    relation is bar-count-sized and joins back by exact hour bucket
    (floor alignment, an equi-join — no as-of needed because the grids
    nest); partial SMA warm-ups are excluded by exact window count.
    NOTE the deliberate semantics: the hour's close is the hour's LAST
    tick, so intra-hour bars see a gate computed from ticks up to the
    hour's end — the backtest-correct variant would lag the gate one
    hour; this is the monitoring/alignment shape, certified as such."""
    from pyspark.sql import Window

    b5 = _bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "close"
    )
    h1 = _bars(spark, sf_dir, "1 hour").select(
        "event_type",
        F.col("bucket_start").alias("h"),
        F.col("close").alias("h_close"),
    )
    w = Window.partitionBy("event_type").orderBy("h").rowsBetween(-9, 0)
    h1s = h1.select(
        "event_type",
        "h",
        F.avg("h_close").over(w).alias("h_sma10"),
        F.count(F.lit(1)).over(w).alias("nw"),
    ).where(F.col("nw") == 10)
    return (
        b5.join(
            h1s,
            (b5.event_type == h1s.event_type)
            & (F.date_trunc("hour", b5.bucket_start) == h1s.h),
        )
        .select(
            b5.event_type,
            "bucket_start",
            F.round("close", 4).alias("close"),
            F.round("h_sma10", 6).alias("h_sma10"),
            F.when(F.col("close") > F.col("h_sma10"), 1)
            .otherwise(0)
            .alias("uptrend"),
        )
    )


@register(
    "walk_forward_folds",
    oracle=_HLC_BARS_CTE + """
    , o AS (
      SELECT event_type, bucket_start,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY bucket_start) AS rn,
             count(*)     OVER (PARTITION BY event_type) AS n
      FROM bars
    ),
    f AS (
      SELECT event_type, bucket_start, rn, n,
             CAST(least((rn - 1) * 5 // n, 4) AS INT) AS fold
      FROM o
    )
    SELECT a.event_type,
           a.fold                                  AS test_fold,
           b.fold                                  AS bar_fold,
           CASE WHEN b.fold = a.fold THEN 'test'
                WHEN abs(b.fold - a.fold) = 1 THEN 'embargo'
                ELSE 'train' END                   AS role,
           count(*)                                AS n_bars
    FROM (SELECT DISTINCT event_type, fold FROM f) a
    JOIN f b USING (event_type)
    GROUP BY 1, 2, 3, 4
    """,
)
def walk_forward_folds(spark, sf_dir):
    """Purged walk-forward cross-validation assignment: each symbol's bar
    sequence splits into 5 contiguous time folds (even-spread integer
    arithmetic — identical both engines), and for every (test fold, bar)
    pair the bar's role is test / embargo (the adjacent folds, purged to
    stop leakage across the boundary — the López-de-Prado discipline
    serial correlation demands) / train. Output is the fold×role census a
    training harness consumes to size its splits. The fold id is a pure
    function of the per-symbol ordinal — one window — and the role matrix
    is a fold-count-sized self-join, never a bar-level cross join."""
    from pyspark.sql import Window

    bars = _bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start"
    )
    w = Window.partitionBy("event_type").orderBy("bucket_start")
    o = bars.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("event_type"))
    )
    f = o.withColumn(
        "fold",
        F.least(F.expr("(rn - 1) * 5 DIV n"), F.lit(4)).cast("int"),
    )
    folds = f.select("event_type", "fold").distinct().select(
        "event_type", F.col("fold").alias("test_fold")
    )
    role = (
        F.when(F.col("fold") == F.col("test_fold"), "test")
        .when(F.abs(F.col("fold") - F.col("test_fold")) == 1, "embargo")
        .otherwise("train")
    )
    return (
        folds.join(f, "event_type")
        .groupBy(
            "event_type",
            "test_fold",
            F.col("fold").alias("bar_fold"),
            role.alias("role"),
        )
        .agg(F.count(F.lit(1)).alias("n_bars"))
    )


@register(
    "theil_sen_trend_daily",
    oracle=_DAILY_BARS_CTE + """
    , db AS (
      SELECT event_type,
             CAST(epoch(d) / 86400 AS BIGINT) AS day_i,
             close
      FROM bars
    )
    SELECT a.event_type,
           count(*)                                            AS n_pairs,
           round(median((b.close - a.close)
                        / (b.day_i - a.day_i)), 6)             AS ts_slope
    FROM db a JOIN db b
      ON a.event_type = b.event_type AND b.day_i > a.day_i
    GROUP BY 1
    """,
)
def theil_sen_trend_daily(spark, sf_dir):
    """Theil–Sen robust trend per symbol: the MEDIAN of all pairwise
    daily-close slopes — outlier-resistant where OLS breaks (one flash
    day drags a least-squares slope; it moves the slope median almost
    not at all, 29.3% breakdown point). The self-join is per-symbol over
    the DAY-grain relation (~30 rows/symbol → ~435 pairs — the operator
    is for aggregated series, never raw ticks; docstring IS the scale
    contract). Day deltas are exact integers (epoch-day), so slopes and
    their exact median agree across engines on the shared IEEE grid."""
    bars = _bars(spark, sf_dir, "1 day").select(
        "event_type",
        (F.unix_timestamp("bucket_start") / 86400).cast("bigint").alias("day_i"),
        "close",
    )
    a = bars.alias("a")
    b = bars.alias("b")
    pairs = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("b.day_i") > F.col("a.day_i")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (
            (F.col("b.close") - F.col("a.close"))
            / (F.col("b.day_i") - F.col("a.day_i"))
        ).alias("slope"),
    )
    return pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.expr("percentile(slope, 0.5)"), 6).alias("ts_slope"),
    )


@register(
    "risk_adjusted_metrics_5m",
    oracle=_BT_CTE + """
    , eq AS (
      SELECT event_type, bucket_start, pnl,
             sum(pnl) OVER (PARTITION BY event_type ORDER BY bucket_start
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_pnl
      FROM bt
    ),
    dd AS (
      SELECT event_type, pnl,
             max(cum_pnl) OVER (PARTITION BY event_type ORDER BY bucket_start
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - cum_pnl AS drawdown,
             arg_max(cum_pnl, bucket_start) OVER (PARTITION BY event_type)
               AS final_equity
      FROM eq
    )
    SELECT event_type,
           round(avg(pnl) / nullif(stddev_samp(pnl), 0), 6)     AS sharpe_bar,
           round(avg(pnl)
                 / nullif(sqrt(avg(least(pnl, 0) * least(pnl, 0))), 0), 6)
                                                                AS sortino_bar,
           round(any_value(final_equity)
                 / nullif(max(drawdown), 0), 6)                 AS calmar
    FROM dd
    GROUP BY 1
    """,
)
def risk_adjusted_metrics_5m(spark, sf_dir):
    """Risk-adjusted backtest metrics per symbol, all per-bar and
    annualization-free (multiply by sqrt(bars/yr) downstream): Sharpe =
    mean/stddev of bar P&L, Sortino = mean over downside root-mean-square
    (only losing bars penalize), Calmar = final equity over max drawdown.
    Every statistic reduces the SAME verified equity relation with
    order-insensitive aggregates; zero-risk degenerate cases surface as
    NULL via nullif, not ±inf."""
    from polygon_algotrading_env_spark.operators.backtest import (
        equity_curve,
        sma_crossover_backtest,
    )
    from pyspark.sql import Window

    bars = _event_bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "close"
    )
    eq = equity_curve(sma_crossover_backtest(bars))
    w = Window.partitionBy("event_type")
    dd = eq.select(
        "event_type",
        "pnl",
        "drawdown",
        F.max_by("cum_pnl", "bucket_start").over(w).alias("final_equity"),
    )
    downside = F.sqrt(F.avg(F.least(F.col("pnl"), F.lit(0.0)) ** 2))
    return dd.groupBy("event_type").agg(
        F.round(F.avg("pnl") / F.nullif(F.stddev_samp("pnl"), F.lit(0)), 6).alias(
            "sharpe_bar"
        ),
        F.round(F.avg("pnl") / F.nullif(downside, F.lit(0)), 6).alias(
            "sortino_bar"
        ),
        F.round(
            F.any_value("final_equity") / F.nullif(F.max("drawdown"), F.lit(0)),
            6,
        ).alias("calmar"),
    )


@register(
    "dollar_bars_events",
    oracle="""
    WITH t AS (
      SELECT event_type, ts, value,
             sum(value) OVER (PARTITION BY event_type ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) - value AS pre
      FROM events
    ),
    b AS (
      SELECT event_type, ts, value,
             CAST(floor(pre / 5000.0) AS BIGINT) AS bar_id
      FROM t
    )
    SELECT event_type, bar_id,
           round(arg_min(value, ts), 4)  AS open,
           round(max(value), 4)          AS high,
           round(min(value), 4)          AS low,
           round(arg_max(value, ts), 4)  AS close,
           round(sum(value), 4)          AS measure,
           count(*)                      AS n_ticks,
           epoch_ms(min(ts))             AS start_ms,
           epoch_ms(max(ts))             AS end_ms
    FROM b GROUP BY 1, 2
    """,
)
def dollar_bars_events(spark, sf_dir):
    """Dollar bars over the tick stream: a new bar every 5000 units of
    traded notional (`value` plays notional in the fixture mapping) —
    constant information per bar where time bars oversample quiet hours
    (operators/bars.py: threshold_bars). The pre-tick cumulative sum
    evaluates in identical sequential order on both engines, so bar
    boundaries are bit-exact; boundaries are exposed as epoch millis from
    the exact nanos (the events-timestamp convention)."""
    from polygon_algotrading_env_spark.operators.bars import threshold_bars

    ev = load_table(spark, sf_dir, "events")
    out = threshold_bars(
        ev,
        measure_col="value",
        threshold=5000.0,
        keys=("event_type",),
        ts_col="ts",
        price_col="value",
        order_col="ts_ns",
    )
    return out.select(
        "event_type",
        "bar_id",
        F.round("open", 4).alias("open"),
        F.round("high", 4).alias("high"),
        F.round("low", 4).alias("low"),
        F.round("close", 4).alias("close"),
        F.round("measure", 4).alias("measure"),
        "n_ticks",
        "start_ms",
        "end_ms",
    )


@register(
    "triple_barrier_labels_5m",
    oracle=_HLC_BARS_CTE + """
    , o AS (
      SELECT event_type, bucket_start, close,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY bucket_start) AS rn
      FROM bars
    ),
    j AS (
      SELECT a.event_type, a.bucket_start, a.close AS entry,
             b.rn - a.rn AS i, b.close AS p
      FROM o a JOIN o b
        ON a.event_type = b.event_type
       AND b.rn > a.rn AND b.rn <= a.rn + 12
    ),
    agg AS (
      SELECT event_type, bucket_start, entry,
             count(*) AS n_fwd,
             min(CASE WHEN p >= entry * 1.05 THEN i END) AS hit_up,
             min(CASE WHEN p <= entry * 0.95 THEN i END) AS hit_dn
      FROM j GROUP BY 1, 2, 3
    )
    SELECT event_type, bucket_start,
           round(entry, 4) AS entry,
           CAST(CASE WHEN hit_up IS NOT NULL
                      AND (hit_dn IS NULL OR hit_up < hit_dn) THEN 1
                     WHEN hit_dn IS NOT NULL THEN -1
                     ELSE 0 END AS INT)          AS label,
           CAST(least(hit_up, hit_dn) AS INT)    AS bars_to_hit
    FROM agg WHERE n_fwd = 12
    """,
)
def triple_barrier_labels_5m(spark, sf_dir):
    """Triple-barrier supervised labels over the 5-minute bars: ±5%
    profit/stop barriers, 12-bar time barrier (operators/backtest.py:
    triple_barrier_labels). The engine scans each bar's forward path as
    ONE window-collected array with JVM array algebra for the first
    touch; the oracle replays the semantics as a self-join against the
    next 12 bars — the certified equivalence is exactly the shuffle the
    array plan avoids. Tail bars without a full window are dropped on
    both sides (undefined, not zero)."""
    from polygon_algotrading_env_spark.operators.backtest import (
        triple_barrier_labels,
    )

    bars = _bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "close"
    )
    out = triple_barrier_labels(
        bars, horizon=12, profit_take=0.05, stop_loss=0.05
    )
    return out.select(
        "event_type",
        "bucket_start",
        "entry",
        "label",
        F.col("bars_to_hit").cast("int").alias("bars_to_hit"),
    )


@register(
    "vpin_volume_buckets",
    oracle="""
    WITH t AS (
      SELECT event_type, ts, value,
             sum(value) OVER w - value AS pre,
             CASE WHEN value - lag(value) OVER w2 > 0 THEN 1.0
                  WHEN value - lag(value) OVER w2 < 0 THEN -1.0 END AS raw_sign
      FROM events
      WINDOW w  AS (PARTITION BY event_type ORDER BY ts
                    ROWS UNBOUNDED PRECEDING),
             w2 AS (PARTITION BY event_type ORDER BY ts)
    ),
    s AS (
      SELECT event_type, ts, value, pre,
             last_value(raw_sign IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY ts
                     ROWS UNBOUNDED PRECEDING) AS side
      FROM t
    ),
    b AS (
      SELECT event_type,
             CAST(floor(pre / 5000.0) AS BIGINT) AS bucket,
             sum(CASE WHEN side IS NOT NULL THEN side * value END) AS signed_v,
             sum(CASE WHEN side IS NOT NULL THEN value END)        AS class_v
      FROM s GROUP BY 1, 2
    )
    SELECT event_type,
           count(*)                                        AS n_buckets,
           round(avg(abs(signed_v) / class_v), 6)          AS vpin
    FROM b WHERE class_v > 0
    GROUP BY 1
    """,
)
def vpin_volume_buckets(spark, sf_dir):
    """VPIN (Easley-López de Prado-O'Hara): order-flow toxicity as the
    average absolute buy/sell imbalance per VOLUME bucket — the flash-
    crash early-warning metric, and a composition of two operators this
    engine certifies separately: threshold bucketing (dollar bars'
    pre-tick cumulative floor) and tick-rule classification (LOCF signed
    side). Everything rides one per-symbol ordered partitioning; unsigned
    warm-up ticks drop from numerator and denominator identically."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    dp = F.col("value") - F.lag("value").over(w)
    s = (
        ev.withColumn("pre", F.sum("value").over(run) - F.col("value"))
        .withColumn(
            "raw_sign",
            F.when(dp > 0, 1.0).when(dp < 0, -1.0),
        )
        .withColumn(
            "side", F.last("raw_sign", ignorenulls=True).over(run)
        )
    )
    b = s.groupBy(
        "event_type",
        F.floor(F.col("pre") / 5000.0).alias("bucket"),
    ).agg(
        F.sum(
            F.when(F.col("side").isNotNull(), F.col("side") * F.col("value"))
        ).alias("signed_v"),
        F.sum(F.when(F.col("side").isNotNull(), F.col("value"))).alias(
            "class_v"
        ),
    )
    return (
        b.where(F.col("class_v") > 0)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.round(F.avg(F.abs(F.col("signed_v")) / F.col("class_v")), 6).alias(
                "vpin"
            ),
        )
    )


@register(
    "engle_granger_pair",
    oracle=_HLC_BARS_CTE + """
    , a AS (SELECT bucket_start, close AS ca FROM bars WHERE event_type = 'click'),
    b AS (SELECT bucket_start, close AS cb FROM bars WHERE event_type = 'view'),
    j AS (SELECT a.bucket_start, ca, cb FROM a JOIN b USING (bucket_start)),
    fit AS (
      SELECT regr_slope(ca, cb)     AS beta,
             regr_intercept(ca, cb) AS alpha
      FROM j
    ),
    resid AS (
      SELECT j.bucket_start,
             j.ca - f.alpha - f.beta * j.cb AS e
      FROM j CROSS JOIN fit f
    ),
    d AS (
      SELECT bucket_start, e,
             e - lag(e)  OVER (ORDER BY bucket_start) AS de,
             lag(e)      OVER (ORDER BY bucket_start) AS e_lag
      FROM resid
    )
    SELECT count(de)                                       AS n_obs,
           round(any_value(f.beta), 6)                     AS hedge_beta,
           round(regr_slope(de, e_lag), 6)                 AS adf_gamma,
           round(CASE WHEN regr_slope(de, e_lag) < 0
                      THEN -ln(2) / regr_slope(de, e_lag) END, 4)
                                                           AS half_life_bars
    FROM d CROSS JOIN fit f
    WHERE de IS NOT NULL
    """,
)
def engle_granger_pair(spark, sf_dir):
    """Engle-Granger two-step cointegration for one symbol pair: full-
    sample OLS hedge ratio (regr_slope/intercept — moment aggregates, one
    pass), then the residual's error-correction speed γ from Δe on
    lag(e) (the ADF regression without augmentation terms) and the
    implied mean-reversion half-life −ln2/γ — the statistic that decides
    whether the pairs spread is tradeable at all and how long positions
    must be held. Negative γ ⇒ reverting; non-negative surfaces as NULL
    half-life, not a negative holding period. Both regressions are
    SQL-standard moment aggregates, so the engines differ only by
    accumulation order — far under the rounding grids."""
    from pyspark.sql import Window

    bars = _bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "close"
    )
    a = bars.where(F.col("event_type") == "click").select(
        "bucket_start", F.col("close").alias("ca")
    )
    b = bars.where(F.col("event_type") == "view").select(
        "bucket_start", F.col("close").alias("cb")
    )
    j = a.join(b, "bucket_start")
    fit = j.agg(
        F.regr_slope("ca", "cb").alias("beta"),
        F.regr_intercept("ca", "cb").alias("alpha"),
    )
    resid = j.crossJoin(F.broadcast(fit)).select(
        "bucket_start",
        (F.col("ca") - F.col("alpha") - F.col("beta") * F.col("cb")).alias("e"),
        "beta",
    )
    w = Window.orderBy("bucket_start")
    d = resid.select(
        "beta",
        (F.col("e") - F.lag("e").over(w)).alias("de"),
        F.lag("e").over(w).alias("e_lag"),
    ).where(F.col("de").isNotNull())
    gamma = F.regr_slope("de", "e_lag")
    return d.agg(
        F.count("de").alias("n_obs"),
        F.round(F.any_value("beta"), 6).alias("hedge_beta"),
        F.round(gamma, 6).alias("adf_gamma"),
        F.round(
            F.when(gamma < 0, -F.log(F.lit(2.0)) / gamma), 4
        ).alias("half_life_bars"),
    )


def _fracdiff_weights(d: float, width: int) -> list[float]:
    """Fixed-width fractional-difference weights: w_0=1,
    w_k = -w_{k-1}·(d-k+1)/k. Pure arithmetic — computed once at import
    and shared verbatim by the Spark expression AND the oracle SQL, so
    both engines multiply identical literals."""
    w = [1.0]
    for k in range(1, width):
        w.append(-w[-1] * (d - k + 1) / k)
    return w


_FD_D, _FD_W = 0.4, 10
_FD_WEIGHTS = _fracdiff_weights(_FD_D, _FD_W)
_FD_ORACLE_SUM = " + ".join(
    f"({w!r}) * lag(close, {k}) OVER w" if k else f"({w!r}) * close"
    for k, w in enumerate(_FD_WEIGHTS)
)


@register(
    "frac_diff_close_5m",
    oracle=_HLC_BARS_CTE + f"""
    SELECT event_type, bucket_start,
           round({_FD_ORACLE_SUM}, 6) AS fd_close
    FROM bars
    WINDOW w AS (PARTITION BY event_type ORDER BY bucket_start)
    QUALIFY lag(close, {_FD_W - 1}) OVER w IS NOT NULL
    """,
)
def frac_diff_close_5m(spark, sf_dir):
    """Fractionally differentiated close (d=0.4, fixed width 10): the
    memory-preserving stationarity transform — integer differencing
    (d=1) erases the level information ML features need, while d≈0.4
    keeps long memory with a (near-)stationary series. The fixed-width
    window makes it a LINEAR COMB OF LAGS: ten lag() terms over ONE
    per-symbol window partitioning, weights precomputed driver-side and
    inlined as literals into both engines' expressions. Warm-up rows
    without the full width are excluded (undefined, not zero-padded)."""
    from pyspark.sql import Window

    bars = _bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "close"
    )
    w = Window.partitionBy("event_type").orderBy("bucket_start")
    expr = sum(
        (
            F.lit(wt) * (F.lag("close", k).over(w) if k else F.col("close"))
            for k, wt in enumerate(_FD_WEIGHTS)
        ),
        F.lit(0.0),
    )
    return (
        bars.withColumn("fd_close", expr)
        .withColumn("__oldest", F.lag("close", _FD_W - 1).over(w))
        .where(F.col("__oldest").isNotNull())
        .select("event_type", "bucket_start", F.round("fd_close", 6).alias("fd_close"))
    )


@register(
    "naive_forecast_eval",
    oracle="""
    WITH hb AS (
      SELECT event_type,
             time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS h,
             avg(value) AS y
      FROM events GROUP BY 1, 2
    ),
    f AS (
      SELECT event_type, h, y,
             lag(y, 24) OVER w AS y_seasonal,
             lag(y)     OVER w AS y_naive1
      FROM hb
      WINDOW w AS (PARTITION BY event_type ORDER BY h)
    )
    SELECT event_type,
           count(y_seasonal)                                   AS n_obs,
           round(avg(abs(y - y_seasonal)), 6)                  AS mae_seasonal,
           round(avg(abs(y - y_seasonal))
                 / avg(abs(y - y_naive1)), 6)                  AS mase,
           round(avg(2.0 * abs(y - y_seasonal)
                     / (abs(y) + abs(y_seasonal))), 6)         AS smape
    FROM f WHERE y_seasonal IS NOT NULL AND y_naive1 IS NOT NULL
    GROUP BY 1
    """,
)
def naive_forecast_eval(spark, sf_dir):
    """Forecast-evaluation harness on the seasonal-naive baseline: predict
    each hour with the value 24 hours earlier, then score MAE, MASE
    (scaled by the one-step-naive MAE — the scale-free metric that makes
    symbols comparable and beats MAPE's zero-division pathology), and
    sMAPE. Any real forecasting pipeline evaluated at scale reduces to
    exactly this shape — point forecasts joined to actuals, error
    aggregates per series — with the model column swapped in; both lag
    horizons ride ONE per-symbol window partitioning."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hb = ev.groupBy(
        "event_type", F.window("ts", "1 hour").start.alias("h")
    ).agg(F.avg("value").alias("y"))
    w = Window.partitionBy("event_type").orderBy("h")
    f = hb.select(
        "event_type",
        "y",
        F.lag("y", 24).over(w).alias("y_seasonal"),
        F.lag("y").over(w).alias("y_naive1"),
    ).where(F.col("y_seasonal").isNotNull() & F.col("y_naive1").isNotNull())
    err_s = F.abs(F.col("y") - F.col("y_seasonal"))
    err_1 = F.abs(F.col("y") - F.col("y_naive1"))
    return f.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.round(F.avg(err_s), 6).alias("mae_seasonal"),
        F.round(F.avg(err_s) / F.avg(err_1), 6).alias("mase"),
        F.round(
            F.avg(
                2.0 * err_s / (F.abs(F.col("y")) + F.abs(F.col("y_seasonal")))
            ),
            6,
        ).alias("smape"),
    )


@register(
    "var_es_daily",
    oracle=_DAILY_BARS_CTE + """
    , r AS (
      SELECT event_type,
             close / nullif(lag(close) OVER (PARTITION BY event_type ORDER BY d), 0)
               - 1 AS ret
      FROM bars
    ),
    v AS (
      SELECT event_type,
             count(ret)                 AS n_obs,
             quantile_cont(ret, 0.05)   AS var95
      FROM r WHERE ret IS NOT NULL GROUP BY 1
    )
    SELECT r.event_type,
           any_value(v.n_obs)                       AS n_obs,
           round(any_value(v.var95), 6)             AS var95,
           round(avg(CASE WHEN r.ret <= v.var95
                          THEN r.ret END), 6)       AS es95
    FROM r JOIN v ON r.event_type = v.event_type
    WHERE r.ret IS NOT NULL
    GROUP BY 1
    """,
)
def var_es_daily(spark, sf_dir):
    """Historical 95% VaR and expected shortfall per symbol from daily
    returns: VaR is the exact interpolated 5th percentile (Spark
    percentile ≡ DuckDB quantile_cont — the shared linear-interpolation
    definition already certified by exact_percentiles_per_flag), ES is
    the mean of returns at or below it — the tail-severity number VaR
    alone hides. The percentile model is one row per symbol, broadcast
    back over the return relation for the conditional tail mean; the
    tail-inclusion comparison uses the raw interpolated double on both
    sides, so the tail set cannot disagree."""
    from pyspark.sql import Window

    bars = _bars(spark, sf_dir, "1 day").select(
        "event_type", F.col("bucket_start").alias("d"), "close"
    )
    w = Window.partitionBy("event_type").orderBy("d")
    r = bars.withColumn(
        "ret", F.col("close") / F.nullif(F.lag("close").over(w), F.lit(0.0)) - 1
    ).where(F.col("ret").isNotNull())
    v = r.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.expr("percentile(ret, 0.05)").alias("var95"),
    )
    return (
        r.join(F.broadcast(v), "event_type")
        .groupBy("event_type")
        .agg(
            F.any_value("n_obs").alias("n_obs"),
            F.round(F.any_value("var95"), 6).alias("var95"),
            F.round(
                F.avg(F.when(F.col("ret") <= F.col("var95"), F.col("ret"))), 6
            ).alias("es95"),
        )
    )


@register(
    "lead_lag_xcorr_pair",
    oracle=_HLC_BARS_CTE + """
    , a AS (
      SELECT bucket_start,
             close / nullif(lag(close) OVER (ORDER BY bucket_start), 0) - 1 AS ra
      FROM bars WHERE event_type = 'click'
    ),
    b AS (
      SELECT bucket_start,
             close / nullif(lag(close) OVER (ORDER BY bucket_start), 0) - 1 AS rb
      FROM bars WHERE event_type = 'view'
    ),
    j AS (
      SELECT a.bucket_start, ra, rb,
             lag(rb)     OVER w AS rb_m1,
             lag(rb, 2)  OVER w AS rb_m2,
             lead(rb)    OVER w AS rb_p1,
             lead(rb, 2) OVER w AS rb_p2
      FROM a JOIN b USING (bucket_start)
      WINDOW w AS (ORDER BY a.bucket_start)
    )
    SELECT count(ra)                  AS n_obs,
           round(corr(ra, rb_m2), 6) AS xcorr_m2,
           round(corr(ra, rb_m1), 6) AS xcorr_m1,
           round(corr(ra, rb), 6)    AS xcorr_0,
           round(corr(ra, rb_p1), 6) AS xcorr_p1,
           round(corr(ra, rb_p2), 6) AS xcorr_p2
    FROM j
    """,
)
def lead_lag_xcorr_pair(spark, sf_dir):
    """Lead-lag structure between two symbols: cross-correlation of their
    bar returns at offsets −2..+2 — which side moves FIRST (the
    price-discovery diagnostic behind hedge timing; an asymmetric profile
    means one series anticipates the other). Returns align by bucket
    equi-join; all five offsets are lags/leads over ONE ordered window on
    the joined (pair-grain) relation; corr drops NULL warm-up pairs
    identically per column in both engines."""
    from pyspark.sql import Window

    bars = _bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "close"
    )
    wa = Window.orderBy("bucket_start")

    def rets(sym, out):
        return (
            bars.where(F.col("event_type") == sym)
            .select(
                "bucket_start",
                (F.col("close") / F.nullif(F.lag("close").over(wa), F.lit(0.0)) - 1).alias(out),
            )
        )

    j = rets("click", "ra").join(rets("view", "rb"), "bucket_start")
    w = Window.orderBy("bucket_start")
    cols = j.select(
        "ra",
        "rb",
        F.lag("rb").over(w).alias("rb_m1"),
        F.lag("rb", 2).over(w).alias("rb_m2"),
        F.lead("rb").over(w).alias("rb_p1"),
        F.lead("rb", 2).over(w).alias("rb_p2"),
    )
    return cols.agg(
        F.count("ra").alias("n_obs"),
        F.round(F.corr("ra", "rb_m2"), 6).alias("xcorr_m2"),
        F.round(F.corr("ra", "rb_m1"), 6).alias("xcorr_m1"),
        F.round(F.corr("ra", "rb"), 6).alias("xcorr_0"),
        F.round(F.corr("ra", "rb_p1"), 6).alias("xcorr_p1"),
        F.round(F.corr("ra", "rb_p2"), 6).alias("xcorr_p2"),
    )


@register(
    "market_breadth_5m",
    oracle=_HLC_BARS_CTE + """
    , s AS (
      SELECT event_type, bucket_start, close,
             avg(close) OVER (PARTITION BY event_type ORDER BY bucket_start
                              ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
               AS sma20,
             count(*)   OVER (PARTITION BY event_type ORDER BY bucket_start
                              ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
               AS nw
      FROM bars
    )
    SELECT bucket_start,
           count(*)                                            AS n_syms,
           CAST(sum(CASE WHEN close > sma20 THEN 1 ELSE 0 END)
                AS BIGINT)                                     AS n_above,
           round(avg(CASE WHEN close > sma20
                          THEN 1.0 ELSE 0.0 END), 6)           AS breadth
    FROM s WHERE nw = 20
    GROUP BY 1 HAVING count(*) = 5
    """,
)
def market_breadth_5m(spark, sf_dir):
    """Market breadth per bucket: the fraction of symbols trading above
    their own 20-bar SMA — the regime indicator that separates broad
    rallies from narrow ones. Per-symbol trend state rides the usual
    per-symbol window; the breadth rollup flips the axis to per-BUCKET
    (symbol-count-sized groups); partial SMA warm-ups and buckets missing
    any symbol are excluded by exact counts on both sides."""
    from pyspark.sql import Window

    bars = _bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "close"
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket_start")
        .rowsBetween(-19, 0)
    )
    s = bars.select(
        "event_type",
        "bucket_start",
        "close",
        F.avg("close").over(w).alias("sma20"),
        F.count(F.lit(1)).over(w).alias("nw"),
    ).where(F.col("nw") == 20)
    above = F.when(F.col("close") > F.col("sma20"), 1).otherwise(0)
    return (
        s.groupBy("bucket_start")
        .agg(
            F.count(F.lit(1)).alias("n_syms"),
            F.sum(above).alias("n_above"),
            F.round(F.avg(above.cast("double")), 6).alias("breadth"),
        )
        .where(F.col("n_syms") == 5)
    )


@register(
    "corwin_schultz_spread_daily",
    oracle="""
    WITH bars AS (
      SELECT event_type,
             time_bucket(INTERVAL '1 day', CAST(ts AS TIMESTAMP)) AS d,
             max(value) AS high, min(value) AS low
      FROM events GROUP BY 1, 2
    ),
    p AS (
      SELECT event_type, d, high, low,
             lag(high) OVER w AS high_p, lag(low) OVER w AS low_p
      FROM bars
      WINDOW w AS (PARTITION BY event_type ORDER BY d)
    ),
    cs AS (
      SELECT event_type,
             ln(high / low) * ln(high / low)
               + ln(high_p / low_p) * ln(high_p / low_p)           AS beta,
             ln(greatest(high, high_p) / least(low, low_p))
               * ln(greatest(high, high_p) / least(low, low_p))    AS gamma
      FROM p WHERE high_p IS NOT NULL AND low > 0 AND low_p > 0
    ),
    a AS (
      SELECT event_type,
             (sqrt(2 * beta) - sqrt(beta)) / (3 - 2 * sqrt(2.0))
               - sqrt(gamma / (3 - 2 * sqrt(2.0)))                 AS alpha
      FROM cs
    )
    SELECT event_type,
           count(*)                                                AS n_days,
           round(avg(2 * (exp(alpha) - 1) / (1 + exp(alpha))), 6)  AS cs_spread
    FROM a
    GROUP BY 1
    """,
)
def corwin_schultz_spread_daily(spark, sf_dir):
    """Corwin-Schultz (2012) bid-ask spread estimate from daily high/low
    ranges alone: highs are buys, lows are sells, so the two-day range
    carries 2× variance but 1× spread — solving that system per day pair
    gives α and spread 2(e^α−1)/(1+e^α), averaged per symbol. The
    complement to the Roll estimator (close autocovariance) when only
    OHLC bars survive retention. One lag window over daily bars, then
    deterministic scalar math — both engines evaluate the identical
    closed form; negative-α days are kept (the estimator's documented
    small-sample behavior), not clipped, so the average is reproducible."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    bars = ev.groupBy(
        "event_type", F.window("ts", "1 day").start.alias("d")
    ).agg(F.max("value").alias("high"), F.min("value").alias("low"))
    w = Window.partitionBy("event_type").orderBy("d")
    p = bars.select(
        "event_type",
        "high",
        "low",
        F.lag("high").over(w).alias("high_p"),
        F.lag("low").over(w).alias("low_p"),
    ).where(
        F.col("high_p").isNotNull() & (F.col("low") > 0) & (F.col("low_p") > 0)
    )
    lnr = F.log(F.col("high") / F.col("low"))
    lnr_p = F.log(F.col("high_p") / F.col("low_p"))
    lnr2 = F.log(
        F.greatest(F.col("high"), F.col("high_p"))
        / F.least(F.col("low"), F.col("low_p"))
    )
    beta = lnr * lnr + lnr_p * lnr_p
    gamma = lnr2 * lnr2
    denom = 3.0 - 2.0 * F.sqrt(F.lit(2.0))
    alpha = (F.sqrt(2.0 * beta) - F.sqrt(beta)) / denom - F.sqrt(gamma / denom)
    spread = 2.0 * (F.exp(alpha) - 1.0) / (1.0 + F.exp(alpha))
    return p.select("event_type", spread.alias("sp")).groupBy(
        "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.round(F.avg("sp"), 6).alias("cs_spread"),
    )


@register(
    "deflated_sharpe_zscore",
    oracle=_BT_CTE + """
    , mu AS (
      SELECT event_type, count(*) AS n, avg(pnl) AS m1
      FROM bt GROUP BY 1
    ),
    mom AS (
      SELECT b.event_type,
             any_value(m.n)                          AS n,
             avg(power(b.pnl - m.m1, 2))             AS m2,
             avg(power(b.pnl - m.m1, 3))             AS m3,
             avg(power(b.pnl - m.m1, 4))             AS m4
      FROM bt b JOIN mu m ON b.event_type = m.event_type
      GROUP BY 1
    )
    SELECT event_type, n,
           round(sr, 6)                                            AS sharpe_bar,
           round(skew, 6)                                          AS skewness,
           round(kurt, 6)                                          AS kurtosis,
           round(sr * sqrt(n - 1.0)
                 / sqrt(1.0 - skew * sr + (kurt - 1.0) / 4.0 * sr * sr), 6)
                                                                   AS dsr_z
    FROM (
      SELECT mom.event_type, mom.n,
             mu.m1 / sqrt(mom.m2)          AS sr,
             mom.m3 / power(mom.m2, 1.5)   AS skew,
             mom.m4 / (mom.m2 * mom.m2)    AS kurt
      FROM mom JOIN mu ON mom.event_type = mu.event_type
    ) t
    """,
)
def deflated_sharpe_zscore(spark, sf_dir):
    """Deflated Sharpe ratio test statistic (Bailey-López de Prado): the
    z-score of the observed per-bar Sharpe against zero, corrected for
    the non-normality that inflates naive Sharpe inference — skewed,
    fat-tailed P&L makes SR estimates noisier, and the denominator
    √(1 − γ₃·SR + (γ₄−1)/4·SR²) prices that in. Central moments are
    computed EXPLICITLY (two-pass: mean, then avg((x−μ)^k)) rather than
    via skewness()/kurtosis() builtins, whose bias corrections differ
    between engines; population moments are identical IEEE on both."""
    from polygon_algotrading_env_spark.operators.backtest import (
        sma_crossover_backtest,
    )

    bars = _event_bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "close"
    )
    bt = sma_crossover_backtest(bars).select("event_type", "pnl")
    mu = bt.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.avg("pnl").alias("m1")
    )
    d = F.col("pnl") - F.col("m1")
    mom = (
        bt.join(F.broadcast(mu), "event_type")
        .groupBy("event_type")
        .agg(
            F.any_value("n").alias("n"),
            F.avg(d * d).alias("m2"),
            F.avg(d * d * d).alias("m3"),
            F.avg(d * d * d * d).alias("m4"),
        )
    )
    t = mom.join(F.broadcast(mu.select("event_type", "m1")), "event_type").select(
        "event_type",
        "n",
        (F.col("m1") / F.sqrt("m2")).alias("sr"),
        (F.col("m3") / F.pow("m2", 1.5)).alias("skew"),
        (F.col("m4") / (F.col("m2") * F.col("m2"))).alias("kurt"),
    )
    sr = F.col("sr")
    return t.select(
        "event_type",
        "n",
        F.round(sr, 6).alias("sharpe_bar"),
        F.round("skew", 6).alias("skewness"),
        F.round("kurt", 6).alias("kurtosis"),
        F.round(
            sr * F.sqrt(F.col("n") - 1.0)
            / F.sqrt(
                1.0
                - F.col("skew") * sr
                + (F.col("kurt") - 1.0) / 4.0 * sr * sr
            ),
            6,
        ).alias("dsr_z"),
    )


@register(
    "bootstrap_sharpe_ci",
    oracle=_BT_CTE + """
    , iv AS (
      SELECT event_type,
             CAST(round(pnl * 1000000.0) AS BIGINT) AS v,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY bucket_start) - 1 AS i
      FROM bt
    ),
    cnt AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM iv GROUP BY 1
    ),
    spine AS (
      SELECT c.event_type, c.n, r.r, b.b
      FROM cnt c,
           UNNEST(range(100)) AS r(r),
           UNNEST(range(CAST(ceil(c.n / 20.0) AS BIGINT))) AS b(b)
    ),
    starts AS (
      SELECT event_type, n, r,
             CAST(floor(
               ((('0x' || substring(md5(concat_ws('|', event_type,
                     CAST(r AS VARCHAR), CAST(b AS VARCHAR), 'bb')),
                   1, 12))::BIGINT + 0.5) / 281474976710656.0) * n
             ) AS BIGINT) AS s
      FROM spine
    ),
    pos AS (
      SELECT event_type, r, (s + o.o) % n AS i
      FROM starts, UNNEST(range(20)) AS o(o)
    ),
    per AS (
      SELECT p.event_type, p.r,
             CAST(count(*) AS BIGINT)            AS m,
             CAST(sum(iv.v) AS HUGEINT)          AS s1,
             sum(CAST(iv.v AS HUGEINT) * iv.v)   AS s2
      FROM pos p JOIN iv ON iv.event_type = p.event_type AND iv.i = p.i
      GROUP BY 1, 2
    ),
    sr AS (
      SELECT event_type,
             CASE WHEN CAST(m AS HUGEINT) * s2 - s1 * s1 = 0 THEN NULL
                  ELSE (CAST(s1 AS DOUBLE) / m)
                       / sqrt(CAST(CAST(m AS HUGEINT) * s2 - s1 * s1
                                   AS DOUBLE)
                              / (CAST(m AS DOUBLE) * (m - 1)))
             END AS sr
      FROM per
    ),
    pt AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT)          AS m,
             CAST(sum(v) AS HUGEINT)           AS s1,
             sum(CAST(v AS HUGEINT) * v)       AS s2
      FROM iv GROUP BY 1
    ),
    point AS (
      SELECT event_type,
             CASE WHEN CAST(m AS HUGEINT) * s2 - s1 * s1 = 0 THEN NULL
                  ELSE (CAST(s1 AS DOUBLE) / m)
                       / sqrt(CAST(CAST(m AS HUGEINT) * s2 - s1 * s1
                                   AS DOUBLE)
                              / (CAST(m AS DOUBLE) * (m - 1)))
             END AS sharpe_point
      FROM pt
    ),
    ci AS (
      SELECT event_type,
             quantile_cont(sr, 0.025)    AS ci_lo,
             quantile_cont(sr, 0.975)    AS ci_hi,
             CAST(count(sr) AS BIGINT)   AS n_resamples
      FROM sr GROUP BY 1
    )
    SELECT p.event_type,
           round(p.sharpe_point, 6) AS sharpe_point,
           round(c.ci_lo, 6)        AS ci_lo,
           round(c.ci_hi, 6)        AS ci_hi,
           c.n_resamples
    FROM point p JOIN ci c USING (event_type)
    """,
)
def bootstrap_sharpe_ci(spark, sf_dir):
    """95% circular-block-bootstrap CI for each symbol's per-bar Sharpe —
    hash-certified end to end (the dp_noisy_segment_counts trick applied
    to resampling): block membership is md5-derandomized, the P&L series
    is quantized to an exact micro-unit BIGINT grid (Sharpe is
    scale-invariant, so the unit cancels), every resample reduces to
    exact integer moments, and each Sharpe is one fixed scalar double
    recipe — no float accumulation order anywhere, so DuckDB replaying
    the same membership in SQL lands on identical doubles
    (operators/backtest.py: block_bootstrap_sharpe_int). Blocks preserve
    serial correlation; iid resampling would understate the variance."""
    from polygon_algotrading_env_spark.operators.backtest import (
        block_bootstrap_sharpe_int,
        sma_crossover_backtest,
    )

    bars = _event_bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "close"
    )
    bt = sma_crossover_backtest(bars).select(
        "event_type",
        "bucket_start",
        F.round(F.col("pnl") * 1e6).cast("bigint").alias("pnl_micro"),
    )
    out = block_bootstrap_sharpe_int(
        bt, "pnl_micro", keys=("event_type",), order_col="bucket_start",
        n_resamples=100, block_len=20,
    )
    return out.select(
        "event_type",
        F.round("sharpe_point", 6).alias("sharpe_point"),
        F.round("ci_lo", 6).alias("ci_lo"),
        F.round("ci_hi", 6).alias("ci_hi"),
        "n_resamples",
    )


@register(
    "vwap_slippage_by_symbol",
    oracle="""
    WITH v AS (
      SELECT event_type,
             time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS b,
             sum(value * value) / nullif(sum(value), 0) AS bar_vwap
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type, ts, value,
             CASE WHEN value - lag(value) OVER w > 0 THEN 1.0
                  WHEN value - lag(value) OVER w < 0 THEN -1.0 END AS raw_sign
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts)
    ),
    t AS (
      SELECT event_type, ts, value,
             last_value(raw_sign IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY ts
                     ROWS UNBOUNDED PRECEDING) AS side
      FROM s
    )
    SELECT t.event_type,
           count(t.side)                                          AS n_classified,
           round(avg(t.side * (t.value - v.bar_vwap)
                     / v.bar_vwap) * 10000, 4)                    AS avg_slippage_bps
    FROM t JOIN v ON t.event_type = v.event_type
       AND time_bucket(INTERVAL '5 minutes', CAST(t.ts AS TIMESTAMP)) = v.b
    WHERE t.side IS NOT NULL
    GROUP BY 1
    """,
)
def vwap_slippage_by_symbol(spark, sf_dir):
    """Execution-quality benchmark: each trade's signed slippage against
    its own 5-minute bucket's VWAP, in basis points — buys above VWAP and
    sells below it both cost, which the tick-rule side makes one signed
    average (TCA's standard interval-VWAP scorecard). The VWAP model is
    bucket-grain (broadcastable); the side classification reuses the
    tick-rule LOCF partitioning; the join is an exact floor-bucket
    equality. `value` plays price and size in the fixture mapping, hence
    the sum(v·v)/sum(v) VWAP."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    v = ev.groupBy(
        "event_type", F.window("ts", "5 minutes").start.alias("b")
    ).agg(
        (F.sum(F.col("value") * F.col("value"))
         / F.nullif(F.sum("value"), F.lit(0.0))).alias(
            "bar_vwap"
        )
    )
    w = Window.partitionBy("event_type").orderBy("ts")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    dp = F.col("value") - F.lag("value").over(w)
    t = ev.withColumn(
        "raw_sign", F.when(dp > 0, 1.0).when(dp < 0, -1.0)
    ).withColumn("side", F.last("raw_sign", ignorenulls=True).over(run))
    classified = t.where(F.col("side").isNotNull()).withColumn(
        "b", F.window("ts", "5 minutes").start
    )
    return (
        classified.join(F.broadcast(v), ["event_type", "b"])
        .groupBy("event_type")
        .agg(
            F.count("side").alias("n_classified"),
            F.round(
                F.avg(
                    F.col("side")
                    * (F.col("value") - F.col("bar_vwap"))
                    / F.col("bar_vwap")
                )
                * 10000,
                4,
            ).alias("avg_slippage_bps"),
        )
    )


@register(
    "almgren_chriss_schedule",
    oracle=_HLC_BARS_CTE + """
    , dp AS (
      SELECT event_type,
             close - lag(close) OVER (PARTITION BY event_type
                                      ORDER BY bucket_start) AS d
      FROM bars
    ),
    sig AS (
      SELECT event_type, stddev_samp(d) AS sigma FROM dp GROUP BY event_type
    ),
    k AS (
      SELECT event_type, sigma,
             sqrt(1e-6 * sigma * sigma / 0.01) AS kappa
      FROM sig
    ),
    spine AS (
      SELECT k.event_type, k.kappa, j
      FROM k, unnest(range(0, 13)) AS t(j)
    ),
    x AS (
      SELECT event_type, CAST(j AS INT) AS slice, kappa,
             10000.0
               * ((exp(kappa * (12 - j)) - exp(-kappa * (12 - j))) / 2)
               / ((exp(kappa * 12) - exp(-kappa * 12)) / 2) AS holdings
      FROM spine
    )
    SELECT event_type, slice,
           round(holdings, 4) AS holdings,
           round(lag(holdings) OVER (PARTITION BY event_type ORDER BY slice)
                 - holdings, 4) AS trade_qty
    FROM x
    """,
)
def almgren_chriss_schedule(spark, sf_dir):
    """Almgren-Chriss optimal liquidation schedule per symbol: sell 10,000
    units over 12 slices along the closed-form trajectory
    x_j = X·sinh(κ(N−j))/sinh(κN), with urgency κ = √(λσ²/η) driven by
    each symbol's MEASURED bar-change volatility (λ=1e-6 risk aversion,
    η=0.01 temporary impact) — volatile names front-load, quiet names
    trade evenly; the execution-planning table a TCA stack emits. sinh is
    spelled (eˣ−e⁻ˣ)/2 in BOTH engines (this DuckDB build lacks sinh),
    so the trajectories are the identical IEEE expression; the slice
    spine is a 13-row explode per symbol."""
    from pyspark.sql import Window

    bars = _bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "close"
    )
    w = Window.partitionBy("event_type").orderBy("bucket_start")
    sig = bars.withColumn(
        "dp", F.col("close") - F.lag("close").over(w)
    ).groupBy("event_type").agg(F.stddev_samp("dp").alias("sigma"))
    k = sig.select(
        "event_type",
        F.sqrt(F.lit(1e-6) * F.col("sigma") * F.col("sigma") / F.lit(0.01)).alias(
            "kappa"
        ),
    )
    spine = k.select(
        "event_type",
        "kappa",
        F.explode(F.sequence(F.lit(0), F.lit(12))).alias("j"),
    )

    def sh(x):
        return (F.exp(x) - F.exp(-x)) / 2

    x = spine.select(
        "event_type",
        F.col("j").cast("int").alias("slice"),
        (
            10000.0
            * sh(F.col("kappa") * (12 - F.col("j")))
            / sh(F.col("kappa") * 12)
        ).alias("holdings"),
    )
    ws = Window.partitionBy("event_type").orderBy("slice")
    return x.select(
        "event_type",
        "slice",
        F.round("holdings", 4).alias("holdings"),
        F.round(
            F.lag("holdings").over(ws) - F.col("holdings"), 4
        ).alias("trade_qty"),
    )


@register(
    "inverse_vol_portfolio",
    oracle=_HLC_BARS_CTE + """
    , r AS (
      SELECT event_type, bucket_start,
             close / nullif(lag(close) OVER (PARTITION BY event_type
                                      ORDER BY bucket_start), 0) - 1 AS ret
      FROM bars
    ),
    vol AS (
      SELECT event_type, stddev_samp(ret) AS sigma
      FROM r WHERE ret IS NOT NULL GROUP BY 1
    ),
    wts AS (
      SELECT event_type, (1.0 / sigma) / sum(1.0 / sigma) OVER () AS w,
             sigma
      FROM vol
    ),
    p AS (
      SELECT r.bucket_start,
             sum(w.w * r.ret) AS pret,
             count(*)         AS n_syms
      FROM r JOIN wts w ON r.event_type = w.event_type
      WHERE r.ret IS NOT NULL
      GROUP BY 1 HAVING count(*) = 5
    )
    SELECT count(*)                                     AS n_obs,
           round(stddev_samp(pret), 6)                  AS port_vol,
           round((SELECT sum(w * sigma) FROM wts)
                 / stddev_samp(pret), 6)                AS diversification_ratio
    FROM p
    """,
)
def inverse_vol_portfolio(spark, sf_dir):
    """Inverse-volatility (risk-parity-lite) portfolio: weights ∝ 1/σ
    normalized over the symbol universe, portfolio returns only on
    buckets where ALL symbols trade (balanced panel by exact count), and
    the diversification ratio Σwσ / σ_port — the one number that says how
    much the correlation structure actually buys. The weight model is a
    5-row relation; the portfolio series is one bucket-grain aggregate
    over the weighted join; every statistic downstream of it runs on the
    tiny series."""
    from pyspark.sql import Window

    bars = _bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "close"
    )
    w = Window.partitionBy("event_type").orderBy("bucket_start")
    r = bars.withColumn(
        "ret", F.col("close") / F.nullif(F.lag("close").over(w), F.lit(0.0)) - 1
    ).where(F.col("ret").isNotNull())
    vol = r.groupBy("event_type").agg(F.stddev_samp("ret").alias("sigma"))
    wts = vol.withColumn(
        "w",
        (1.0 / F.col("sigma"))
        / F.sum(1.0 / F.col("sigma")).over(Window.partitionBy()),
    )
    p = (
        r.join(F.broadcast(wts), "event_type")
        .groupBy("bucket_start")
        .agg(
            F.sum(F.col("w") * F.col("ret")).alias("pret"),
            F.count(F.lit(1)).alias("n_syms"),
        )
        .where(F.col("n_syms") == 5)
    )
    wavg = wts.agg(F.sum(F.col("w") * F.col("sigma")).alias("wsig"))
    return p.crossJoin(F.broadcast(wavg)).agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.round(F.stddev_samp("pret"), 6).alias("port_vol"),
        F.round(
            F.any_value("wsig") / F.stddev_samp("pret"), 6
        ).alias("diversification_ratio"),
    )


@register(
    "momentum_rank_stability",
    oracle=_DAILY_BARS_CTE + """
    , r AS (
      SELECT event_type, d,
             close / nullif(lag(close) OVER (PARTITION BY event_type ORDER BY d), 0)
               - 1 AS ret
      FROM bars
    ),
    rk AS (
      SELECT d, event_type,
             rank() OVER (PARTITION BY d ORDER BY ret DESC, event_type)
               AS mom_rank,
             count(*) OVER (PARTITION BY d) AS n_syms
      FROM r WHERE ret IS NOT NULL
    ),
    pairs AS (
      SELECT a.event_type, a.d,
             a.mom_rank AS rk_now,
             lag(a.mom_rank) OVER (PARTITION BY a.event_type ORDER BY a.d)
               AS rk_prev
      FROM rk a WHERE a.n_syms = 5
    )
    SELECT count(rk_prev)                                  AS n_obs,
           round(corr(rk_now, rk_prev), 6)                 AS rank_autocorr,
           round(avg(abs(rk_now - rk_prev)), 6)            AS avg_rank_move
    FROM pairs
    """,
)
def momentum_rank_stability(spark, sf_dir):
    """Strategy-capacity diagnostic for the cross-sectional momentum
    signal: the day-over-day Spearman autocorrelation of the momentum
    ranks plus the average rank move — a signal whose ranks reshuffle
    daily (autocorr ≈ 0) implies turnover that transaction costs will
    eat, regardless of its gross spread. Ranks are per-day windows over
    symbol-count-sized partitions; the stability statistics are one
    aggregate over the per-symbol lagged rank series (rank autocorr on
    integer ranks IS Spearman, computed as plain Pearson on ranks —
    identical in both engines)."""
    from pyspark.sql import Window

    bars = _bars(spark, sf_dir, "1 day").select(
        "event_type", F.col("bucket_start").alias("d"), "close"
    )
    w = Window.partitionBy("event_type").orderBy("d")
    r = bars.withColumn(
        "ret", F.col("close") / F.nullif(F.lag("close").over(w), F.lit(0.0)) - 1
    ).where(F.col("ret").isNotNull())
    wd = Window.partitionBy("d")
    rk = r.select(
        "event_type",
        "d",
        F.rank().over(wd.orderBy(F.desc("ret"), "event_type")).alias("mom_rank"),
        F.count(F.lit(1)).over(wd).alias("n_syms"),
    ).where(F.col("n_syms") == 5)
    pairs = rk.select(
        "event_type",
        F.col("mom_rank").alias("rk_now"),
        F.lag("mom_rank").over(w.orderBy("d")).alias("rk_prev"),
    )
    return pairs.agg(
        F.count("rk_prev").alias("n_obs"),
        F.round(F.corr("rk_now", "rk_prev"), 6).alias("rank_autocorr"),
        F.round(F.avg(F.abs(F.col("rk_now") - F.col("rk_prev"))), 6).alias(
            "avg_rank_move"
        ),
    )


@register(
    "ulcer_index_5m",
    oracle=_BT_CTE + """
    , eq AS (
      SELECT event_type, bucket_start,
             sum(pnl) OVER (PARTITION BY event_type ORDER BY bucket_start
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_pnl
      FROM bt
    ),
    dd AS (
      SELECT event_type,
             max(cum_pnl) OVER (PARTITION BY event_type ORDER BY bucket_start
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) - cum_pnl AS drawdown,
             cum_pnl,
             bucket_start
      FROM eq
    )
    SELECT event_type,
           count(*)                                      AS n_bars,
           round(sqrt(avg(drawdown * drawdown)), 6)      AS ulcer_index,
           round(arg_max(cum_pnl, bucket_start)
                 / nullif(sqrt(avg(drawdown * drawdown)), 0), 6)
                                                         AS pain_ratio
    FROM dd
    GROUP BY 1
    """,
)
def ulcer_index_5m(spark, sf_dir):
    """Ulcer index per strategy leg: root-mean-square drawdown — unlike
    max drawdown it prices DURATION as well as depth (a strategy that
    lingers 10% underwater for weeks hurts more than a spike of the same
    depth), and the pain ratio (final equity / ulcer) is the Martin
    ratio's return-per-unit-of-grief. Reduces the already-verified
    equity/drawdown relation with order-insensitive aggregates only;
    zero-drawdown degenerates surface as NULL pain via nullif."""
    from polygon_algotrading_env_spark.operators.backtest import (
        equity_curve,
        sma_crossover_backtest,
    )

    bars = _event_bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "close"
    )
    eq = equity_curve(sma_crossover_backtest(bars))
    ulcer = F.sqrt(F.avg(F.col("drawdown") * F.col("drawdown")))
    return eq.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_bars"),
        F.round(ulcer, 6).alias("ulcer_index"),
        F.round(
            F.max_by("cum_pnl", "bucket_start") / F.nullif(ulcer, F.lit(0)),
            6,
        ).alias("pain_ratio"),
    )


@register(
    "weekday_effect_tstat",
    oracle=_DAILY_BARS_CTE + """
    , r AS (
      SELECT event_type, d,
             close / nullif(lag(close) OVER (PARTITION BY event_type
                                             ORDER BY d), 0) - 1 AS ret
      FROM bars
    )
    SELECT CAST(dayofweek(d) AS INT)               AS dow,
           count(ret)                              AS n_obs,
           round(avg(ret), 6)                      AS mean_ret,
           round(avg(ret) / nullif(stddev_samp(ret)
                 / sqrt(count(ret)), 0), 6)        AS t_stat
    FROM r WHERE ret IS NOT NULL
    GROUP BY 1
    """,
)
def weekday_effect_tstat(spark, sf_dir):
    """Calendar-anomaly screen: mean daily return and its one-sample
    t-statistic per day-of-week, pooled across symbols — the classic
    Monday-effect test (a uniform generator should sit well inside ±2).
    NOTE the cross-engine trap this query certifies around: DuckDB's
    dayofweek is 0-based (Sunday=0) and Spark's 1-based (Sunday=1), so
    the ENGINE subtracts 1 to meet the oracle's numbering; t = mean over
    its standard error from one aggregate pass."""
    bars = _bars(spark, sf_dir, "1 day").select(
        "event_type", F.col("bucket_start").alias("d"), "close"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("d")
    r = bars.withColumn(
        "ret",
        F.col("close") / F.nullif(F.lag("close").over(w), F.lit(0.0)) - 1,
    ).where(F.col("ret").isNotNull())
    se = F.stddev_samp("ret") / F.sqrt(F.count("ret"))
    return r.groupBy(
        (F.dayofweek("d") - 1).cast("int").alias("dow")
    ).agg(
        F.count("ret").alias("n_obs"),
        F.round(F.avg("ret"), 6).alias("mean_ret"),
        F.round(F.avg("ret") / F.nullif(se, F.lit(0)), 6).alias("t_stat"),
    )


@register(
    "volume_profile_poc",
    oracle="""
    WITH rng AS (
      SELECT event_type, min(value) AS lo, max(value) AS hi
      FROM events GROUP BY 1
    ),
    binned AS (
      SELECT e.event_type,
             least(CAST(floor((e.value - r.lo) / ((r.hi - r.lo) / 20.0))
                        AS INT), 19)            AS bin,
             sum(e.value)                        AS vol
      FROM events e JOIN rng r ON e.event_type = r.event_type
      WHERE r.hi > r.lo
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, bin, vol,
             sum(vol) OVER (PARTITION BY event_type) AS tv,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY vol DESC, bin) AS rk
      FROM binned
    )
    SELECT event_type,
           bin                                   AS poc_bin,
           round(vol, 4)                         AS poc_volume,
           round(vol / tv, 6)                    AS poc_share
    FROM tot WHERE rk = 1
    """,
)
def volume_profile_poc(spark, sf_dir):
    """Market-profile point of control: the 20-bin price level holding the
    most traded volume per symbol, with its share of total — the
    highest-acceptance price that volume-profile traders anchor support/
    resistance on. Bin edges come from each symbol's exact (min, max)
    broadcast back (explicit IEEE arithmetic — same convention as the
    certified price histogram, top bin clamped); the argmax is a
    row_number over the 20-row-per-symbol bin relation with a bin
    tiebreak."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    rng = ev.groupBy("event_type").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    ).where(F.col("hi") > F.col("lo"))
    binned = (
        ev.join(F.broadcast(rng), "event_type")
        .groupBy(
            "event_type",
            F.least(
                F.floor(
                    (F.col("value") - F.col("lo"))
                    / ((F.col("hi") - F.col("lo")) / 20.0)
                ).cast("int"),
                F.lit(19),
            ).alias("bin"),
        )
        .agg(F.sum("value").alias("vol"))
    )
    w = Window.partitionBy("event_type")
    tot = binned.select(
        "event_type",
        "bin",
        "vol",
        F.sum("vol").over(w).alias("tv"),
        F.row_number()
        .over(w.orderBy(F.desc("vol"), "bin"))
        .alias("rk"),
    )
    return tot.where(F.col("rk") == 1).select(
        "event_type",
        F.col("bin").alias("poc_bin"),
        F.round("vol", 4).alias("poc_volume"),
        F.round(F.col("vol") / F.col("tv"), 6).alias("poc_share"),
    )


@register(
    "updown_streak_stats",
    oracle=_DAILY_BARS_CTE + """
    , r AS (
      SELECT event_type, d,
             CASE WHEN close > lag(close) OVER w THEN 1
                  WHEN close < lag(close) OVER w THEN -1 END AS dir
      FROM bars
      WINDOW w AS (PARTITION BY event_type ORDER BY d)
    ),
    marked AS (
      SELECT event_type, d, dir,
             CASE WHEN dir IS DISTINCT FROM lag(dir)
                    OVER (PARTITION BY event_type ORDER BY d)
                  THEN 1 ELSE 0 END AS brk
      FROM r WHERE dir IS NOT NULL
    ),
    isl AS (
      SELECT event_type, dir,
             sum(brk) OVER (PARTITION BY event_type ORDER BY d
                            ROWS UNBOUNDED PRECEDING) AS grp
      FROM marked
    ),
    streaks AS (
      SELECT event_type, dir, grp, count(*) AS len
      FROM isl GROUP BY 1, 2, 3
    )
    SELECT event_type,
           count(*)                                          AS n_streaks,
           max(CASE WHEN dir = 1  THEN len END)              AS longest_up,
           max(CASE WHEN dir = -1 THEN len END)              AS longest_down,
           round(avg(len), 6)                                AS avg_streak
    FROM streaks
    GROUP BY 1
    """,
)
def updown_streak_stats(spark, sf_dir):
    """Momentum-persistence fingerprint: the distribution of consecutive
    up/down daily-close streaks per symbol (longest run each way, mean
    length, streak count) — a random walk averages ~2 and long tails
    betray trending or mean-reverting regimes before any backtest runs.
    Gaps-and-islands with the island id as the running count of direction
    CHANGES (IS DISTINCT FROM handles the flat-day NULLs the same way in
    both engines); flat days break streaks by dropping out."""
    from pyspark.sql import Window

    bars = _bars(spark, sf_dir, "1 day").select(
        "event_type", F.col("bucket_start").alias("d"), "close"
    )
    w = Window.partitionBy("event_type").orderBy("d")
    direction = (
        F.when(F.col("close") > F.lag("close").over(w), 1)
        .when(F.col("close") < F.lag("close").over(w), -1)
    )
    r = bars.withColumn("dir", direction).where(F.col("dir").isNotNull())
    brk = F.when(
        ~F.col("dir").eqNullSafe(F.lag("dir").over(w)), 1
    ).otherwise(0)
    isl = r.withColumn("brk", brk).withColumn(
        "grp",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    streaks = isl.groupBy("event_type", "dir", "grp").agg(
        F.count(F.lit(1)).alias("len")
    )
    return streaks.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_streaks"),
        F.max(F.when(F.col("dir") == 1, F.col("len"))).alias("longest_up"),
        F.max(F.when(F.col("dir") == -1, F.col("len"))).alias("longest_down"),
        F.round(F.avg("len"), 6).alias("avg_streak"),
    )


@register(
    "overnight_gap_fill_rates",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             time_bucket(INTERVAL '1 day', CAST(ts AS TIMESTAMP)) AS d,
             arg_min(value, ts) AS open,
             arg_max(value, ts) AS close,
             max(value)         AS high,
             min(value)         AS low
      FROM events GROUP BY 1, 2
    ),
    g AS (
      SELECT event_type, d, open, high, low,
             lag(close) OVER (PARTITION BY event_type ORDER BY d)
               AS prev_close
      FROM daily
    ),
    cls AS (
      SELECT event_type,
             CASE WHEN open > prev_close THEN 'up'
                  WHEN open < prev_close THEN 'down' END       AS gap_dir,
             CASE WHEN open > prev_close AND low  <= prev_close THEN 1
                  WHEN open < prev_close AND high >= prev_close THEN 1
                  ELSE 0 END                                   AS filled
      FROM g WHERE prev_close IS NOT NULL AND open <> prev_close
    )
    SELECT event_type, gap_dir,
           count(*)                    AS n_gaps,
           CAST(sum(filled) AS BIGINT) AS n_filled,
           round(avg(filled * 1.0), 6) AS fill_rate
    FROM cls GROUP BY 1, 2
    """,
)
def overnight_gap_fill_rates(spark, sf_dir):
    """Gap analysis: how often an overnight gap 'fills' the same day (an
    up-gap day whose low revisits the prior close, and symmetrically) —
    the statistic behind fade-the-gap strategies, split by direction per
    symbol. Daily OHLC from one aggregate (open/close as
    arg_min/arg_max on exact event time), prior close from one lag, the
    fill test from that day's own high/low — no intraday re-scan."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.window("ts", "1 day").start.alias("d")
    ).agg(
        F.min_by("value", "ts_ns").alias("open"),
        F.max_by("value", "ts_ns").alias("close"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
    )
    w = Window.partitionBy("event_type").orderBy("d")
    g = daily.withColumn("prev_close", F.lag("close").over(w)).where(
        F.col("prev_close").isNotNull()
        & (F.col("open") != F.col("prev_close"))
    )
    gap_dir = F.when(F.col("open") > F.col("prev_close"), "up").when(
        F.col("open") < F.col("prev_close"), "down"
    )
    filled = (
        F.when(
            (F.col("open") > F.col("prev_close"))
            & (F.col("low") <= F.col("prev_close")),
            1,
        )
        .when(
            (F.col("open") < F.col("prev_close"))
            & (F.col("high") >= F.col("prev_close")),
            1,
        )
        .otherwise(0)
    )
    return (
        g.select("event_type", gap_dir.alias("gap_dir"), filled.alias("filled"))
        .groupBy("event_type", "gap_dir")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.sum("filled").alias("n_filled"),
            F.round(F.avg(F.col("filled") * 1.0), 6).alias("fill_rate"),
        )
    )


@register(
    "swing_points_5m",
    oracle=_HLC_BARS_CTE + """
    , sw AS (
      SELECT event_type, bucket_start, high, low,
             max(high) OVER w2 AS hmax, count(*) OVER w2 AS nw,
             min(low)  OVER w2 AS lmin
      FROM bars
      WINDOW w2 AS (PARTITION BY event_type ORDER BY bucket_start
                    ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
    )
    SELECT event_type,
           CAST(sum(CASE WHEN high = hmax AND nw = 5 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_swing_highs,
           CAST(sum(CASE WHEN low = lmin AND nw = 5 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_swing_lows
    FROM sw GROUP BY 1
    """,
)
def swing_points_5m(spark, sf_dir):
    """Swing-point census: bars whose high is the maximum (or low the
    minimum) of the ±2-bar neighborhood — the pivot highs/lows chart
    structure (trendlines, S/R zones, zig-zag) is built from. The ±2
    frame is a centered rows window on the one per-symbol partitioning;
    edge bars with partial windows are excluded by exact count; ties
    (two equal highs in one window) count both — the oracle certifies
    the same convention."""
    from pyspark.sql import Window

    bars = _bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "high", "low"
    )
    w2 = (
        Window.partitionBy("event_type")
        .orderBy("bucket_start")
        .rowsBetween(-2, 2)
    )
    sw = bars.select(
        "event_type",
        "high",
        "low",
        F.max("high").over(w2).alias("hmax"),
        F.min("low").over(w2).alias("lmin"),
        F.count(F.lit(1)).over(w2).alias("nw"),
    )
    return sw.groupBy("event_type").agg(
        F.sum(
            F.when((F.col("high") == F.col("hmax")) & (F.col("nw") == 5), 1)
            .otherwise(0)
        ).alias("n_swing_highs"),
        F.sum(
            F.when((F.col("low") == F.col("lmin")) & (F.col("nw") == 5), 1)
            .otherwise(0)
        ).alias("n_swing_lows"),
    )


@register(
    "interarrival_cv",
    oracle="""
    WITH ia AS (
      SELECT event_type,
             (epoch_ms(ts) - lag(epoch_ms(ts))
                OVER (PARTITION BY event_type ORDER BY ts)) / 1000.0
               AS dt
      FROM events
    )
    SELECT event_type,
           count(dt)                                       AS n_obs,
           round(avg(dt), 6)                               AS mean_dt_s,
           round(stddev_samp(dt) / nullif(avg(dt), 0), 6)  AS cv
    FROM ia WHERE dt IS NOT NULL
    GROUP BY 1
    """,
)
def interarrival_cv(spark, sf_dir):
    """Order-flow clustering diagnostic: the coefficient of variation of
    inter-arrival times per symbol — a Poisson tape has CV ≈ 1, CV >> 1
    means bursty (self-exciting, Hawkes-like) arrivals that invalidate
    constant-rate assumptions in execution schedulers. Inter-arrivals
    from one lag over epoch millis (exact integers before the single
    float division); one aggregate pass."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts")
    ms = F.expr("ts_ns DIV 1000000")
    ia = ev.select(
        "event_type",
        ((ms - F.lag(ms).over(w)) / 1000.0).alias("dt"),
    ).where(F.col("dt").isNotNull())
    return ia.groupBy("event_type").agg(
        F.count("dt").alias("n_obs"),
        F.round(F.avg("dt"), 6).alias("mean_dt_s"),
        F.round(
            F.stddev_samp("dt") / F.nullif(F.avg("dt"), F.lit(0)), 6
        ).alias("cv"),
    )


@register(
    "stale_tick_fraction",
    oracle="""
    WITH d AS (
      SELECT event_type,
             CASE WHEN value = lag(value) OVER w THEN 1 ELSE 0 END AS stale
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts)
    )
    SELECT event_type,
           count(*)                   AS n_ticks,
           CAST(sum(stale) AS BIGINT) AS n_stale,
           round(avg(stale * 1.0), 6) AS stale_fraction
    FROM d GROUP BY 1
    """,
)
def stale_tick_fraction(spark, sf_dir):
    """Tape-quality audit: the share of ticks identical to their
    predecessor per symbol — a healthy feed ticks, a stale one repeats
    (crossed connections, cached snapshots, decimal truncation all show
    up here first). One lag comparison on the per-symbol ordered
    partitioning; the first tick counts as non-stale on both engines
    (NULL ≠ value in the CASE/when)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts")
    stale = F.when(
        F.col("value") == F.lag("value").over(w), 1
    ).otherwise(0)
    return ev.select("event_type", stale.alias("stale")).groupBy(
        "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_ticks"),
        F.sum("stale").alias("n_stale"),
        F.round(F.avg(F.col("stale") * 1.0), 6).alias("stale_fraction"),
    )


@register(
    "candle_pattern_census",
    oracle="""
    WITH b AS (
      SELECT event_type,
             time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS t,
             arg_min(value, ts) AS open,
             max(value)         AS high,
             min(value)         AS low,
             arg_max(value, ts) AS close
      FROM events GROUP BY 1, 2
    ),
    f AS (
      SELECT event_type,
             abs(close - open)                    AS body,
             high - low                           AS range,
             least(open, close) - low             AS lower_wick,
             high - greatest(open, close)         AS upper_wick,
             lag(open)  OVER w AS p_open,
             lag(close) OVER w AS p_close,
             open, close
      FROM b
      WINDOW w AS (PARTITION BY event_type ORDER BY t)
    )
    SELECT event_type,
           count(*) AS n_bars,
           CAST(sum(CASE WHEN range > 0 AND body * 10 <= range
                    THEN 1 ELSE 0 END) AS BIGINT)            AS n_doji,
           CAST(sum(CASE WHEN range > 0 AND lower_wick >= 2 * body
                     AND upper_wick * 3 <= range
                    THEN 1 ELSE 0 END) AS BIGINT)            AS n_hammer,
           CAST(sum(CASE WHEN p_close IS NOT NULL
                     AND close > open AND p_close < p_open
                     AND close >= p_open AND open <= p_close
                    THEN 1 ELSE 0 END) AS BIGINT)            AS n_bull_engulf
    FROM f GROUP BY 1
    """,
)
def candle_pattern_census(spark, sf_dir):
    """Candlestick pattern census per symbol: doji (body ≤ 10% of range),
    hammer (long lower wick, short upper), and bullish engulfing (an up
    body swallowing the prior down body) — the chart-pattern screens that
    run as pure OHLC arithmetic, no images, no ML. All three thresholds
    are integer-scaled comparisons (body·10 ≤ range, wick ≥ 2·body) so
    the cuts are exact on both engines; engulfing needs one lag on the
    per-symbol partitioning."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    b = ev.groupBy(
        "event_type", F.window("ts", "5 minutes").start.alias("t")
    ).agg(
        F.min_by("value", "ts_ns").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", "ts_ns").alias("close"),
    )
    w = Window.partitionBy("event_type").orderBy("t")
    body = F.abs(F.col("close") - F.col("open"))
    rng = F.col("high") - F.col("low")
    lower = F.least("open", "close") - F.col("low")
    upper = F.col("high") - F.greatest("open", "close")
    f = b.select(
        "event_type",
        body.alias("body"),
        rng.alias("range"),
        lower.alias("lower_wick"),
        upper.alias("upper_wick"),
        F.lag("open").over(w).alias("p_open"),
        F.lag("close").over(w).alias("p_close"),
        "open",
        "close",
    )
    return f.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_bars"),
        F.sum(
            F.when(
                (F.col("range") > 0) & (F.col("body") * 10 <= F.col("range")),
                1,
            ).otherwise(0)
        ).alias("n_doji"),
        F.sum(
            F.when(
                (F.col("range") > 0)
                & (F.col("lower_wick") >= 2 * F.col("body"))
                & (F.col("upper_wick") * 3 <= F.col("range")),
                1,
            ).otherwise(0)
        ).alias("n_hammer"),
        F.sum(
            F.when(
                F.col("p_close").isNotNull()
                & (F.col("close") > F.col("open"))
                & (F.col("p_close") < F.col("p_open"))
                & (F.col("close") >= F.col("p_open"))
                & (F.col("open") <= F.col("p_close")),
                1,
            ).otherwise(0)
        ).alias("n_bull_engulf"),
    )


@register(
    "am_pm_return_corr",
    oracle="""
    WITH half AS (
      SELECT event_type,
             CAST(ts AS DATE) AS d,
             CASE WHEN extract(hour FROM ts) < 12 THEN 'am' ELSE 'pm' END
               AS half,
             arg_min(value, ts) AS o,
             arg_max(value, ts) AS c
      FROM events GROUP BY 1, 2, 3
    ),
    wide AS (
      SELECT event_type, d,
             max(CASE WHEN half = 'am' THEN c / nullif(o, 0) - 1 END)
               AS am_ret,
             max(CASE WHEN half = 'pm' THEN c / nullif(o, 0) - 1 END)
               AS pm_ret
      FROM half GROUP BY 1, 2
    )
    SELECT event_type,
           count(*)                          AS n_days,
           round(corr(am_ret, pm_ret), 6)    AS am_pm_corr
    FROM wide
    WHERE am_ret IS NOT NULL AND pm_ret IS NOT NULL
    GROUP BY 1
    """,
)
def am_pm_return_corr(spark, sf_dir):
    """Intraday momentum: the correlation between each day's morning and
    afternoon returns per symbol — positive means AM strength carries
    into the PM (intraday momentum), negative means reversal; the
    statistic behind noon-rebalance strategies. Half-day open/close from
    one aggregate per (symbol, day, half); the daily pivot is a 2-cell
    conditional max; one correlation aggregate over the day-grain
    relation."""
    ev = load_table(spark, sf_dir, "events")
    half = ev.groupBy(
        "event_type",
        F.to_date("ts").alias("d"),
        F.when(F.hour("ts") < 12, "am").otherwise("pm").alias("half"),
    ).agg(
        F.min_by("value", "ts_ns").alias("o"),
        F.max_by("value", "ts_ns").alias("c"),
    )
    ret = F.col("c") / F.nullif(F.col("o"), F.lit(0.0)) - 1
    wide = half.groupBy("event_type", "d").agg(
        F.max(F.when(F.col("half") == "am", ret)).alias("am_ret"),
        F.max(F.when(F.col("half") == "pm", ret)).alias("pm_ret"),
    )
    return (
        wide.where(
            F.col("am_ret").isNotNull() & F.col("pm_ret").isNotNull()
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(F.corr("am_ret", "pm_ret"), 6).alias("am_pm_corr"),
        )
    )


@register(
    "return_dispersion_5m",
    oracle=_HLC_BARS_CTE + """
    , r AS (
      SELECT event_type, bucket_start,
             close / nullif(lag(close) OVER (PARTITION BY event_type
                                             ORDER BY bucket_start), 0) - 1
               AS ret
      FROM bars
    ),
    d AS (
      SELECT bucket_start,
             count(ret)          AS n_syms,
             stddev_samp(ret)    AS disp
      FROM r WHERE ret IS NOT NULL
      GROUP BY 1 HAVING count(ret) = 5
    )
    SELECT count(*)                      AS n_buckets,
           round(avg(disp), 6)           AS avg_dispersion,
           round(max(disp), 6)           AS max_dispersion,
           round(quantile_cont(disp, 0.9), 6) AS p90_dispersion
    FROM d
    """,
)
def return_dispersion_5m(spark, sf_dir):
    """Cross-sectional return dispersion: the stddev ACROSS symbols within
    each bucket — the dispersion-trading signal (high dispersion = stock-
    picking pays, low = index-like tape) and the denominator of
    correlation-regime monitors. Per-bucket stddev over symbol-count-
    sized groups, balanced buckets only; the summary reduces the bucket-
    grain series with an exact interpolated p90."""
    from pyspark.sql import Window

    bars = _bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "close"
    )
    w = Window.partitionBy("event_type").orderBy("bucket_start")
    r = bars.withColumn(
        "ret",
        F.col("close") / F.nullif(F.lag("close").over(w), F.lit(0.0)) - 1,
    ).where(F.col("ret").isNotNull())
    d = (
        r.groupBy("bucket_start")
        .agg(
            F.count("ret").alias("n_syms"),
            F.stddev_samp("ret").alias("disp"),
        )
        .where(F.col("n_syms") == 5)
    )
    return d.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.round(F.avg("disp"), 6).alias("avg_dispersion"),
        F.round(F.max("disp"), 6).alias("max_dispersion"),
        F.round(F.expr("percentile(disp, 0.9)"), 6).alias("p90_dispersion"),
    )


@register(
    "trade_size_tail_index",
    oracle="""
    WITH ranked AS (
      SELECT value,
             row_number() OVER (ORDER BY value DESC, event_id) AS rnk
      FROM events WHERE value > 0
    )
    SELECT count(*)                                    AS n_tail,
           round(regr_slope(ln(rnk), ln(value)), 6)    AS tail_slope,
           round(regr_r2(ln(rnk), ln(value)), 6)       AS r2
    FROM ranked WHERE rnk <= 1000
    """,
)
def trade_size_tail_index(spark, sf_dir):
    """Power-law tail test for trade sizes: the log-log CCDF slope over
    the 1000 largest trades (rank vs size) — real order flow runs a
    Pareto tail with slope ≈ −1.5 (the 'inverse cubic law' territory)
    while lognormal or uniform generators flatten out; execution models
    calibrated on the wrong tail misprice large-order risk. The global
    ranking touches only the top-k (TakeOrderedAndProject-sized at any
    corpus scale via a size-threshold pushdown in production); the
    regression is one moment aggregate over 1000 rows."""
    ev = load_table(spark, sf_dir, "events").where(F.col("value") > 0)
    from pyspark.sql import Window

    ranked = ev.select(
        "value",
        F.row_number()
        .over(Window.orderBy(F.desc("value"), "event_id"))
        .alias("rnk"),
    ).where(F.col("rnk") <= 1000)
    return ranked.agg(
        F.count(F.lit(1)).alias("n_tail"),
        F.round(F.regr_slope(F.log("rnk"), F.log("value")), 6).alias(
            "tail_slope"
        ),
        F.round(F.regr_r2(F.log("rnk"), F.log("value")), 6).alias("r2"),
    )


@register(
    "hurst_exponent_by_type",
    headline=True,
    oracle=_CLOSE_BARS_5M_CTE + """,
    rets AS (
      SELECT event_type,
             CASE WHEN close > 0 AND lag(close) OVER w > 0
                  THEN ln(close / lag(close) OVER w) END AS r,
             row_number() OVER w - 2 AS i
      FROM bars
      WINDOW w AS (PARTITION BY event_type ORDER BY bucket_start)
    ),
    scaled AS (
      SELECT f.event_type, m.m, f.i // m.m AS blk, sum(f.r) AS s,
             count(*) AS n
      FROM (SELECT * FROM rets WHERE r IS NOT NULL) f
      CROSS JOIN (SELECT unnest([1, 2, 4, 8, 16]) AS m) m
      GROUP BY 1, 2, 3
    ),
    vars AS (
      SELECT event_type, m, var_samp(s) AS v, count(*) AS n_blocks
      FROM scaled WHERE n = m
      GROUP BY 1, 2 HAVING count(*) >= 2 AND var_samp(s) > 0
    )
    SELECT event_type,
           CAST(count(*) AS INT)                     AS n_scales,
           round(regr_slope(ln(v), ln(m)) / 2, 6)    AS hurst
    FROM vars GROUP BY 1
    """,
)
def hurst_exponent_by_type(spark, sf_dir):
    """Hurst exponent per symbol by the aggregated-variance method: if
    log-returns were i.i.d. (H=0.5) the variance of m-aggregated block
    sums grows linearly in m; persistent series grow faster, mean-
    reverting slower — H = slope of ln Var(block sum) on ln m over
    m∈{1,2,4,8,16}, divided by 2. The regime diagnostic quant pipelines
    run before fitting anything autoregressive.

    Plan: 5-minute bars → one lag() window for log returns → a 5-row
    scale spine exploded onto the return index (integer DIV block ids,
    complete blocks only) → variance per (key, scale) → regr_slope over
    ≤5 points per key. Every relation after the bar aggregate is
    key×scale-bounded; the return stream shuffles once. Round-6 on a
    slope of logs — never on the rounding grid.

    Scale shape: the lag/row_number pass over the bar stream used to
    partition on ``event_type`` alone (~4 values → ≤4 tasks own every
    bar); it now runs zone-decomposed (operators/zonedroll.py, carry=1
    for the lag) so one symbol's bar history parallelizes across range
    zones — bit-identical by the carry-replication law."""
    from polygon_algotrading_env_spark.operators.zonedroll import (
        zoned_stream,
        zoning_mode,
    )

    bars = _bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "close"
    )
    z = zoned_stream(
        bars, keys=["event_type"], order=["bucket_start"], carry=1,
        mode=zoning_mode(sf_dir),
    )
    # zero prices exist in the fixture at larger SFs: returns are defined
    # only for positive consecutive closes (NULL otherwise, dropped) —
    # explicit on BOTH engines, since ANSI Spark errors on x/0 and DuckDB
    # errors on ln(0).
    prev = F.lag("close").over(z.w)
    rets = (
        z.finish(
            z.frame.select(
                "event_type",
                "__carry",
                F.when(
                    (F.col("close") > 0) & (prev > 0),
                    F.log(F.col("close") / prev),
                ).alias("r"),
                (z.row_number() - 2).alias("i"),
            )
        )
        .where(F.col("r").isNotNull())
    )
    scales = F.explode(F.array(*[F.lit(m) for m in (1, 2, 4, 8, 16)]))
    scaled = (
        rets.select("event_type", "r", "i", scales.alias("m"))
        .groupBy("event_type", "m", F.expr("i DIV m").alias("blk"))
        .agg(F.sum("r").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    vars_ = (
        scaled.where(F.col("n") == F.col("m"))
        .groupBy("event_type", "m")
        .agg(F.var_samp("s").alias("v"), F.count(F.lit(1)).alias("n_blocks"))
        .where((F.col("n_blocks") >= 2) & (F.col("v") > 0))
    )
    return vars_.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("int").alias("n_scales"),
        F.round(
            F.expr("regr_slope(ln(v), ln(m))") / 2, 6
        ).alias("hurst"),
    )


@register(
    "regular_hours_bars",
    oracle="""
    WITH bars AS (
      SELECT event_type,
             time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP))
               AS bucket_start,
             arg_min(value, ts) AS open,
             max(value)         AS high,
             min(value)         AS low,
             arg_max(value, ts) AS close,
             count(*)           AS n_trades
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, bucket_start,
           strftime(bucket_start, '%Y-%m-%d') AS session_day,
           round(open, 4)  AS open,
           round(high, 4)  AS high,
           round(low, 4)   AS low,
           round(close, 4) AS close,
           n_trades
    FROM bars
    WHERE CAST(bucket_start AS TIME) >= TIME '13:30:00'
      AND CAST(bucket_start AS TIME) <  TIME '20:00:00'
    """,
)
def regular_hours_bars(spark, sf_dir):
    """Regular-trading-hours filter over the 5-minute bars (13:30–20:00
    UTC — the NYSE cash session the reference's US-stock candles live
    in): the session-alignment step before any daily statistic, since
    pre/post-market prints contaminate OHLC and volume profiles. The
    predicate is pure bucket arithmetic on the already-aggregated bar
    relation — evaluated AFTER the bar aggregate (a tumbling-window
    bucket can't be pruned at scan time), with the session day carried
    for downstream daily rollups."""
    bars = _bars(spark, sf_dir, "5 minutes")
    secs = (
        F.unix_timestamp("bucket_start")
        - F.unix_timestamp(F.date_trunc("DAY", "bucket_start"))
    )
    return (
        bars.where(
            (secs >= 13 * 3600 + 30 * 60) & (secs < 20 * 3600)
        )
        .select(
            "event_type",
            "bucket_start",
            F.date_format("bucket_start", "yyyy-MM-dd").alias("session_day"),
            F.round("open", 4).alias("open"),
            F.round("high", 4).alias("high"),
            F.round("low", 4).alias("low"),
            F.round("close", 4).alias("close"),
            "n_trades",
        )
    )


@register(
    "overnight_intraday_returns",
    oracle="""
    WITH daily AS (
      SELECT event_type, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS d,
             arg_min(value, ts) AS open,
             arg_max(value, ts) AS close
      FROM events GROUP BY 1, 2
    ),
    seq AS (
      SELECT event_type, d, open, close,
             lag(close) OVER (PARTITION BY event_type ORDER BY d)
               AS prev_close
      FROM daily
    )
    SELECT event_type, d,
           round(open / prev_close - 1, 6)  AS overnight_ret,
           round(close / open - 1, 6)       AS intraday_ret,
           round(close / prev_close - 1, 6) AS total_ret
    FROM seq
    WHERE prev_close > 0 AND open > 0
    """,
)
def overnight_intraday_returns(spark, sf_dir):
    """Overnight/intraday return decomposition per symbol-day — the
    classic split (close→open gap vs open→close session move) behind
    overnight-premium studies; total return factors exactly as
    (1+overnight)(1+intraday)−1. Daily OHLC is one hash aggregate at
    (symbol, day) grain; prev_close is one lag over the DAY-grain
    relation (never the tick stream); zero prices excluded on both
    engines (the sf0.1 zero-price class)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("d")
    ).agg(
        F.min_by("value", "ts_ns").alias("open"),
        F.max_by("value", "ts_ns").alias("close"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("d")
    seq = daily.withColumn("prev_close", F.lag("close").over(w))
    return seq.where(
        (F.col("prev_close") > 0) & (F.col("open") > 0)
    ).select(
        "event_type",
        "d",
        F.round(F.col("open") / F.col("prev_close") - 1, 6).alias(
            "overnight_ret"
        ),
        F.round(F.col("close") / F.col("open") - 1, 6).alias("intraday_ret"),
        F.round(F.col("close") / F.col("prev_close") - 1, 6).alias(
            "total_ret"
        ),
    )


@register(
    "lead_lag_best_correlation",
    oracle=_CLOSE_BARS_5M_CTE + """,
    rets AS (
      SELECT event_type,
             row_number() OVER w AS i,
             CASE WHEN close > 0 AND lag(close) OVER w > 0
                  THEN ln(close / lag(close) OVER w) END AS r
      FROM bars
      WINDOW w AS (PARTITION BY event_type ORDER BY bucket_start)
    ),
    lagged AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b, l.lag,
             corr(a.r, b.r) AS c, count(*) AS n
      FROM (SELECT * FROM rets WHERE r IS NOT NULL) a
      JOIN (SELECT unnest(range(-5, 6)) AS lag) l ON TRUE
      JOIN (SELECT * FROM rets WHERE r IS NOT NULL) b
        ON a.event_type < b.event_type AND b.i = a.i + l.lag
      GROUP BY 1, 2, 3
      HAVING count(*) >= 30
    )
    SELECT type_a, type_b,
           CAST(arg_max(lag, abs(c)) AS INT) AS best_lag,
           round(arg_max(c, abs(c)), 6)      AS best_corr
    FROM lagged GROUP BY 1, 2
    """,
)
def lead_lag_best_correlation(spark, sf_dir):
    """Lead-lag structure between symbols: for every pair, the bar offset
    (±5 bars) whose return cross-correlation has the largest magnitude —
    positive best_lag means type_a's returns correlate with type_b's
    LATER returns (a leads b), the screen behind lead-lag/Granger
    studies. The lag spine (11 rows) explodes against one side of the
    5-minute return relation and equi-joins the other on the shifted
    ordinal — per-key time joins, never a full cross product; the
    argmax-over-lags reduction runs on the pair-by-lag-bounded
    aggregate. Under-populated lags (<30 overlapping bars) are dropped
    on both engines."""
    from pyspark.sql import Window

    bars = _bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "close"
    )
    w = Window.partitionBy("event_type").orderBy("bucket_start")
    prev = F.lag("close").over(w)
    rets = (
        bars.select(
            "event_type",
            F.row_number().over(w).alias("i"),
            F.when(
                (F.col("close") > 0) & (prev > 0),
                F.log(F.col("close") / prev),
            ).alias("r"),
        )
        .where(F.col("r").isNotNull())
    )
    a = rets.select(
        F.col("event_type").alias("type_a"),
        F.col("i").alias("ia"),
        F.col("r").alias("ra"),
    ).withColumn("lag", F.explode(F.sequence(F.lit(-5), F.lit(5))))
    b = rets.select(
        F.col("event_type").alias("type_b"),
        F.col("i").alias("ib"),
        F.col("r").alias("rb"),
    )
    lagged = (
        a.join(
            b,
            (F.col("type_a") < F.col("type_b"))
            & (F.col("ib") == F.col("ia") + F.col("lag")),
        )
        .groupBy("type_a", "type_b", "lag")
        .agg(F.corr("ra", "rb").alias("c"), F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 30)
    )
    return lagged.groupBy("type_a", "type_b").agg(
        F.max_by("lag", F.abs("c")).cast("int").alias("best_lag"),
        F.round(F.max_by("c", F.abs("c")), 6).alias("best_corr"),
    )


@register(
    "v_reversal_patterns",
    oracle=_CLOSE_BARS_5M_CTE + """,
    seq AS (
      SELECT event_type, bucket_start, close,
             lag(close, 4) OVER w AS c4,
             lag(close, 3) OVER w AS c3,
             lag(close, 2) OVER w AS c2,
             lag(close, 1) OVER w AS c1
      FROM bars
      WINDOW w AS (PARTITION BY event_type ORDER BY bucket_start)
    )
    SELECT event_type, bucket_start,
           round(c2, 4)                      AS trough,
           round((close / c2 - 1), 6)        AS rebound
    FROM seq
    WHERE c4 > c3 AND c3 > c2 AND c2 < c1 AND c1 < close AND c2 > 0
    """,
)
def v_reversal_patterns(spark, sf_dir):
    """Sequential pattern detection without a CEP engine: V-shaped
    reversals (two consecutive down bars into a trough, two consecutive
    up bars out) found with one lag-stack over the per-symbol bar order
    — the MATCH_RECOGNIZE-style row-pattern query expressed as window
    algebra, which is how fixed-length patterns should run on Spark
    (state machines only pay off for unbounded patterns). One window
    partitioning, predicates evaluated post-lag, zero joins."""
    from pyspark.sql import Window

    bars = _bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "close"
    )
    w = Window.partitionBy("event_type").orderBy("bucket_start")
    lag = lambda n: F.lag("close", n).over(w)
    seq = bars.select(
        "event_type",
        "bucket_start",
        "close",
        lag(4).alias("c4"),
        lag(3).alias("c3"),
        lag(2).alias("c2"),
        lag(1).alias("c1"),
    )
    return seq.where(
        (F.col("c4") > F.col("c3"))
        & (F.col("c3") > F.col("c2"))
        & (F.col("c2") < F.col("c1"))
        & (F.col("c1") < F.col("close"))
        & (F.col("c2") > 0)
    ).select(
        "event_type",
        "bucket_start",
        F.round("c2", 4).alias("trough"),
        F.round(F.col("close") / F.col("c2") - 1, 6).alias("rebound"),
    )


def _daily_returns(spark, sf_dir):
    """(event_type, d, r): each symbol's close-to-close daily return, days
    without a positive previous and current close dropped."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("d")
    ).agg(F.max_by("value", "ts_ns").alias("close"))
    w = Window.partitionBy("event_type").orderBy("d")
    prev = F.lag("close").over(w)
    return daily.select(
        "event_type",
        "d",
        F.when(
            (F.col("close") > 0) & (prev > 0), F.col("close") / prev - 1
        ).alias("r"),
    ).where(F.col("r").isNotNull())


@register(
    "risk_adjusted_metrics",
    oracle="""
    WITH daily AS (
      SELECT event_type, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS d,
             arg_max(value, ts) AS close
      FROM events GROUP BY 1, 2
    ),
    rets AS (
      SELECT event_type, d, close,
             CASE WHEN close > 0 AND lag(close) OVER w > 0
                  THEN close / lag(close) OVER w - 1 END AS r
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY d)
    ),
    cums AS (
      SELECT event_type, d, r,
             sum(r) OVER (PARTITION BY event_type ORDER BY d
                          ROWS UNBOUNDED PRECEDING) AS cum
      FROM rets WHERE r IS NOT NULL
    ),
    eq AS (
      SELECT event_type, d, r, cum,
             max(cum) OVER (PARTITION BY event_type ORDER BY d
                            ROWS UNBOUNDED PRECEDING) AS peak
      FROM cums
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT)                       AS n_days,
           round(avg(r), 6)                               AS mean_ret,
           round(sqrt(avg(CASE WHEN r < 0 THEN r * r
                               ELSE 0 END)), 6)           AS downside_dev,
           round(max(peak - cum), 6)                      AS max_drawdown
    FROM eq GROUP BY 1
    """,
)
def risk_adjusted_metrics(spark, sf_dir):
    """Per-symbol risk metrics off daily returns: mean return, downside
    deviation (the Sortino denominator — root-mean-square of negative
    returns only), and maximum drawdown of the cumulative-return curve
    (the Calmar denominator). Day-grain relation throughout: returns are
    one lag, the running-peak-minus-cumsum drawdown is two nested
    prefix-window passes over ~100 rows per key, the final reduction one
    hash aggregate. Ratio assembly (mean/downside, return/drawdown) is
    left to the consumer so the certified surface stays
    division-by-zero-free on symbols with no losses. Round-6 guards the
    prefix-sum ulp noise both engines accumulate differently."""
    from pyspark.sql import Window

    rets = _daily_returns(spark, sf_dir)
    w2 = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    eq = rets.withColumn("cum", F.sum("r").over(w2)).withColumn(
        "peak", F.max("cum").over(w2)
    )
    return eq.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.round(F.avg("r"), 6).alias("mean_ret"),
        F.round(
            F.sqrt(
                F.avg(F.when(F.col("r") < 0, F.col("r") * F.col("r")).otherwise(0.0))
            ),
            6,
        ).alias("downside_dev"),
        F.round(F.max(F.col("peak") - F.col("cum")), 6).alias("max_drawdown"),
    )


@register(
    "event_study_volume_spikes",
    oracle="""
    WITH bars AS (
      SELECT event_type,
             time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP))
               AS bucket_start,
             arg_max(value, ts) AS close,
             sum(value)         AS volume
      FROM events GROUP BY 1, 2
    ),
    seq AS (
      SELECT event_type, bucket_start, volume,
             row_number() OVER w AS i,
             CASE WHEN close > 0 AND lag(close) OVER w > 0
                  THEN close / lag(close) OVER w - 1 END AS r
      FROM bars
      WINDOW w AS (PARTITION BY event_type ORDER BY bucket_start)
    ),
    stats AS (
      SELECT event_type, median(volume) AS med_v, avg(r) AS mu
      FROM seq GROUP BY 1
    ),
    spikes AS (
      SELECT s.event_type, s.i AS i0
      FROM seq s JOIN stats t USING (event_type)
      WHERE s.volume > 4 * t.med_v
    ),
    win AS (
      SELECT sp.event_type, off.rel, s.r - t.mu AS ar
      FROM spikes sp
      JOIN (SELECT unnest(range(-5, 6)) AS rel) off ON TRUE
      JOIN seq s ON s.event_type = sp.event_type AND s.i = sp.i0 + off.rel
      JOIN stats t ON t.event_type = sp.event_type
      WHERE s.r IS NOT NULL
    )
    SELECT event_type, CAST(rel AS INT) AS rel_bar,
           CAST(count(*) AS BIGINT)     AS n_obs,
           round(avg(ar), 6)            AS avg_abnormal_ret
    FROM win GROUP BY 1, 2
    """,
)
def event_study_volume_spikes(spark, sf_dir):
    """Event study around volume spikes: average abnormal return (bar
    return minus the symbol's mean) at each relative offset within ±5
    bars of every bar whose volume exceeds 4× the symbol median — the
    CAR/event-study scaffold behind announcement-effect research, with
    volume spikes standing in for the event feed. The spike list and the
    per-symbol stats are key-bounded aggregates; the ±5 window is an
    11-row offset spine equi-joined on the shifted per-symbol ordinal
    (the lead-lag join family — never a time-range cross product); the
    final cut is per (symbol, offset), 55 rows at any scale."""
    from pyspark.sql import Window

    bars = _bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "close", "volume"
    )
    w = Window.partitionBy("event_type").orderBy("bucket_start")
    prev = F.lag("close").over(w)
    seq = bars.select(
        "event_type",
        "volume",
        F.row_number().over(w).alias("i"),
        F.when(
            (F.col("close") > 0) & (prev > 0), F.col("close") / prev - 1
        ).alias("r"),
    )
    stats = seq.groupBy("event_type").agg(
        F.expr("percentile(volume, 0.5)").alias("med_v"),
        F.avg("r").alias("mu"),
    )
    spikes = (
        seq.join(F.broadcast(stats), "event_type")
        .where(F.col("volume") > 4 * F.col("med_v"))
        .select("event_type", F.col("i").alias("i0"))
        .withColumn("rel", F.explode(F.sequence(F.lit(-5), F.lit(5))))
    )
    win = (
        spikes.join(
            seq.select("event_type", "i", "r"),
            (spikes.event_type == seq.event_type)
            & (F.col("i") == F.col("i0") + F.col("rel")),
        )
        .drop(seq.event_type)
        .join(F.broadcast(stats), "event_type")
        .where(F.col("r").isNotNull())
        .select("event_type", "rel", (F.col("r") - F.col("mu")).alias("ar"))
    )
    return win.groupBy("event_type", F.col("rel").cast("int").alias("rel_bar")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        F.round(F.avg("ar"), 6).alias("avg_abnormal_ret"),
    )


@register(
    "corwin_schultz_spread",
    oracle="""
    WITH daily AS (
      SELECT event_type, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS d,
             max(value) AS h, min(value) AS l
      FROM events GROUP BY 1, 2
      HAVING min(value) > 0
    ),
    pairs AS (
      SELECT event_type, d,
             h, l,
             lag(h) OVER w AS ph, lag(l) OVER w AS pl
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY d)
    ),
    terms AS (
      SELECT event_type,
             power(ln(h / l), 2) + power(ln(ph / pl), 2) AS beta,
             power(ln(greatest(h, ph) / least(l, pl)), 2) AS gamma
      FROM pairs WHERE ph IS NOT NULL AND pl > 0
    ),
    alpha AS (
      SELECT event_type,
             (sqrt(2 * beta) - sqrt(beta)) / (3 - 2 * sqrt(2))
             - sqrt(gamma / (3 - 2 * sqrt(2))) AS a
      FROM terms
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(avg(2 * (exp(a) - 1) / (1 + exp(a))), 6) AS cs_spread
    FROM alpha GROUP BY 1
    """,
)
def corwin_schultz_spread(spark, sf_dir):
    """Corwin-Schultz (2012) bid-ask spread estimator from daily
    high-low ranges alone — the published way to recover effective
    spreads when no quote data exists (exactly the reference's
    situation: Polygon candles carry OHLC, not quotes). β is the sum of
    squared log ranges over adjacent days, γ the squared log range of
    the two-day envelope, α their closed-form combination; the per-pair
    spread 2(e^α−1)/(1+e^α) averages per symbol. Day-grain relation,
    one lag window, identical IEEE arithmetic on both engines; negative
    per-pair estimates are kept (the standard convention — truncating at
    zero biases the mean) and round-6 clears prefix-noise."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.date_format("ts", "yyyy-MM-dd").alias("d"))
        .agg(F.max("value").alias("h"), F.min("value").alias("l"))
        .where(F.col("l") > 0)
    )
    w = Window.partitionBy("event_type").orderBy("d")
    pairs = daily.select(
        "event_type",
        "h",
        "l",
        F.lag("h").over(w).alias("ph"),
        F.lag("l").over(w).alias("pl"),
    ).where(F.col("ph").isNotNull() & (F.col("pl") > 0))
    beta = F.pow(F.log(F.col("h") / F.col("l")), 2) + F.pow(
        F.log(F.col("ph") / F.col("pl")), 2
    )
    gamma = F.pow(
        F.log(
            F.greatest("h", "ph") / F.least("l", "pl")
        ),
        2,
    )
    denom = 3 - 2 * (2.0 ** 0.5)
    a = (F.sqrt(2 * beta) - F.sqrt(beta)) / denom - F.sqrt(gamma / denom)
    spread = 2 * (F.exp(a) - 1) / (1 + F.exp(a))
    return (
        pairs.select("event_type", spread.alias("s"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.round(F.avg("s"), 6).alias("cs_spread"),
        )
    )


@register(
    "kyle_lambda_by_type",
    oracle="""
    WITH bars AS (
      SELECT event_type,
             time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP))
               AS bucket_start,
             arg_max(value, ts) AS close,
             sum(value)         AS volume
      FROM events GROUP BY 1, 2
    ),
    obs AS (
      SELECT event_type, volume,
             CASE WHEN close > 0 AND lag(close) OVER w > 0
                  THEN abs(ln(close / lag(close) OVER w)) END AS adr
      FROM bars
      WINDOW w AS (PARTITION BY event_type ORDER BY bucket_start)
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT)                    AS n_bars,
           round(regr_slope(adr, volume) * 1e6, 6)     AS lambda_ppm,
           round(regr_r2(adr, volume), 6)              AS r2
    FROM obs WHERE adr IS NOT NULL
    GROUP BY 1
    """,
)
def kyle_lambda_by_type(spark, sf_dir):
    """Kyle's lambda per symbol: the OLS slope of absolute bar returns on
    bar volume — the canonical price-impact coefficient (how much the
    price moves per unit of flow), reported in parts-per-million of
    return per volume unit alongside the fit's R². One bar aggregate,
    one lag window, one regr_slope/regr_r2 pass sharing a scan — the
    SQL-standard estimators with identical definitions in both engines.
    Complements the microstructure pack (Amihud illiquidity uses the
    RATIO per bar; Kyle's lambda fits the cross-bar linear impact)."""
    from pyspark.sql import Window

    bars = _bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "close", "volume"
    )
    w = Window.partitionBy("event_type").orderBy("bucket_start")
    prev = F.lag("close").over(w)
    obs = bars.select(
        "event_type",
        "volume",
        F.when(
            (F.col("close") > 0) & (prev > 0),
            F.abs(F.log(F.col("close") / prev)),
        ).alias("adr"),
    ).where(F.col("adr").isNotNull())
    return obs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bars"),
        F.round(F.expr("regr_slope(adr, volume)") * 1e6, 6).alias(
            "lambda_ppm"
        ),
        F.round(F.expr("regr_r2(adr, volume)"), 6).alias("r2"),
    )


@register(
    "max_underwater_duration",
    oracle="""
    WITH daily AS (
      SELECT event_type, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS d,
             arg_max(value, ts) AS close
      FROM events GROUP BY 1, 2
    ),
    rets AS (
      SELECT event_type, d,
             CASE WHEN close > 0 AND lag(close) OVER w > 0
                  THEN close / lag(close) OVER w - 1 END AS r
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY d)
    ),
    cums AS (
      SELECT event_type, d, r,
             sum(r) OVER (PARTITION BY event_type ORDER BY d
                          ROWS UNBOUNDED PRECEDING) AS cum
      FROM rets WHERE r IS NOT NULL
    ),
    uw AS (
      SELECT event_type, d, cum,
             max(cum) OVER (PARTITION BY event_type ORDER BY d
                            ROWS UNBOUNDED PRECEDING) AS peak
      FROM cums
    ),
    islands AS (
      SELECT event_type, d,
             CAST(cum < peak - 1e-9 AS INT) AS under,
             sum(CASE WHEN cum >= peak - 1e-9 THEN 1 ELSE 0 END)
               OVER (PARTITION BY event_type ORDER BY d
                     ROWS UNBOUNDED PRECEDING) AS grp
      FROM uw
    )
    SELECT event_type,
           CAST(max(len) AS BIGINT)   AS max_underwater_days,
           CAST(count(*) AS BIGINT)   AS n_spells
    FROM (
      SELECT event_type, grp, count(*) AS len
      FROM islands WHERE under = 1
      GROUP BY 1, 2
    ) s GROUP BY 1
    """,
)
def max_underwater_duration(spark, sf_dir):
    """Longest underwater spell per symbol: consecutive days where the
    cumulative-return curve sits below its running peak — drawdown
    DURATION, the recovery-time risk max_drawdown (depth) doesn't
    capture. Classic gaps-and-islands: island id = running count of
    at-peak days, spell length = rows per island, all on the day-grain
    relation (two prefix windows + one aggregate per key). The
    underwater predicate is cum < peak − 1e-9 on BOTH engines: exact
    re-attainment of an earlier peak is where the engines' prefix-sum
    ulp noise concentrates, so the classification boundary is moved off
    zero where real gaps never sit; the resulting counts are exact
    integers, hash-stable with no rounding policy."""
    from pyspark.sql import Window

    rets = _daily_returns(spark, sf_dir)
    w2 = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    uw = (
        rets.withColumn("cum", F.sum("r").over(w2))
        .withColumn("peak", F.max("cum").over(w2))
        .withColumn(
            "under", (F.col("cum") < F.col("peak") - 1e-9).cast("int")
        )
        .withColumn(
            "grp",
            F.sum(
                F.when(
                    F.col("cum") >= F.col("peak") - 1e-9, 1
                ).otherwise(0)
            ).over(w2),
        )
    )
    spells = (
        uw.where(F.col("under") == 1)
        .groupBy("event_type", "grp")
        .agg(F.count(F.lit(1)).alias("len"))
    )
    return spells.groupBy("event_type").agg(
        F.max("len").cast("bigint").alias("max_underwater_days"),
        F.count(F.lit(1)).cast("bigint").alias("n_spells"),
    )


@register(
    "range_vol_estimators_daily",
    oracle="""
    WITH d AS (
      SELECT event_type,
             time_bucket(INTERVAL '1 day', CAST(ts AS TIMESTAMP)) AS d,
             arg_min(value, ts) AS open,
             max(value)         AS high,
             min(value)         AS low,
             arg_max(value, ts) AS close
      FROM events GROUP BY 1, 2
    ),
    p AS (
      SELECT *, lag(close) OVER (PARTITION BY event_type ORDER BY d) AS c_prev
      FROM d
    ),
    r AS (
      SELECT event_type,
             ln(high / low)   AS hl,
             ln(close / open) AS co,
             ln(high / close) * ln(high / open)
               + ln(low / close) * ln(low / open) AS rs,
             ln(open / c_prev) AS o_r
      FROM p
      WHERE c_prev IS NOT NULL AND low > 0 AND c_prev > 0 AND open > 0
    ),
    m AS (
      SELECT event_type, count(*) AS n, avg(o_r) AS mo, avg(co) AS mc,
             avg(hl * hl) / (4 * ln(2))                     AS park_var,
             avg(0.5 * hl * hl - (2 * ln(2) - 1) * co * co) AS gk_var,
             avg(rs)                                        AS rs_mean,
             sum(rs)                                        AS rs_sum
      FROM r GROUP BY 1
      HAVING count(*) >= 2
    ),
    v AS (
      SELECT r.event_type,
             any_value(m.n)                                        AS n,
             sum((r.o_r - m.mo) * (r.o_r - m.mo)) / (any_value(m.n) - 1) AS vo,
             sum((r.co - m.mc) * (r.co - m.mc)) / (any_value(m.n) - 1)   AS vc,
             any_value(m.rs_sum) / (any_value(m.n) - 1)             AS vrs,
             any_value(m.park_var)                                  AS park_var,
             any_value(m.gk_var)                                    AS gk_var,
             any_value(m.rs_mean)                                   AS rs_mean
      FROM r JOIN m ON r.event_type = m.event_type
      GROUP BY 1
    )
    SELECT event_type,
           CAST(n AS BIGINT)                              AS n_days,
           round(sqrt(park_var), 6)                       AS parkinson_vol,
           round(sqrt(greatest(gk_var, 0)), 6)            AS gk_vol,
           round(sqrt(greatest(rs_mean, 0)), 6)           AS rs_vol,
           round(sqrt(greatest(
             vo + (0.34 / (1.34 + (n + 1.0) / (n - 1.0))) * vc
                + (1 - 0.34 / (1.34 + (n + 1.0) / (n - 1.0))) * vrs,
             0)), 6)                                      AS yz_vol
    FROM v
    """,
)
def range_vol_estimators_daily(spark, sf_dir):
    """The four range-based daily volatility estimators per symbol —
    Parkinson (1980) ln(H/L)²/4ln2, Garman-Klass (1980)
    0.5·ln(H/L)² − (2ln2−1)·ln(C/O)², Rogers-Satchell (1991)
    ln(H/C)ln(H/O)+ln(L/C)ln(L/O) (drift-robust), and Yang-Zhang (2000)
    σ²_overnight + k·σ²_open-to-close + (1−k)·σ²_RS with
    k = 0.34/(1.34+(n+1)/(n−1)) — the OHLC-only complement to the
    close-to-close realized vol already in the registry, 5-8x more
    efficient per bar. Daily bars shuffle once on (symbol, day); the
    rest is a lag window and two symbol-sized aggregates, the second
    joining the first back as a broadcast (central moments are two-pass
    explicit sums, not var builtins, so both engines compute identical
    population math). Negative GK/RS day-averages (documented
    small-sample behavior) are floored at 0 before the sqrt on both
    sides. Symbols with fewer than 2 return rows are dropped on both
    engines (the (n-1) sample-variance denominators need n >= 2; under
    Spark 4's ANSI mode n=1 would raise DIVIDE_BY_ZERO while DuckDB
    yields inf — the HAVING / where(n >= 2) guard keeps the engines
    aligned and crash-free)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.window("ts", "1 day").start.alias("d")
    ).agg(
        F.min_by("value", "ts").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", "ts").alias("close"),
    )
    w = Window.partitionBy("event_type").orderBy("d")
    p = d.withColumn("c_prev", F.lag("close").over(w))
    r = p.where(
        F.col("c_prev").isNotNull()
        & (F.col("low") > 0)
        & (F.col("c_prev") > 0)
        & (F.col("open") > 0)
    ).select(
        "event_type",
        F.log(F.col("high") / F.col("low")).alias("hl"),
        F.log(F.col("close") / F.col("open")).alias("co"),
        (
            F.log(F.col("high") / F.col("close"))
            * F.log(F.col("high") / F.col("open"))
            + F.log(F.col("low") / F.col("close"))
            * F.log(F.col("low") / F.col("open"))
        ).alias("rs"),
        F.log(F.col("open") / F.col("c_prev")).alias("o_r"),
    )
    ln2 = 0.6931471805599453
    m = r.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("o_r").alias("mo"),
        F.avg("co").alias("mc"),
        (F.avg(F.col("hl") * F.col("hl")) / (4 * ln2)).alias("park_var"),
        F.avg(
            0.5 * F.col("hl") * F.col("hl")
            - (2 * ln2 - 1) * F.col("co") * F.col("co")
        ).alias("gk_var"),
        F.avg("rs").alias("rs_mean"),
        F.sum("rs").alias("rs_sum"),
    ).where(F.col("n") >= 2)
    v = (
        r.join(F.broadcast(m), "event_type")
        .groupBy("event_type")
        .agg(
            F.first("n").alias("n"),
            (
                F.sum((F.col("o_r") - F.col("mo")) * (F.col("o_r") - F.col("mo")))
                / (F.first("n") - 1)
            ).alias("vo"),
            (
                F.sum((F.col("co") - F.col("mc")) * (F.col("co") - F.col("mc")))
                / (F.first("n") - 1)
            ).alias("vc"),
            (F.first("rs_sum") / (F.first("n") - 1)).alias("vrs"),
            F.first("park_var").alias("park_var"),
            F.first("gk_var").alias("gk_var"),
            F.first("rs_mean").alias("rs_mean"),
        )
    )
    k = 0.34 / (1.34 + (F.col("n") + 1.0) / (F.col("n") - 1.0))
    return v.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_days"),
        F.round(F.sqrt("park_var"), 6).alias("parkinson_vol"),
        F.round(F.sqrt(F.greatest(F.col("gk_var"), F.lit(0.0))), 6).alias("gk_vol"),
        F.round(F.sqrt(F.greatest(F.col("rs_mean"), F.lit(0.0))), 6).alias("rs_vol"),
        F.round(
            F.sqrt(
                F.greatest(
                    F.col("vo") + k * F.col("vc") + (1 - k) * F.col("vrs"),
                    F.lit(0.0),
                )
            ),
            6,
        ).alias("yz_vol"),
    )


@register(
    "rank_ic_momentum_5m",
    oracle="""
    WITH bars AS (
      SELECT event_type,
             time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS b,
             arg_min(value, ts) AS open, arg_max(value, ts) AS close
      FROM events GROUP BY 1, 2
    ),
    rets AS (
      SELECT event_type, b,
             lag(close / open - 1)  OVER w AS signal,
             lead(close / open - 1) OVER w AS fwd
      FROM bars WHERE open > 0
      WINDOW w AS (PARTITION BY event_type ORDER BY b)
    ),
    x AS (
      SELECT b, event_type, signal, fwd
      FROM rets WHERE signal IS NOT NULL AND fwd IS NOT NULL
    ),
    ranked AS (
      SELECT b,
             row_number() OVER (PARTITION BY b
                                ORDER BY signal, event_type) AS rs,
             row_number() OVER (PARTITION BY b
                                ORDER BY fwd, event_type)    AS rf
      FROM x
    ),
    ic AS (
      SELECT b, count(*) AS n,
             1.0 - 6.0 * sum((rs - rf) * (rs - rf))
                   / (count(*) * (count(*) * count(*) - 1.0)) AS ic
      FROM ranked GROUP BY b HAVING count(*) >= 3
    )
    SELECT CAST(time_bucket(INTERVAL '1 day', b) AS TIMESTAMP) AS day,
           CAST(count(*) AS BIGINT)                            AS n_buckets,
           round(avg(ic), 6)                                   AS mean_ic
    FROM ic GROUP BY 1
    """,
)
def rank_ic_momentum_5m(spark, sf_dir):
    """Cross-sectional rank information coefficient of a 1-bar momentum
    signal: per 5-minute bucket, Spearman correlation ACROSS symbols
    between the prior bar's return (the signal) and the next bar's
    return (the target) — the standard alpha-research health metric —
    then averaged per day. Ranks are unique by construction (symbol
    tiebreak on equal values), so Spearman reduces to the closed form
    1 − 6Σd²/(n(n²−1)) and both engines agree exactly; buckets with
    fewer than 3 complete symbols carry no signal and are dropped.
    Shape: one (symbol,bucket) bar shuffle, per-symbol lag/lead windows,
    then per-bucket ranking — the wide relation is bucket×symbol, never
    all-pairs."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    bars = ev.groupBy(
        "event_type", F.window("ts", "5 minutes").start.alias("b")
    ).agg(
        F.min_by("value", "ts").alias("open"),
        F.max_by("value", "ts").alias("close"),
    )
    w = Window.partitionBy("event_type").orderBy("b")
    ret = F.col("close") / F.col("open") - 1
    # zero-priced ticks exist in the larger fixtures; a 0 open is not a
    # definable return (and divides by zero under ANSI), so those bars
    # drop before the lag/lead — identically in the oracle's WHERE.
    rets = bars.where(F.col("open") > 0).select(
        "event_type",
        "b",
        F.lag(ret).over(w).alias("signal"),
        F.lead(ret).over(w).alias("fwd"),
    )
    x = rets.where(F.col("signal").isNotNull() & F.col("fwd").isNotNull())
    ranked = x.select(
        "b",
        F.row_number()
        .over(Window.partitionBy("b").orderBy("signal", "event_type"))
        .alias("rs"),
        F.row_number()
        .over(Window.partitionBy("b").orderBy("fwd", "event_type"))
        .alias("rf"),
    )
    # IC derives AFTER the n >= 3 cut: single-symbol buckets would feed
    # n(n²−1) = 0 to the divisor inside the aggregate under ANSI mode.
    ic = (
        ranked.groupBy("b")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (F.col("rs") - F.col("rf")) * (F.col("rs") - F.col("rf"))
            ).alias("sumd2"),
        )
        .where(F.col("n") >= 3)
        .select(
            "b",
            (
                1.0
                - 6.0 * F.col("sumd2") / (F.col("n") * (F.col("n") * F.col("n") - 1.0))
            ).alias("ic"),
        )
    )
    return ic.groupBy(
        F.window("b", "1 day").start.alias("day")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.round(F.avg("ic"), 6).alias("mean_ic"),
    )


# --- two-sample Kolmogorov-Smirnov temporal drift --------------------------
@register(
    "ks_temporal_drift_by_type",
    oracle="""
    WITH ev AS (
      SELECT event_type, value, epoch_ns(ts) AS tns FROM events
    ),
    rng AS (
      SELECT event_type, min(tns) AS lo, max(tns) AS hi FROM ev GROUP BY 1
    ),
    tagged AS (
      SELECT e.event_type, e.value,
             CASE WHEN 2 * e.tns <= r.lo + r.hi THEN 1 ELSE 2 END AS grp
      FROM ev e JOIN rng r USING (event_type)
    ),
    cell AS (
      SELECT event_type, value,
             sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS c1,
             sum(CASE WHEN grp = 2 THEN 1 ELSE 0 END) AS c2
      FROM tagged GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type,
             sum(c1) OVER (PARTITION BY event_type ORDER BY value) AS cum1,
             sum(c2) OVER (PARTITION BY event_type ORDER BY value) AS cum2,
             sum(c1) OVER (PARTITION BY event_type) AS n1,
             sum(c2) OVER (PARTITION BY event_type) AS n2
      FROM cell
    )
    SELECT event_type,
           CAST(n1 AS BIGINT) AS n1,
           CAST(n2 AS BIGINT) AS n2,
           CAST(max(abs(cum1 * n2 - cum2 * n1)) AS BIGINT) AS d_num,
           round(CAST(max(abs(cum1 * n2 - cum2 * n1)) AS DOUBLE)
                 / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6) AS ks
    FROM cum
    WHERE n1 > 0 AND n2 > 0
    GROUP BY event_type, n1, n2
    """,
)
def ks_temporal_drift_by_type(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov drift test per event_type: each
    symbol's value distribution in the FIRST half of its time range vs
    the SECOND half — the nonparametric complement to psi_price_drift
    (PSI needs binning; KS is the sup-distance between the raw ECDFs,
    sensitive anywhere on the support). Everything up to the final
    statistic is EXACT integer arithmetic: the half-split is the integer
    cross-multiplication 2*ts_ns <= lo+hi (no float midpoint), the ECDF
    gap is |cum1*n2 - cum2*n1| (the common-denominator form), and the
    emitted d_num/n1/n2 are exact bigints — ks itself is one
    deterministic division. Scale: one (type, value) hash aggregate,
    then window cumsums over the DISTINCT-value relation (bounded by
    price-grid cardinality per symbol, not event count); the range table
    is dim-sized and broadcast."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "value", "ts_ns"
    )
    rng = ev.groupBy("event_type").agg(
        F.min("ts_ns").alias("lo"), F.max("ts_ns").alias("hi")
    )
    tagged = ev.join(F.broadcast(rng), "event_type").withColumn(
        "grp",
        F.when(
            F.col("ts_ns") * 2 <= F.col("lo") + F.col("hi"), F.lit(1)
        ).otherwise(F.lit(2)),
    )
    cell = tagged.groupBy("event_type", "value").agg(
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("grp") == 2, 1).otherwise(0)).alias("c2"),
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("event_type")
    cum = cell.select(
        "event_type",
        F.sum("c1").over(wcum).alias("cum1"),
        F.sum("c2").over(wcum).alias("cum2"),
        F.sum("c1").over(wall).alias("n1"),
        F.sum("c2").over(wall).alias("n2"),
    )
    d = F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1"))
    return (
        cum.where((F.col("n1") > 0) & (F.col("n2") > 0))
        .groupBy("event_type", "n1", "n2")
        .agg(F.max(d).alias("d_num"))
        .select(
            "event_type",
            "n1",
            "n2",
            "d_num",
            F.round(
                F.col("d_num").cast("double")
                / (F.col("n1").cast("double") * F.col("n2").cast("double")),
                6,
            ).alias("ks"),
        )
    )


# --- two-sample ECDF drift: Wasserstein-1 + Cramér-von Mises ---------------
# The oracle twin of _ecdf_two_sample: W1/CvM numerators from a `tagged`
# CTE of (event_type, v cents, grp ∈ {1,2}); each split rule's oracle
# builds `tagged` and appends this.
_ECDF_TWO_SAMPLE_SQL = """
    cell AS (
      SELECT event_type, v,
             sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS c1,
             sum(CASE WHEN grp = 2 THEN 1 ELSE 0 END) AS c2
      FROM tagged GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, v, c1, c2,
             sum(c1) OVER w AS cum1,
             sum(c2) OVER w AS cum2,
             lead(v) OVER w AS v_next,
             sum(c1) OVER (PARTITION BY event_type) AS n1,
             sum(c2) OVER (PARTITION BY event_type) AS n2
      FROM cell
      WINDOW w AS (PARTITION BY event_type ORDER BY v)
    ),
    terms AS (
      SELECT event_type, n1, n2,
             CAST(cum1 * n2 - cum2 * n1 AS DECIMAL(38,0)) AS d,
             CAST(COALESCE(v_next - v, 0) AS DECIMAL(38,0)) AS gap,
             CAST(c1 + c2 AS DECIMAL(38,0)) AS mult
      FROM cum WHERE n1 > 0 AND n2 > 0
    )
    SELECT event_type,
           CAST(n1 AS BIGINT) AS n1,
           CAST(n2 AS BIGINT) AS n2,
           TRY_CAST(sum(abs(d) * gap) AS BIGINT) AS w1_num,
           round(CAST(sum(abs(d) * gap) AS DOUBLE)
                 / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) * 100.0),
                 6) AS w1,
           TRY_CAST(sum(d * d * mult) AS BIGINT) AS cvm_num,
           round(CAST(sum(d * d * mult) AS DOUBLE)
                 / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                    * power(CAST(n1 + n2 AS DOUBLE), 2)),
                 6) AS cvm
    FROM terms
    GROUP BY event_type, n1, n2
"""


@register(
    "ecdf_drift_by_type",
    oracle="""
    WITH ev AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v,
             epoch_ns(ts) AS tns
      FROM events
    ),
    rng AS (
      SELECT event_type, min(tns) AS lo, max(tns) AS hi FROM ev GROUP BY 1
    ),
    tagged AS (
      SELECT e.event_type, e.v,
             CASE WHEN 2 * e.tns <= r.lo + r.hi THEN 1 ELSE 2 END AS grp
      FROM ev e JOIN rng r USING (event_type)
    ),""" + _ECDF_TWO_SAMPLE_SQL,
)
def ecdf_drift_by_type(spark, sf_dir):
    """Two-sample ECDF drift per event_type, completing the classic trio
    beside :func:`ks_temporal_drift_by_type` (KS = sup-norm): the
    Wasserstein-1 distance (L1 — the area between the first-half and
    second-half ECDFs over the integer-cent value grid, the earth-mover
    cost that KS's single worst point misses) and the two-sample
    Cramér-von Mises statistic (L2 — Σ (F1-F2)² over all N sample
    points, sensitive to distributed small shifts). Same exact-integer
    discipline as KS: the time-half split is the integer
    cross-multiplication 2·ts_ns ≤ lo+hi, values quantize to cents (the
    CUSUM idiom), ECDF gaps are the common-denominator form
    d = cum1·n2 − cum2·n1, and the emitted numerators are exact
    DECIMAL(38,0): w1_num = Σ|d|·(v_next − v) with
    W1 = w1_num/(n1·n2·100), and cvm_num = Σ d²·(c1+c2) with
    T = cvm_num/(n1·n2·N²). d fits a BIGINT for any n1·n2 < 2⁶³; the
    sums accumulate as DECIMAL(38,0) and the emitted numerators are
    TRY_CAST to BIGINT (the Kendall/Mann-Whitney idiom) — exact while
    they fit, NULL on BOTH engines identically beyond (~4·10⁷ rows per
    group for cvm_num's d²·N), never silent float drift. Scale:
    identical shape to KS — one (type, cents) hash aggregate, then
    window cumsums over the DISTINCT-value relation (bounded by the
    price grid per type, not event count); the range table is dim-sized
    and broadcast."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
        "ts_ns",
    )
    rng = ev.groupBy("event_type").agg(
        F.min("ts_ns").alias("lo"), F.max("ts_ns").alias("hi")
    )
    tagged = ev.join(F.broadcast(rng), "event_type").withColumn(
        "grp",
        F.when(
            F.col("ts_ns") * 2 <= F.col("lo") + F.col("hi"), F.lit(1)
        ).otherwise(F.lit(2)),
    )
    return _ecdf_two_sample(tagged)


def _ecdf_two_sample(tagged):
    """Shared exact-integer two-sample ECDF scaffold: ``tagged`` carries
    (event_type, v BIGINT cents, grp ∈ {1,2}); returns the certified
    (n1, n2, w1_num, w1, cvm_num, cvm) emission. Factored so every split
    rule (time halves, first-n/rest) certifies the identical statistics
    pipeline."""
    from pyspark.sql import Window

    cell = tagged.groupBy("event_type", "v").agg(
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("grp") == 2, 1).otherwise(0)).alias("c2"),
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    word = Window.partitionBy("event_type").orderBy("v")
    wall = Window.partitionBy("event_type")
    dec = "decimal(38,0)"
    cum = cell.select(
        "event_type",
        "v",
        (F.col("c1") + F.col("c2")).cast(dec).alias("mult"),
        F.sum("c1").over(wcum).alias("cum1"),
        F.sum("c2").over(wcum).alias("cum2"),
        (F.lead("v").over(word) - F.col("v"))
        .cast(dec)
        .alias("gap_raw"),
        F.sum("c1").over(wall).alias("n1"),
        F.sum("c2").over(wall).alias("n2"),
    )
    d = (
        F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1")
    ).cast(dec)
    terms = cum.where((F.col("n1") > 0) & (F.col("n2") > 0)).select(
        "event_type",
        "n1",
        "n2",
        "mult",
        d.alias("d"),
        F.coalesce(F.col("gap_raw"), F.lit(0).cast(dec)).alias("gap"),
    )
    nd = F.col("n1").cast("double")
    md = F.col("n2").cast("double")
    return (
        terms.groupBy("event_type", "n1", "n2")
        .agg(
            F.sum(F.abs(F.col("d")) * F.col("gap"))
            .cast(dec)
            .try_cast("bigint")
            .alias("w1_num"),
            F.sum(F.col("d") * F.col("d") * F.col("mult"))
            .cast(dec)
            .try_cast("bigint")
            .alias("cvm_num"),
        )
        .select(
            "event_type",
            "n1",
            "n2",
            "w1_num",
            F.round(
                F.col("w1_num").cast("double") / (nd * md * 100.0), 6
            ).alias("w1"),
            "cvm_num",
            F.round(
                F.col("cvm_num").cast("double")
                / (nd * md * F.pow(nd + md, F.lit(2.0))),
                6,
            ).alias("cvm"),
        )
    )


# --- first-n/rest ECDF drift: the streaming monitor's certified basis ------
@register(
    "ecdf_drift_first_n_by_type",
    oracle="""
    WITH ev AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY epoch_ns(ts), event_id) AS rn
      FROM events
    ),
    tagged AS (
      SELECT event_type, v,
             CASE WHEN rn <= 128 THEN 1 ELSE 2 END AS grp
      FROM ev
    ),""" + _ECDF_TWO_SAMPLE_SQL,
)
def ecdf_drift_first_n_by_type(spark, sf_dir):
    """First-n/rest ECDF drift per event_type — the CERTIFIED batch basis
    of the streaming monitor (streaming/stateful.py:stream_ecdf_drift),
    the adjustment-twin pattern: the stream self-calibrates its
    reference on the first n_ref observations per key because it cannot
    know the time horizon, and this query certifies exactly that split
    (n_ref = 128 — small enough that even the sf0.001 fixture, ~190-210
    events per type, leaves a non-empty current sample at every SF)
    against the DuckDB oracle (the sibling `ecdf_drift_by_type`
    certifies the time-halves split). Identical exact-integer W1/CvM
    scaffold (shared `_ecdf_two_sample`). The per-row rank over the
    ~4-value key routes through :func:`zoned_row_number` under the
    adaptive gate — the one new plan element vs the sibling, and the
    reason this query joins GATED_QUERIES: a data-sized
    row_number window partitioned on event_type alone would funnel the
    stream through ≤4 tasks at 100 TB. A stream≡batch law test pins the
    monitor's final emission to this query's rows on an in-order feed."""
    from polygon_algotrading_env_spark.operators.zonedroll import (
        zoned_row_number,
        zoning_mode,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
        "ts_ns",
        "event_id",
    )
    rn = zoned_row_number(
        ev,
        ["event_type"],
        ["ts_ns", "event_id"],
        rn_col="__rn",
        mode=zoning_mode(sf_dir),
    )
    tagged = rn.withColumn(
        "grp",
        F.when(F.col("__rn") <= 128, F.lit(1)).otherwise(F.lit(2)),
    )
    return _ecdf_two_sample(tagged)


# --- CUSUM changepoint per symbol -----------------------------------------
@register(
    "cusum_changepoint_by_type",
    oracle="""
    WITH ev AS (
      SELECT event_type, epoch_ns(ts) AS tns, event_id,
             CAST(round(value * 100) AS BIGINT) AS v
      FROM events
    ),
    c AS (
      SELECT event_type, tns, event_id, v,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY tns, event_id) AS t,
             sum(v) OVER (PARTITION BY event_type
                          ORDER BY tns, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS st
      FROM ev
    ),
    tot AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(v) AS BIGINT) AS s
      FROM ev GROUP BY 1
    ),
    dev AS (
      SELECT c.event_type, c.t, c.tns, c.event_id, c.st, tot.n, tot.s,
             abs(tot.n * c.st - c.t * tot.s) AS d,
             row_number() OVER (PARTITION BY c.event_type
                                ORDER BY abs(tot.n * c.st - c.t * tot.s)
                                           DESC, c.t) AS rk
      FROM c JOIN tot USING (event_type)
      WHERE c.t < tot.n
    )
    SELECT event_type, CAST(tns AS BIGINT) AS ts_ns, event_id, n,
           CAST(t AS BIGINT) AS t_star, CAST(d AS BIGINT) AS dev,
           round(CAST(st AS DOUBLE) / t, 6) AS mean_before,
           round(CAST(s - st AS DOUBLE) / (n - t), 6) AS mean_after
    FROM dev WHERE rk = 1
    """,
)
def cusum_changepoint_by_type(spark, sf_dir):
    """Single CUSUM changepoint per symbol: the split position t*
    maximizing the exact integer deviation |n·S_t − t·S| of the
    cents-grid prefix sum against a uniform trend — the binary-
    segmentation / changepoint primitive behind regime detection, with
    the argmax decided entirely in exact BIGINT arithmetic (ties →
    earliest t, so both engines agree without a float boundary). Values
    enter on the cents grid via round(value·100) — the same double
    multiply+round on both engines — and the reported segment means are
    deterministic divisions of the exact sums (in cents). The split row's
    (ts_ns, event_id) identify the regime boundary. Plan and scale notes:
    operators/indicators.py:cusum_changepoint."""
    from polygon_algotrading_env_spark.operators.indicators import (
        cusum_changepoint,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "ts_ns",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
    )
    return cusum_changepoint(
        ev, "v", keys=["event_type"], order_cols=["ts_ns", "event_id"]
    )


# --- autocorrelation function per symbol ----------------------------------
_ACF_RHO_SQL = (
    "(CAST(nk AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (sqrt(CAST(nk AS DOUBLE) * CAST(sxx AS DOUBLE)"
    "         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    "    * sqrt(CAST(nk AS DOUBLE) * CAST(syy AS DOUBLE)"
    "           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
)

_ACF_MAX_LAG = 5


def _acf_oracle() -> str:
    lags = ",\n             ".join(
        f"lag(v, {k}) OVER (PARTITION BY event_type ORDER BY tns, event_id)"
        f" AS l{k}"
        for k in range(1, _ACF_MAX_LAG + 1)
    )
    arms = "\n      UNION ALL\n".join(
        f"      SELECT event_type, {k} AS k, v AS x, l{k} AS y"
        f" FROM lagged WHERE l{k} IS NOT NULL"
        for k in range(1, _ACF_MAX_LAG + 1)
    )
    return f"""
    WITH ev AS (
      SELECT event_type, epoch_ns(ts) AS tns, event_id,
             CAST(round(value * 100) AS BIGINT) AS v
      FROM events
    ),
    lagged AS (
      SELECT event_type, v,
             {lags}
      FROM ev
    ),
    pairs AS (
{arms}
    ),
    m AS (
      SELECT event_type, k,
             CAST(count(*) AS BIGINT)     AS nk,
             CAST(sum(x) AS BIGINT)       AS sx,
             CAST(sum(y) AS BIGINT)       AS sy,
             CAST(sum(x * x) AS BIGINT)   AS sxx,
             CAST(sum(y * y) AS BIGINT)   AS syy,
             CAST(sum(x * y) AS BIGINT)   AS sxy
      FROM pairs GROUP BY 1, 2
    )
    SELECT event_type, CAST(k AS INT) AS k, nk, sx, sy, sxx, syy, sxy,
           round({_ACF_RHO_SQL}, 6) AS rho
    FROM m
    """


@register("acf_by_type", oracle=_acf_oracle())
def acf_by_type(spark, sf_dir):
    """Autocorrelation function per symbol, lags 1..5: the Pearson
    correlation of the cents-grid series against its k-step lag, with
    the five moment sums per (symbol, lag) as exact BIGINTs and rho one
    fixed scalar double recipe on both engines (the spearman/Gram
    discipline) — the memory diagnostic behind AR-model order choice and
    mean-reversion screens, next to the certified Hurst exponent.

    Plan: ONE ordered window per symbol computes all five lag columns on
    a shared sort; the lag arms stack into (symbol, k) pairs and one
    hash aggregate finishes — no per-lag re-sort, no self-join on time.
    BIGINT headroom: nk·sxy in the rho numerator is evaluated in double
    (deterministically) precisely so the exact sums can stay BIGINT to
    ~10⁵ cents × 2·10⁴ rows; past that promote the sums to
    DECIMAL(38,0)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "ts_ns",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
    )
    w = Window.partitionBy("event_type").orderBy("ts_ns", "event_id")
    lagged = ev.select(
        "event_type",
        "v",
        *[
            F.lag("v", k).over(w).alias(f"l{k}")
            for k in range(1, _ACF_MAX_LAG + 1)
        ],
    )
    arms = F.array(
        *[
            F.struct(
                F.lit(k).alias("k"),
                F.col("v").alias("x"),
                F.col(f"l{k}").alias("y"),
            )
            for k in range(1, _ACF_MAX_LAG + 1)
        ]
    )
    pairs = (
        lagged.select("event_type", F.explode(arms).alias("p"))
        .where(F.col("p.y").isNotNull())
        .select("event_type", "p.k", "p.x", "p.y")
    )
    m = pairs.groupBy("event_type", "k").agg(
        F.count(F.lit(1)).alias("nk"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    nd = F.col("nk").cast("double")
    num = nd * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy").cast("double")
    denx = nd * F.col("sxx").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sx").cast("double")
    deny = nd * F.col("syy").cast("double") - F.col("sy").cast(
        "double"
    ) * F.col("sy").cast("double")
    return m.select(
        "event_type",
        F.col("k").cast("int").alias("k"),
        "nk",
        "sx",
        "sy",
        "sxx",
        "syy",
        "sxy",
        F.round(F.try_divide(num, F.sqrt(denx) * F.sqrt(deny)), 6).alias(
            "rho"
        ),
    )


# --- one-pass parameter-grid crossover backtest ---------------------------
_GRID_PAIRS = ((5, 20), (5, 50), (10, 20), (10, 50))
_GRID_LAGS = sorted({1} | {k for f, s in _GRID_PAIRS for k in (f, s, f + 1, s + 1)})


def _grid_backtest_oracle() -> str:
    lag_cols = ",\n             ".join(
        f"lag(cum, {k}) OVER o AS l{k}" for k in _GRID_LAGS
    )
    arms = "\n      UNION ALL\n".join(
        f"""      SELECT event_type, bucket_start, {f} AS fast, {s} AS slow, c, c1,
             CASE WHEN (cum - l{f}) * {s} > (cum - l{s}) * {f}
                  THEN 1 ELSE 0 END AS sig,
             CASE WHEN (l1 - l{f + 1}) * {s} > (l1 - l{s + 1}) * {f}
                  THEN 1 ELSE 0 END AS sigp
      FROM lw WHERE l{s + 1} IS NOT NULL"""
        for f, s in _GRID_PAIRS
    )
    return _CLOSE_BARS_5M_CTE + f""",
    g AS (
      SELECT event_type, bucket_start,
             CAST(round(close * 100) AS BIGINT) AS c
      FROM bars
    ),
    cw AS (
      SELECT event_type, bucket_start, c,
             sum(c) OVER (PARTITION BY event_type ORDER BY bucket_start
                          ROWS UNBOUNDED PRECEDING) AS cum
      FROM g
    ),
    lw AS (
      SELECT event_type, bucket_start, c, cum,
             lag(c, 1) OVER o AS c1,
             {lag_cols}
      FROM cw
      WINDOW o AS (PARTITION BY event_type ORDER BY bucket_start)
    ),
    arms AS (
{arms}
    ),
    eq0 AS (
      SELECT *,
             sum(sigp * (c - c1)) OVER (
               PARTITION BY event_type, fast, slow
               ORDER BY bucket_start ROWS UNBOUNDED PRECEDING) AS equity
      FROM arms
    ),
    eq AS (
      SELECT *,
             max(equity) OVER (
               PARTITION BY event_type, fast, slow
               ORDER BY bucket_start ROWS UNBOUNDED PRECEDING) AS runmax
      FROM eq0
    ),
    agg AS (
      SELECT event_type, fast, slow,
             CAST(count(*) AS BIGINT)              AS n_bars,
             CAST(sum(sigp) AS BIGINT)             AS n_long,
             CAST(sum(abs(sig - sigp)) AS BIGINT)  AS n_trades,
             CAST(sum(sigp * (c - c1)) AS BIGINT)  AS pnl_cents,
             CAST(sum(sigp * (c - c1) * (c - c1)) AS BIGINT) AS pnl2_cents,
             CAST(max(runmax - equity) AS BIGINT)  AS maxdd_cents
      FROM eq GROUP BY 1, 2, 3
    )
    SELECT event_type, CAST(fast AS INT) AS fast, CAST(slow AS INT) AS slow,
           n_bars, n_long, n_trades, pnl_cents, pnl2_cents, maxdd_cents,
           round(CAST(pnl_cents AS DOUBLE) / nullif(n_trades, 0), 6)
             AS pnl_per_trade,
           round((CAST(pnl_cents AS DOUBLE) / n_bars)
                 / nullif(sqrt((CAST(n_bars AS DOUBLE)
                                  * CAST(pnl2_cents AS DOUBLE)
                                - CAST(pnl_cents AS DOUBLE)
                                  * CAST(pnl_cents AS DOUBLE))
                               / (CAST(n_bars AS DOUBLE)
                                  * (CAST(n_bars AS DOUBLE) - 1))), 0), 6)
             AS sharpe_bar
    FROM agg
    """


@register("grid_backtest_sma_pairs_5m", oracle=_grid_backtest_oracle())
def grid_backtest_sma_pairs_5m(spark, sf_dir):
    """Hyperparameter-grid crossover backtest in ONE pass: all four
    SMA(fast)/SMA(slow) pairs evaluated per symbol with EVERY decision
    made in exact integer arithmetic — the signal is the
    cross-multiplied comparison (cum−lag_f)·slow > (cum−lag_s)·fast of
    cents-grid prefix sums (no float SMA anywhere), positions lag one
    bar (no lookahead), P&L is the exact cents sum Σ position·Δclose,
    and trade counts are |signal − prev_signal| sums. The scoreboard a
    strategy-search loop actually wants: n_bars/n_long/n_trades/
    pnl_cents per (symbol, fast, slow), all BIGINT, pnl-per-trade the
    one deterministic division.

    Plan: bar aggregate → ONE ordered window per symbol computes the
    prefix sum and all nine shared lag offsets → the pair grid explodes
    as a constant struct array (rows × |grid|, no join, no re-sort) →
    one hash aggregate. Adding a parameter pair costs two lag columns,
    not a pass."""
    from pyspark.sql import Window

    bars = _event_bars(spark, sf_dir, "5 minutes").select(
        "event_type",
        "bucket_start",
        F.round(F.col("close") * 100).cast("bigint").alias("c"),
    )
    o = Window.partitionBy("event_type").orderBy("bucket_start")
    cw = bars.select(
        "event_type",
        "bucket_start",
        "c",
        F.sum("c").over(o.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "cum"
        ),
    )
    lw = cw.select(
        "event_type",
        "bucket_start",
        "c",
        "cum",
        F.lag("c", 1).over(o).alias("c1"),
        *[F.lag("cum", k).over(o).alias(f"l{k}") for k in _GRID_LAGS],
    )
    sig = lambda f, s: (  # noqa: E731
        (F.col("cum") - F.col(f"l{f}")) * s
        > (F.col("cum") - F.col(f"l{s}")) * f
    ).cast("int")
    sigp = lambda f, s: (  # noqa: E731
        (F.col("l1") - F.col(f"l{f + 1}")) * s
        > (F.col("l1") - F.col(f"l{s + 1}")) * f
    ).cast("int")
    arms = F.array(
        *[
            F.struct(
                F.lit(f).alias("fast"),
                F.lit(s).alias("slow"),
                sig(f, s).alias("sig"),
                sigp(f, s).alias("sigp"),
                F.col(f"l{s + 1}").isNotNull().alias("valid"),
            )
            for f, s in _GRID_PAIRS
        ]
    )
    rows = (
        lw.select(
            "event_type", "bucket_start", "c", "c1", F.explode(arms).alias("a")
        )
        .where(F.col("a.valid"))
        .select(
            "event_type",
            "bucket_start",
            "c",
            "c1",
            F.col("a.fast").alias("fast"),
            F.col("a.slow").alias("slow"),
            F.col("a.sig").alias("sig"),
            F.col("a.sigp").alias("sigp"),
        )
    )
    e = Window.partitionBy("event_type", "fast", "slow").orderBy(
        "bucket_start"
    ).rowsBetween(Window.unboundedPreceding, 0)
    step = F.col("sigp") * (F.col("c") - F.col("c1"))
    eq = rows.select("*", F.sum(step).over(e).alias("equity")).select(
        "*", F.max("equity").over(e).alias("runmax")
    )
    pnl = F.sum(F.col("sigp") * (F.col("c") - F.col("c1")))
    agg = eq.groupBy("event_type", "fast", "slow").agg(
        F.count(F.lit(1)).alias("n_bars"),
        F.sum("sigp").alias("n_long"),
        F.sum(F.abs(F.col("sig") - F.col("sigp"))).alias("n_trades"),
        pnl.alias("pnl_cents"),
        F.sum(
            F.col("sigp")
            * (F.col("c") - F.col("c1"))
            * (F.col("c") - F.col("c1"))
        ).alias("pnl2_cents"),
        F.max(F.col("runmax") - F.col("equity")).alias("maxdd_cents"),
    )
    nd = F.col("n_bars").cast("double")
    pd_ = F.col("pnl_cents").cast("double")
    var = (
        nd * F.col("pnl2_cents").cast("double") - pd_ * pd_
    ) / (nd * (nd - 1))
    return agg.select(
        "event_type",
        "fast",
        "slow",
        "n_bars",
        "n_long",
        "n_trades",
        "pnl_cents",
        "pnl2_cents",
        "maxdd_cents",
        F.round(
            F.try_divide(pd_, F.nullif(F.col("n_trades"), F.lit(0))), 6
        ).alias("pnl_per_trade"),
        F.round(
            F.try_divide(pd_ / nd, F.nullif(F.sqrt(var), F.lit(0.0))), 6
        ).alias("sharpe_bar"),
    )


# --- EWMA volatility (RiskMetrics) via the closed-form EMA recipe ----------
def _ewma_vol_oracle() -> str:
    from polygon_algotrading_env_spark.queries._ema_sql import ema_pass_ctes

    ctes, final = ema_pass_ctes(
        "ewvol",
        "rr",
        keys=["event_type"],
        ord_col="bucket_start",
        val="__r2",
        span=39,
        out="__var",
    )
    return _CLOSE_BARS_5M_CTE + f""",
    r AS (
      SELECT event_type, bucket_start, close,
             lag(close) OVER (PARTITION BY event_type
                              ORDER BY bucket_start) AS prev_close
      FROM bars
    ),
    rr AS (
      SELECT event_type, bucket_start, close,
             (CASE WHEN prev_close IS NULL OR prev_close = 0 THEN 0.0
                   ELSE close / prev_close - 1 END)
             * (CASE WHEN prev_close IS NULL OR prev_close = 0 THEN 0.0
                     ELSE close / prev_close - 1 END) AS __r2,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY bucket_start) - 1 AS __t
      FROM r
    ),{ctes}
    SELECT event_type, bucket_start, round(sqrt(__var), 6) AS ewma_vol
    FROM {final}
    """


@register("ewma_vol_5m", oracle=_ewma_vol_oracle())
def ewma_vol_5m(spark, sf_dir):
    """RiskMetrics-style EWMA volatility per symbol: sigma²_t =
    lambda·sigma²_{t-1} + (1−lambda)·r²_t with lambda = 0.95 (EMA span 39,
    adjust=False, seeded at the first squared return) over 5-minute bar
    returns, emitted as sigma (the vol forecast every risk engine keeps
    hot). The recursion is evaluated WITHOUT Python by the same
    closed-form two-level prefix-sum machinery that certified the EMA
    family (operators/indicators.with_ema_closed_form); the DuckDB
    oracle replays the identical formula via queries/_ema_sql.py, so the
    hash compare certifies the whole chain bars → returns → EWMA
    variance → vol cross-engine. Round-6: values carry ~1e-13 relative
    float noise, far inside the grid."""
    from polygon_algotrading_env_spark.operators.indicators import (
        with_ema_closed_form,
    )
    from pyspark.sql import Window

    bars = _event_bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "close"
    )
    w = Window.partitionBy("event_type").orderBy("bucket_start")
    prev = F.lag("close").over(w)
    ret = F.when(
        prev.isNull() | (prev == 0), F.lit(0.0)
    ).otherwise(F.col("close") / prev - 1)
    rr = bars.select(
        "event_type", "bucket_start", (ret * ret).alias("__r2")
    )
    from polygon_algotrading_env_spark.operators.zonedroll import zoning_mode

    out = with_ema_closed_form(
        rr, "__r2", span=39, keys=["event_type"],
        order_cols=["bucket_start"], out="__var", mode=zoning_mode(sf_dir),
    )
    return out.select(
        "event_type",
        "bucket_start",
        F.round(F.sqrt("__var"), 6).alias("ewma_vol"),
    )


# --- split-conformal intervals for the naive per-bar forecast --------------
@register(
    "conformal_naive_intervals",
    oracle=_CLOSE_BARS_5M_CTE + """,
    r AS (
      SELECT event_type, bucket_start, close,
             abs(close - lag(close) OVER (PARTITION BY event_type
                                          ORDER BY bucket_start))
               AS abs_resid,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY bucket_start) - 1 AS t,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM bars
    ),
    s AS (SELECT * FROM r WHERE abs_resid IS NOT NULL),
    cal AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_cal,
             quantile_cont(abs_resid, 0.9) AS q90
      FROM s WHERE t < CAST(floor(0.8 * n) AS BIGINT) GROUP BY 1
    ),
    tst AS (
      SELECT s.event_type,
             CAST(count(*) AS BIGINT) AS n_test,
             CAST(sum(CASE WHEN s.abs_resid <= c.q90 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_covered
      FROM s JOIN cal c USING (event_type)
      WHERE s.t >= CAST(floor(0.8 * s.n) AS BIGINT)
      GROUP BY 1
    )
    SELECT c.event_type, c.n_cal, round(c.q90, 6) AS q90_abs_resid,
           t.n_test, t.n_covered,
           round(CAST(t.n_covered AS DOUBLE) / t.n_test, 6) AS coverage
    FROM cal c JOIN tst t USING (event_type)
    """,
)
def conformal_naive_intervals(spark, sf_dir):
    """Split-conformal prediction intervals for the naive (persistence)
    per-bar forecast: the first 80% of each symbol's bars calibrate the
    90th-percentile absolute residual q, the held-out 20% measure
    empirical coverage of close_prev ± q — the distribution-free interval
    recipe every forecast serving layer should ship with its point
    forecasts. The calibration quantile is the DISTRIBUTED grid-quantile
    operator (operators/rankstats.py — no distinct-value buffer on one
    reducer); coverage is exact BIGINT counts over the test split, so the
    only doubles in the payload are the certified quantile and one exact
    integer division."""
    from polygon_algotrading_env_spark.operators.rankstats import (
        grouped_exact_quantiles,
    )
    from pyspark.sql import Window

    bars = _event_bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "close"
    )
    w = Window.partitionBy("event_type").orderBy("bucket_start")
    r = bars.select(
        "event_type",
        F.abs(F.col("close") - F.lag("close").over(w)).alias("abs_resid"),
        (F.row_number().over(w) - 1).alias("t"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    ).where(F.col("abs_resid").isNotNull())
    split = F.floor(0.8 * F.col("n")).cast("bigint")
    cal_rows = r.where(F.col("t") < split)
    cal_q = grouped_exact_quantiles(
        cal_rows, "abs_resid", ["event_type"], [0.9], ["q90"]
    )
    n_cal = cal_rows.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_cal")
    )
    test = (
        r.where(F.col("t") >= split)
        .join(F.broadcast(cal_q), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(
                (F.col("abs_resid") <= F.col("q90")).cast("bigint")
            ).alias("n_covered"),
        )
    )
    return (
        n_cal.join(cal_q, "event_type")
        .join(test, "event_type")
        .select(
            "event_type",
            "n_cal",
            F.round("q90", 6).alias("q90_abs_resid"),
            "n_test",
            "n_covered",
            F.round(
                F.col("n_covered").cast("double") / F.col("n_test"), 6
            ).alias("coverage"),
        )
    )


# --- pinball (quantile) loss of the naive residual-quantile forecast -------
@register(
    "pinball_loss_q90_naive",
    oracle=_CLOSE_BARS_5M_CTE + """,
    r AS (
      SELECT event_type, bucket_start,
             CAST(round((close - lag(close) OVER (PARTITION BY event_type
                                                  ORDER BY bucket_start))
                        * 100) AS BIGINT) AS rc,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY bucket_start) - 1 AS t,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM bars
    ),
    s AS (SELECT * FROM r WHERE rc IS NOT NULL),
    cal AS (
      SELECT event_type, quantile_cont(rc, 0.9) AS q90
      FROM s WHERE t < CAST(floor(0.8 * n) AS BIGINT) GROUP BY 1
    ),
    tst AS (
      SELECT s.event_type, c.q90,
             CAST(count(*) AS BIGINT)                             AS n_test,
             CAST(sum(CASE WHEN s.rc >= c.q90 THEN 1 ELSE 0 END)
                  AS BIGINT)                                      AS n_above,
             CAST(sum(CASE WHEN s.rc >= c.q90 THEN s.rc ELSE 0 END)
                  AS BIGINT)                                      AS s_above,
             CAST(sum(CASE WHEN s.rc < c.q90 THEN s.rc ELSE 0 END)
                  AS BIGINT)                                      AS s_below
      FROM s JOIN cal c USING (event_type)
      WHERE s.t >= CAST(floor(0.8 * s.n) AS BIGINT)
      GROUP BY 1, 2
    )
    SELECT event_type, n_test, n_above,
           round(q90, 6) AS q90_cents,
           round((0.9 * (s_above - n_above * q90)
                  + 0.1 * ((n_test - n_above) * q90 - s_below))
                 / n_test, 6) AS mean_pinball
    FROM tst
    """,
)
def pinball_loss_q90_naive(spark, sf_dir):
    """Pinball (quantile) loss of the naive q90 residual forecast —
    completes the forecast-evaluation triangle (point metrics:
    naive_forecast_eval; intervals: conformal_naive_intervals; quantiles:
    this). The calibration 90th percentile of SIGNED per-bar price moves
    (exact integer cents) comes from the distributed grid-quantile
    operator; the held-out mean pinball loss decomposes into exact BIGINT
    sufficient statistics — Σloss = 0.9·(S_above − n_above·t) +
    0.1·(n_below·t − S_below), with S/n exact integer sums and t the one
    certified double — so both engines evaluate one identical scalar
    recipe. No float accumulates over data anywhere."""
    from polygon_algotrading_env_spark.operators.rankstats import (
        grouped_exact_quantiles,
    )
    from pyspark.sql import Window

    bars = _event_bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "close"
    )
    w = Window.partitionBy("event_type").orderBy("bucket_start")
    r = bars.select(
        "event_type",
        F.round((F.col("close") - F.lag("close").over(w)) * 100)
        .cast("bigint")
        .alias("rc"),
        (F.row_number().over(w) - 1).alias("t"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    ).where(F.col("rc").isNotNull())
    split = F.floor(0.8 * F.col("n")).cast("bigint")
    cal = grouped_exact_quantiles(
        r.where(F.col("t") < split), "rc", ["event_type"], [0.9], ["q90"]
    )
    above = F.col("rc") >= F.col("q90")
    tst = (
        r.where(F.col("t") >= split)
        .join(F.broadcast(cal), "event_type")
        .groupBy("event_type", "q90")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(above.cast("bigint")).alias("n_above"),
            F.sum(F.when(above, F.col("rc")).otherwise(0)).alias("s_above"),
            F.sum(F.when(~above, F.col("rc")).otherwise(0)).alias("s_below"),
        )
    )
    return tst.select(
        "event_type",
        "n_test",
        "n_above",
        F.round("q90", 6).alias("q90_cents"),
        F.round(
            (
                0.9 * (F.col("s_above") - F.col("n_above") * F.col("q90"))
                + 0.1
                * (
                    (F.col("n_test") - F.col("n_above")) * F.col("q90")
                    - F.col("s_below")
                )
            )
            / F.col("n_test"),
            6,
        ).alias("mean_pinball"),
    )


# --- Jarque-Bera normality diagnostic on 5m log returns ---------------------
@register(
    "jarque_bera_returns_5m",
    oracle=_HLC_BARS_CTE + """
    , lr AS (
      SELECT event_type,
             ln(nullif(close, 0)
                / nullif(lag(close) OVER (PARTITION BY event_type
                                          ORDER BY bucket_start), 0)) AS r
      FROM bars
    ),
    m AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             sum(r)             AS s1,
             sum(r * r)         AS s2,
             sum(r * r * r)     AS s3,
             sum(r * r * r * r) AS s4
      FROM lr WHERE r IS NOT NULL GROUP BY 1
    ),
    c AS (
      SELECT event_type, n,
             s1 / n AS mu,
             s2 / n - (s1 / n) * (s1 / n) AS m2,
             s3 / n - 3.0 * (s1 / n) * (s2 / n)
                    + 2.0 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
             s4 / n - 4.0 * (s1 / n) * (s3 / n)
                    + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
                    - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
      FROM m
    )
    SELECT event_type, n,
           round(m3 / (m2 * sqrt(m2)), 6)            AS skewness,
           round(m4 / (m2 * m2), 6)                  AS kurtosis,
           round(CAST(n AS DOUBLE) / 6.0
                 * ((m3 / (m2 * sqrt(m2))) * (m3 / (m2 * sqrt(m2)))
                    + (m4 / (m2 * m2) - 3.0) * (m4 / (m2 * m2) - 3.0)
                      / 4.0),
                 4)                                  AS jb_stat
    FROM c
    """,
)
def jarque_bera_returns_5m(spark, sf_dir):
    """Jarque-Bera normality diagnostic of 5-minute log returns per
    symbol — skewness, kurtosis, and JB = n/6·(S² + (K−3)²/4), the test
    every returns-are-Gaussian assumption (VaR scaling, Sharpe
    inference) is checked against before use. One pass of raw moments
    (Σr..Σr⁴, map-side combined) and central moments by the identical
    raw→central algebraic recipe on both engines; S and K divide by the
    same m2·√m2 / m2² expressions, so both engines evaluate the same
    IEEE sequence on reorder-noise-bounded sums (relative ~1e-12 —
    round-6 on S/K, round-4 on the n-scaled JB)."""
    from pyspark.sql import Window

    bars = _bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "close"
    )
    w = Window.partitionBy("event_type").orderBy("bucket_start")
    r = F.log(
        F.nullif(F.col("close"), F.lit(0))
        / F.nullif(F.lag("close").over(w), F.lit(0))
    )
    lr = bars.select("event_type", r.alias("r")).where(F.col("r").isNotNull())
    m = lr.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r").alias("s1"),
        F.sum(F.col("r") * F.col("r")).alias("s2"),
        F.sum(F.col("r") * F.col("r") * F.col("r")).alias("s3"),
        F.sum(F.col("r") * F.col("r") * F.col("r") * F.col("r")).alias("s4"),
    )
    nd = F.col("n").cast("double")
    mu = F.col("s1") / nd
    m2 = F.col("s2") / nd - mu * mu
    m3 = F.col("s3") / nd - 3.0 * mu * (F.col("s2") / nd) + 2.0 * mu * mu * mu
    m4 = (
        F.col("s4") / nd
        - 4.0 * mu * (F.col("s3") / nd)
        + 6.0 * mu * mu * (F.col("s2") / nd)
        - 3.0 * mu * mu * mu * mu
    )
    skew = m3 / (m2 * F.sqrt(m2))
    kurt = m4 / (m2 * m2)
    return m.select(
        "event_type",
        "n",
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("kurtosis"),
        F.round(
            nd / 6.0 * (skew * skew + (kurt - 3.0) * (kurt - 3.0) / 4.0), 4
        ).alias("jb_stat"),
    )



# --- Wald-Wolfowitz runs test on bar return signs ---------------------------
@register(
    "runs_test_returns_5m",
    oracle=_HLC_BARS_CTE + """
    , d AS (
      SELECT event_type, bucket_start,
             close - lag(close) OVER (PARTITION BY event_type
                                      ORDER BY bucket_start) AS dp
      FROM bars
    ),
    s AS (
      SELECT event_type, bucket_start,
             CASE WHEN dp > 0 THEN 1 ELSE -1 END AS sgn
      FROM d WHERE dp IS NOT NULL AND dp <> 0
    ),
    runs AS (
      SELECT event_type, sgn,
             CASE WHEN lag(sgn) OVER (PARTITION BY event_type
                                      ORDER BY bucket_start) IS DISTINCT
                       FROM sgn THEN 1 ELSE 0 END AS new_run
      FROM s
    ),
    a AS (
      SELECT event_type,
             CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(sum(new_run) AS BIGINT) AS r_runs
      FROM runs GROUP BY 1
    )
    SELECT event_type, n1, n2, r_runs,
           round((CAST(r_runs AS DOUBLE)
                  - (1.0 + 2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                           / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))))
                 / sqrt(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                        * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                           - CAST(n1 AS DOUBLE) - CAST(n2 AS DOUBLE))
                        / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                           * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                           * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)
                              - 1.0))),
                 6) AS z
    FROM a
    """,
)
def runs_test_returns_5m(spark, sf_dir):
    """Wald-Wolfowitz runs test on the SIGNS of 5-minute bar price
    changes per symbol — "are up/down moves serially random?", the
    nonparametric momentum/mean-reversion screen that needs no moment
    assumptions. Zero changes are dropped (standard two-category form);
    the payload is EXACT integers (n1 ups, n2 downs, R runs counted as
    sign-change boundaries + 1 via the first row's IS DISTINCT FROM
    NULL) and the normal z = (R − μ)/σ with μ = 1 + 2n1n2/n,
    σ² = 2n1n2(2n1n2 − n)/(n²(n−1)) as one fixed scalar recipe per
    engine. Two bar-level window passes (lag for the delta, lag for the
    sign change) — bar relations are calendar-bounded, the documented
    post-aggregation regime."""
    from pyspark.sql import Window

    bars = _bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "close"
    )
    w = Window.partitionBy("event_type").orderBy("bucket_start")
    dp = F.col("close") - F.lag("close").over(w)
    s = (
        bars.select("event_type", "bucket_start", dp.alias("dp"))
        .where(F.col("dp").isNotNull() & (F.col("dp") != 0))
        .select(
            "event_type",
            "bucket_start",
            F.when(F.col("dp") > 0, F.lit(1)).otherwise(F.lit(-1)).alias("sgn"),
        )
    )
    prev = F.lag("sgn").over(w)
    runs = s.select(
        "event_type",
        "sgn",
        F.when(prev.isNull() | (prev != F.col("sgn")), F.lit(1))
        .otherwise(F.lit(0))
        .alias("new_run"),
    )
    a = runs.groupBy("event_type").agg(
        F.sum(F.when(F.col("sgn") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("sgn") == -1, 1).otherwise(0))
        .cast("bigint")
        .alias("n2"),
        F.sum("new_run").cast("bigint").alias("r_runs"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    nd = n1d + n2d
    mu = 1.0 + 2.0 * n1d * n2d / nd
    sig2 = (
        2.0 * n1d * n2d * (2.0 * n1d * n2d - n1d - n2d)
        / (nd * nd * (nd - 1.0))
    )
    return a.select(
        "event_type",
        "n1",
        "n2",
        "r_runs",
        F.round((F.col("r_runs").cast("double") - mu) / F.sqrt(sig2), 6)
        .alias("z"),
    )


# --- Ljung-Box portmanteau test on 5m log returns ---------------------------
@register(
    "ljung_box_returns_5m",
    oracle=_HLC_BARS_CTE + """
    , lr AS (
      SELECT event_type, bucket_start,
             ln(nullif(close, 0)
                / nullif(lag(close) OVER (PARTITION BY event_type
                                          ORDER BY bucket_start), 0)) AS r
      FROM bars
    ),
    v AS (SELECT event_type, bucket_start, r FROM lr WHERE r IS NOT NULL),
    mu AS (SELECT event_type, sum(r) / count(*) AS m FROM v GROUP BY 1),
    x AS (
      SELECT v.event_type, v.bucket_start, v.r - mu.m AS x
      FROM v JOIN mu ON v.event_type = mu.event_type
    ),
    lagged AS (
      SELECT event_type, x,
             lag(x, 1) OVER w AS x1, lag(x, 2) OVER w AS x2,
             lag(x, 3) OVER w AS x3, lag(x, 4) OVER w AS x4,
             lag(x, 5) OVER w AS x5
      FROM x
      WINDOW w AS (PARTITION BY event_type ORDER BY bucket_start)
    ),
    s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             sum(x * x)                AS s0,
             sum(x * coalesce(x1, 0))  AS s1,
             sum(x * coalesce(x2, 0))  AS s2,
             sum(x * coalesce(x3, 0))  AS s3,
             sum(x * coalesce(x4, 0))  AS s4,
             sum(x * coalesce(x5, 0))  AS s5
      FROM lagged GROUP BY 1
    )
    SELECT event_type, n,
           round(s1 / s0, 6) AS rho1,
           round(s2 / s0, 6) AS rho2,
           round(s3 / s0, 6) AS rho3,
           round(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0)
                 * ((s1 / s0) * (s1 / s0) / (CAST(n AS DOUBLE) - 1.0)
                    + (s2 / s0) * (s2 / s0) / (CAST(n AS DOUBLE) - 2.0)
                    + (s3 / s0) * (s3 / s0) / (CAST(n AS DOUBLE) - 3.0)
                    + (s4 / s0) * (s4 / s0) / (CAST(n AS DOUBLE) - 4.0)
                    + (s5 / s0) * (s5 / s0) / (CAST(n AS DOUBLE) - 5.0)),
                 4) AS lb_q5
    FROM s
    """,
)
def ljung_box_returns_5m(spark, sf_dir):
    """Ljung-Box portmanteau test (h = 5 lags) on 5-minute log returns
    per symbol — Q = n(n+2)·Σ ρ̂_k²/(n−k), the standard "is anything
    left in the autocorrelations?" diagnostic run before trusting an
    i.i.d. assumption or after fitting a filter. Mean-adjusted
    autocovariances come from ONE window pass carrying five lag columns
    (missing heads coalesce to 0, i.e. the textbook Σ_{t>k} x_t·x_{t−k});
    ρ̂_k = S_k/S_0 and Q use the identical scalar recipe on both engines
    over reorder-noise-bounded float sums (round-6 on ρ, round-4 on the
    n-scaled Q). Bar-level windows — the calendar-bounded regime."""
    from pyspark.sql import Window

    bars = _bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "close"
    )
    w = Window.partitionBy("event_type").orderBy("bucket_start")
    r = F.log(
        F.nullif(F.col("close"), F.lit(0))
        / F.nullif(F.lag("close").over(w), F.lit(0))
    )
    v = bars.select("event_type", "bucket_start", r.alias("r")).where(
        F.col("r").isNotNull()
    )
    return _ljung_box_q5(v, "lb_q5")


def _ljung_box_q5(v, q_name):
    """Shared Ljung-Box Q(5) machinery over a (event_type, bucket_start,
    r) relation: mean-adjust per key, one window pass carrying five lag
    columns, S_k sums, ρ̂_k = S_k/S_0, Q = n(n+2)·Σ ρ̂_k²/(n−k).
    ``ljung_box_returns_5m`` feeds log returns; the McLeod-Li variant
    feeds SQUARED returns through the identical expressions."""
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("bucket_start")
    mu = v.groupBy("event_type").agg(
        (F.sum("r") / F.count(F.lit(1))).alias("m")
    )
    x = v.join(F.broadcast(mu), "event_type").select(
        "event_type", "bucket_start", (F.col("r") - F.col("m")).alias("x")
    )
    lag_cols = [
        F.lag("x", k).over(w).alias(f"x{k}") for k in range(1, 6)
    ]
    lagged = x.select("event_type", "x", *lag_cols)
    aggs = [F.count(F.lit(1)).alias("n"), F.sum(F.col("x") * F.col("x")).alias("s0")]
    for k in range(1, 6):
        aggs.append(
            F.sum(F.col("x") * F.coalesce(F.col(f"x{k}"), F.lit(0.0))).alias(
                f"s{k}"
            )
        )
    s = lagged.groupBy("event_type").agg(*aggs)
    nd = F.col("n").cast("double")
    q = nd * (nd + 2.0) * sum(
        (
            (F.col(f"s{k}") / F.col("s0"))
            * (F.col(f"s{k}") / F.col("s0"))
            / (nd - float(k))
            for k in range(1, 6)
        ),
        F.lit(0.0),
    )
    return s.select(
        "event_type",
        "n",
        F.round(F.col("s1") / F.col("s0"), 6).alias("rho1"),
        F.round(F.col("s2") / F.col("s0"), 6).alias("rho2"),
        F.round(F.col("s3") / F.col("s0"), 6).alias("rho3"),
        F.round(q, 4).alias(q_name),
    )


# --- McLeod-Li test: ARCH effects via Ljung-Box on squared returns ----------
@register(
    "mcleod_li_squared_returns_5m",
    oracle=_HLC_BARS_CTE + """
    , lr AS (
      SELECT event_type, bucket_start,
             ln(nullif(close, 0)
                / nullif(lag(close) OVER (PARTITION BY event_type
                                          ORDER BY bucket_start), 0)) AS r0
      FROM bars
    ),
    v AS (
      SELECT event_type, bucket_start, r0 * r0 AS r
      FROM lr WHERE r0 IS NOT NULL
    ),
    mu AS (SELECT event_type, sum(r) / count(*) AS m FROM v GROUP BY 1),
    x AS (
      SELECT v.event_type, v.bucket_start, v.r - mu.m AS x
      FROM v JOIN mu ON v.event_type = mu.event_type
    ),
    lagged AS (
      SELECT event_type, x,
             lag(x, 1) OVER w AS x1, lag(x, 2) OVER w AS x2,
             lag(x, 3) OVER w AS x3, lag(x, 4) OVER w AS x4,
             lag(x, 5) OVER w AS x5
      FROM x
      WINDOW w AS (PARTITION BY event_type ORDER BY bucket_start)
    ),
    s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             sum(x * x)                AS s0,
             sum(x * coalesce(x1, 0))  AS s1,
             sum(x * coalesce(x2, 0))  AS s2,
             sum(x * coalesce(x3, 0))  AS s3,
             sum(x * coalesce(x4, 0))  AS s4,
             sum(x * coalesce(x5, 0))  AS s5
      FROM lagged GROUP BY 1
    )
    SELECT event_type, n,
           round(s1 / s0, 6) AS rho1,
           round(s2 / s0, 6) AS rho2,
           round(s3 / s0, 6) AS rho3,
           round(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0)
                 * ((s1 / s0) * (s1 / s0) / (CAST(n AS DOUBLE) - 1.0)
                    + (s2 / s0) * (s2 / s0) / (CAST(n AS DOUBLE) - 2.0)
                    + (s3 / s0) * (s3 / s0) / (CAST(n AS DOUBLE) - 3.0)
                    + (s4 / s0) * (s4 / s0) / (CAST(n AS DOUBLE) - 4.0)
                    + (s5 / s0) * (s5 / s0) / (CAST(n AS DOUBLE) - 5.0)),
                 4) AS ml_q5
    FROM s
    """,
)
def mcleod_li_squared_returns_5m(spark, sf_dir):
    """McLeod-Li test (h = 5 lags) on SQUARED 5-minute log returns per
    symbol — the standard ARCH-effect diagnostic: returns can pass
    Ljung-Box (no linear autocorrelation) while their squares don't
    (volatility clusters), which is the evidence a risk pipeline needs
    before trusting the EWMA/GARCH family it fits next (complements the
    certified ``ewma_vol_5m``). Same certified portmanteau machinery as
    ``ljung_box_returns_5m`` (one window pass with five lag columns,
    ρ̂_k = S_k/S_0, Q = n(n+2)·Σ ρ̂_k²/(n−k)) fed x = r² − mean(r²);
    round-6 on ρ, round-4 on the n-scaled Q. Bar-level windows — the
    calendar-bounded regime."""
    from pyspark.sql import Window

    bars = _bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "close"
    )
    w = Window.partitionBy("event_type").orderBy("bucket_start")
    r = F.log(
        F.nullif(F.col("close"), F.lit(0))
        / F.nullif(F.lag("close").over(w), F.lit(0))
    )
    v = bars.select(
        "event_type", "bucket_start", (r * r).alias("r")
    ).where(F.col("r").isNotNull())
    return _ljung_box_q5(v, "ml_q5")


# --- PACF via Durbin-Levinson (the ACF family's missing half) --------------
@register(
    "pacf_returns_lags",
    oracle=_HLC_BARS_CTE + """
    , r AS (
      SELECT event_type, bucket_start,
             close / nullif(lag(close) OVER w, 0) - 1 AS ret
      FROM bars
      WINDOW w AS (PARTITION BY event_type ORDER BY bucket_start)
    ),
    l AS (
      SELECT event_type, ret,
             lag(ret)    OVER w AS ret_l1,
             lag(ret, 2) OVER w AS ret_l2,
             lag(ret, 3) OVER w AS ret_l3,
             lag(ret, 4) OVER w AS ret_l4
      FROM r
      WINDOW w AS (PARTITION BY event_type ORDER BY bucket_start)
    ),
    rho AS (
      SELECT event_type, count(ret) AS n_obs,
             round(corr(ret, ret_l1), 6) AS r1,
             round(corr(ret, ret_l2), 6) AS r2,
             round(corr(ret, ret_l3), 6) AS r3,
             round(corr(ret, ret_l4), 6) AS r4
      FROM l GROUP BY 1
    ),
    d1 AS (SELECT *, r1 AS p11 FROM rho),
    d2 AS (SELECT *, (r2 - p11 * r1) / (1 - p11 * r1) AS p22 FROM d1),
    d2b AS (SELECT *, p11 - p22 * p11 AS p21 FROM d2),
    d3 AS (
      SELECT *, (r3 - (p21 * r2 + p22 * r1))
                / (1 - (p21 * r1 + p22 * r2)) AS p33
      FROM d2b
    ),
    d3b AS (
      SELECT *, p21 - p33 * p22 AS p31, p22 - p33 * p21 AS p32 FROM d3
    ),
    d4 AS (
      SELECT *, (r4 - (p31 * r3 + p32 * r2 + p33 * r1))
                / (1 - (p31 * r1 + p32 * r2 + p33 * r3)) AS p44
      FROM d3b
    )
    SELECT event_type,
           CAST(n_obs AS BIGINT) AS n_obs,
           round(p11, 6) AS pacf_1,
           round(p22, 6) AS pacf_2,
           round(p33, 6) AS pacf_3,
           round(p44, 6) AS pacf_4
    FROM d4
    """,
)
def pacf_returns_lags(spark, sf_dir):
    """Partial autocorrelation of 5m returns at lags 1-4 per symbol via
    the Durbin-Levinson recursion — the AR-order fingerprint the ACF
    cannot give (acf_returns_lags measures raw serial correlation; the
    PACF removes the shorter-lag pass-through, so a spike at lag k
    reads "AR(k) term needed"). Cross-engine determinism comes from
    ANCHORING the recursion on the round-6 ACF values — the same
    anchor the certified acf_returns_lags hashes — then evaluating the
    identical scalar expression tree on identical doubles in both
    engines (one recursion level per chained CTE / withColumn, same
    parenthesization). The heavy work is the one per-symbol window
    partitioning carrying the return and its four lagged copies; the
    recursion itself runs on the symbols-sized aggregate — cost
    independent of row count past the one exchange."""
    from pyspark.sql import Window

    bars = _bars(spark, sf_dir, "5 minutes").select(
        "event_type", "bucket_start", "close"
    )
    w = Window.partitionBy("event_type").orderBy("bucket_start")
    r = bars.withColumn(
        "ret",
        F.col("close") / F.nullif(F.lag("close").over(w), F.lit(0.0)) - 1,
    )
    l = r.select(
        "event_type",
        "ret",
        F.lag("ret").over(w).alias("ret_l1"),
        F.lag("ret", 2).over(w).alias("ret_l2"),
        F.lag("ret", 3).over(w).alias("ret_l3"),
        F.lag("ret", 4).over(w).alias("ret_l4"),
    )
    rho = l.groupBy("event_type").agg(
        F.count("ret").alias("n_obs"),
        F.round(F.corr("ret", "ret_l1"), 6).alias("r1"),
        F.round(F.corr("ret", "ret_l2"), 6).alias("r2"),
        F.round(F.corr("ret", "ret_l3"), 6).alias("r3"),
        F.round(F.corr("ret", "ret_l4"), 6).alias("r4"),
    )
    r1, r2, r3, r4 = (F.col(c) for c in ("r1", "r2", "r3", "r4"))
    d = rho.withColumn("p11", r1)
    p11 = F.col("p11")
    d = d.withColumn("p22", (r2 - p11 * r1) / (1 - p11 * r1))
    p22 = F.col("p22")
    d = d.withColumn("p21", p11 - p22 * p11)
    p21 = F.col("p21")
    d = d.withColumn(
        "p33",
        (r3 - (p21 * r2 + p22 * r1)) / (1 - (p21 * r1 + p22 * r2)),
    )
    p33 = F.col("p33")
    d = d.withColumn("p31", p21 - p33 * p22).withColumn(
        "p32", p22 - p33 * p21
    )
    p31, p32 = F.col("p31"), F.col("p32")
    d = d.withColumn(
        "p44",
        (r4 - (p31 * r3 + p32 * r2 + p33 * r1))
        / (1 - (p31 * r1 + p32 * r2 + p33 * r3)),
    )
    return d.select(
        "event_type",
        F.col("n_obs").cast("bigint").alias("n_obs"),
        F.round(p11, 6).alias("pacf_1"),
        F.round(p22, 6).alias("pacf_2"),
        F.round(p33, 6).alias("pacf_3"),
        F.round(F.col("p44"), 6).alias("pacf_4"),
    )


# --- Haar wavelet energy by scale (multi-resolution volatility) ------------
@register(
    "haar_energy_5m",
    oracle=_CLOSE_BARS_5M_CTE + """,
    cb AS (
      SELECT event_type,
             CAST(round(close * 100) AS BIGINT) AS cents,
             row_number() OVER (
               PARTITION BY event_type ORDER BY bucket_start
             ) - 1 AS i
      FROM bars
    ),
    lv AS (SELECT unnest(range(1, 7)) AS l),
    g AS (
      SELECT event_type, l,
             i // CAST(power(2, l) AS BIGINT) AS block,
             SUM((1 - 2 * ((i // CAST(power(2, l - 1) AS BIGINT)) % 2))
                 * cents) AS d,
             count(*) AS n
      FROM cb CROSS JOIN lv GROUP BY 1, 2, 3
    )
    SELECT event_type,
           CAST(l AS BIGINT)          AS level,
           CAST(count(*) AS BIGINT)   AS n_blocks,
           CAST(SUM(d * d) AS BIGINT) AS energy
    FROM g WHERE n = CAST(power(2, l) AS BIGINT)
    GROUP BY 1, 2
    """,
)
def haar_energy_5m(spark, sf_dir):
    """Haar wavelet energy decomposition of the 5-minute close series,
    levels 1-6 — the multi-resolution volatility profile (wavelet
    variance, Percival & Walden 2000): the level-l detail coefficient of
    each complete 2^l-bar block is (sum of first half) − (sum of second
    half) of close cents, and Σd² per (symbol, level) attributes price
    fluctuation energy to the 2^l-bar horizon. A trending series loads
    the coarse levels, a mean-reverting one the fine levels — the
    horizon-resolved complement of the single-number realized-vol /
    variance-ratio rows. UNNORMALIZED Haar (pairwise sums/differences,
    no 1/sqrt(2)) keeps every coefficient an exact BIGINT of cents, so
    the whole decomposition is integer-exact cross-engine — no float
    recursion, no rounding grid. Incomplete tail blocks are excluded by
    the exact n = 2^l count, identically on both sides. Plan: the bar
    aggregate (one shuffle), one ordinal window per symbol, then a
    6-level explode of the BAR-grain relation (bounded by bars, not
    ticks) into two hash aggregates."""
    from pyspark.sql import Window

    bars = _bars(spark, sf_dir, "5 minutes").select(
        "event_type",
        "bucket_start",
        F.round(F.col("close") * 100, 0).cast("bigint").alias("cents"),
    )
    w = Window.partitionBy("event_type").orderBy("bucket_start")
    cb = bars.select(
        "event_type",
        "cents",
        (F.row_number().over(w) - 1).alias("i"),
    )
    lvls = cb.select(
        "event_type",
        "cents",
        "i",
        F.explode(F.array(*[F.lit(l) for l in range(1, 7)])).alias("l"),
    )
    g = (
        lvls.selectExpr(
            "event_type",
            "l",
            "i DIV CAST(power(2, l) AS BIGINT) AS block",
            "(1 - 2 * ((i DIV CAST(power(2, l - 1) AS BIGINT)) % 2))"
            " * cents AS sc",
        )
        .groupBy("event_type", "l", "block")
        .agg(
            F.sum("sc").alias("d"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return (
        g.where(
            F.col("n")
            == F.expr("CAST(power(2, l) AS BIGINT)")
        )
        .groupBy("event_type", "l")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
            F.sum(F.col("d") * F.col("d")).cast("bigint").alias("energy"),
        )
        .select(
            "event_type",
            F.col("l").cast("bigint").alias("level"),
            "n_blocks",
            "energy",
        )
    )
