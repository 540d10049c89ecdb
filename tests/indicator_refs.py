"""Sequential reference implementations of the EMA-family indicators.

The package computes EMA, MACD and the Kalman local-level filter as closed
forms (``operators/indicators.py``: ``with_ema_closed_form``,
``with_macd_closed_form``, ``with_kalman_level_closed_form``). These are the
plain per-symbol recursions the closed forms are tested against: one
Arrow-batched grouped map per key that sorts the group and runs the pandas
or scalar loop.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, StructField, StructType


def with_ema(
    df: DataFrame,
    price: str,
    span: int,
    keys: Sequence[str],
    order_cols: Sequence[str],
    out: str | None = None,
) -> DataFrame:
    """Exponential moving average (pandas-equivalent ``ewm(span=...,
    adjust=False)``), computed per key group as an Arrow-batched
    grouped-map."""
    out = out or f"ema_{span}"
    schema = StructType(df.schema.fields + [StructField(out, DoubleType())])
    alpha = 2.0 / (span + 1.0)
    order_list = list(order_cols)

    def _ema(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_list)
        pdf[out] = pdf[price].ewm(alpha=alpha, adjust=False).mean()
        return pdf

    return df.groupBy(*keys).applyInPandas(_ema, schema=schema)


def with_macd(
    df: DataFrame,
    price: str,
    keys: Sequence[str],
    order_cols: Sequence[str],
    fast: int = 12,
    slow: int = 26,
    signal: int = 9,
) -> DataFrame:
    """MACD(fast, slow, signal): macd = EMA(fast) − EMA(slow), signal =
    EMA(signal) of macd, hist = macd − signal. All three recursions run
    in ONE Arrow-batched grouped map per key (not three applyInPandas
    passes) — like :func:`with_ema`, parallelism = number of symbols."""
    schema = StructType(
        df.schema.fields
        + [
            StructField("macd", DoubleType()),
            StructField("macd_signal", DoubleType()),
            StructField("macd_hist", DoubleType()),
        ]
    )
    order_list = list(order_cols)

    def _macd(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_list)
        ema_f = pdf[price].ewm(span=fast, adjust=False).mean()
        ema_s = pdf[price].ewm(span=slow, adjust=False).mean()
        pdf["macd"] = ema_f - ema_s
        pdf["macd_signal"] = pdf["macd"].ewm(span=signal, adjust=False).mean()
        pdf["macd_hist"] = pdf["macd"] - pdf["macd_signal"]
        return pdf

    return df.groupBy(*keys).applyInPandas(_macd, schema=schema)


def with_kalman_level(
    df: DataFrame,
    price: str,
    keys: Sequence[str],
    order_cols: Sequence[str],
    q_var: float = 1e-4,
    r_var: float = 1e-2,
    out: str = "kalman_level",
    gain_col: str | None = "kalman_gain",
) -> DataFrame:
    """Kalman filter for the local-level model per key group — the
    optimal (MMSE) denoiser for a random-walk signal observed with noise:
    state x_t = x_{t-1} + w (var ``q_var``), observation y_t = x_t + v
    (var ``r_var``).

    The gain sequence K_t is data-INDEPENDENT for this model (it depends
    only on q/r and t), so it's precomputed once per group in a scalar
    loop of length n, converging geometrically to the steady-state
    K* = P*/(P*+r) with P* = (q + sqrt(q² + 4qr))/2; the level recursion
    x_t = x_{t-1} + K_t·(y_t − x_{t-1}) then runs as a second scalar
    loop. Like with_ema, the sequential unit is one symbol's series — an
    Arrow-batched grouped map whose parallelism is the symbol count,
    exactly how per-symbol state shards on a cluster. Initialization:
    x_0 = y_0, prior variance = r_var (diffuse-ish without exploding the
    first gain). Deterministic: no RNG, byte-stable across runs and
    partitionings.
    """
    schema = StructType(
        df.schema.fields
        + [StructField(out, DoubleType())]
        + ([StructField(gain_col, DoubleType())] if gain_col else [])
    )
    order_list = list(order_cols)

    def _kalman(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_list)
        y = pdf[price].to_numpy(dtype=np.float64)
        n = len(y)
        levels = np.empty(n)
        gains = np.empty(n)
        if n:
            p = r_var
            x = y[0]
            levels[0] = x
            gains[0] = 0.0
            for i in range(1, n):
                pp = p + q_var
                k = pp / (pp + r_var)
                x = x + k * (y[i] - x)
                p = (1.0 - k) * pp
                levels[i] = x
                gains[i] = k
        pdf[out] = levels
        if gain_col:
            pdf[gain_col] = gains
        return pdf

    return df.groupBy(*keys).applyInPandas(_kalman, schema=schema)
