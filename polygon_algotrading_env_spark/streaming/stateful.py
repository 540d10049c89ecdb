"""Custom stateful streaming operators via ``applyInPandasWithState``
(SURVEY.md §2.10/§2.11 — the escape hatch for semantics windowed
aggregation can't express).

``stream_running_stats`` keeps one state blob per symbol: running count,
Σp, Σp·v, Σv, last price/ts, session high/low — i.e. the live "tape
summary" a trading UI reads per symbol, updated per micro-batch and
emitted once per key per batch. State is per-key and O(1) bytes, sharded
by the group key exactly as on a cluster; a GroupStateTimeout evicts
symbols that stop trading.

The six sequential twins of batch indicators (CUSUM, SMA signals, EWMA
vol, RSI, MACD, Kalman level) share ONE per-key update, ``_recursion``:
the Structured Streaming model of arbitrary stateful processing — one
function of (key, new rows, state) per trigger. The skeleton restores
the state, merges and sorts the group's chunks once, drops rows at or
behind the ``last_ts`` cursor, and hands every surviving row to the
operator's step rule, which updates the state in place and returns the
output columns. Each operator is its step rule plus its state/output
schemas; the schemas are the checkpoint format (state is stored as
binary UnsafeRows, so a field reorder breaks every existing checkpoint).

``stream_ecdf_drift`` (strict ``<`` guard with a tie cursor, update
mode) and ``stream_running_stats`` (per-chunk aggregates, idle timeout)
keep their own update functions.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

def _merged_sorted(
    pdfs: Iterator[pd.DataFrame], ts_col: str | list[str]
) -> pd.DataFrame | None:
    """Concatenate a group's Arrow chunk iterator and sort ONCE.

    One micro-batch may deliver a group across several Arrow chunks, and
    a later chunk carrying earlier timestamps is in-batch data, not late
    data — sorting each chunk independently would wrongly drop those rows
    at the cross-batch ``t <= last_ts`` monotonicity guard. Returns None
    when the batch holds no rows for the group."""
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if not chunks:
        return None
    merged = (
        chunks[0]
        if len(chunks) == 1
        else pd.concat(chunks, ignore_index=True)
    )
    return merged.sort_values(ts_col, kind="stable")


# (count, sum_p, sum_pv, sum_v, last_ts_epoch_us, last_price, high, low)
_STATE_SCHEMA = (
    "n bigint, sum_p double, sum_pv double, sum_v double, "
    "last_ts long, last_price double, high double, low double"
)
_OUTPUT_SCHEMA = (
    "ticker string, n bigint, mean_price double, vwap double, "
    "last_price double, high double, low double"
)


def _make_update(evict_idle_ms: int | None):
    def _update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        # (the trailing yield makes this a generator on every path)
        if state.hasTimedOut:
            state.remove()
            return
        n, sum_p, sum_pv, sum_v = 0, 0.0, 0.0, 0.0
        last_ts, last_price = -1, float("nan")
        high, low = float("-inf"), float("inf")
        if state.exists:
            n, sum_p, sum_pv, sum_v, last_ts, last_price, high, low = state.get

        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            n += len(pdf)
            sum_p += float(pdf["price"].sum())
            sum_pv += float((pdf["price"] * pdf["size"]).sum())
            sum_v += float(pdf["size"].sum())
            high = max(high, float(pdf["price"].max()))
            low = min(low, float(pdf["price"].min()))
            ts_us = pdf["ts"].astype("int64") // 1000
            idx = int(ts_us.idxmax())
            if int(ts_us.loc[idx]) > last_ts:
                last_ts = int(ts_us.loc[idx])
                last_price = float(pdf["price"].loc[idx])

        state.update((n, sum_p, sum_pv, sum_v, last_ts, last_price, high, low))
        if evict_idle_ms is not None:
            state.setTimeoutDuration(evict_idle_ms)
        yield _emit(key, n, sum_p, sum_pv, sum_v, last_price, high, low)

    return _update


def _emit(key, n, sum_p, sum_pv, sum_v, last_price, high, low):
    return pd.DataFrame(
        {
            "ticker": [key[0]],
            "n": [n],
            "mean_price": [sum_p / n if n else None],
            "vwap": [sum_pv / sum_v if sum_v else None],
            "last_price": [last_price],
            "high": [high],
            "low": [low],
        }
    )


_EVICT_IDLE_MS = 60 * 60 * 1000  # drop state for symbols idle > 1 h


def stream_running_stats(
    stream: DataFrame, key_col: str = "ticker", evict_idle: bool = True
) -> DataFrame:
    """Per-symbol running tape summary over a stream with columns
    (ticker, ts timestamp, price double, size double).

    Emits one updated row per active symbol per micro-batch (output mode:
    update). ``evict_idle`` arms a 1-hour processing-time timeout that
    drops state for symbols that stop trading — right for a long-lived
    live query; pass False for availableNow catch-up runs (an armed
    processing-time timeout keeps the query scheduling batches, so
    drain-and-stop runs don't terminate promptly).
    """
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if evict_idle
        else GroupStateTimeout.NoTimeout
    )
    return stream.groupBy(key_col).applyInPandasWithState(
        _make_update(_EVICT_IDLE_MS if evict_idle else None),
        outputStructType=_OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout,
    )


# ---------------------------------------------------------------------------
# The per-key recursion skeleton shared by the six sequential twins below
# ---------------------------------------------------------------------------

_NO_TS = -(1 << 62)  # the cursor before any row is applied


def _fields(schema: str) -> list[tuple[str, str]]:
    """(name, type) pairs of a flat DDL schema (no nested commas)."""
    return [tuple(f.split(None, 1)) for f in schema.split(",")]


def _recursion(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    state_schema: str,
    output_schema: str,
    init: dict,
    step,
) -> DataFrame:
    """One sequential recursion per key over ``value_col`` in
    ``ts_col`` order, carried across micro-batches in state.

    ``init`` maps every state field except ``last_ts`` to its value for
    a new key. ``step(state, value)`` updates the state dict in place
    and returns the output columns after (key, ts), or None to emit
    nothing for that row. Rows within a micro-batch are applied in
    event-time order; rows at or before the last applied timestamp are
    DROPPED (the cross-batch monotonicity guard: a recursion cannot
    absorb late data retroactively — route late rows to the batch
    path). Every applied row advances the ``last_ts`` cursor, emitted
    or not. Output mode append, no timeout."""
    fields = _fields(state_schema)
    names = [n for n, _ in fields]
    arrays = [n for n, t in fields if t.startswith("array")]
    cols = [n for n, _ in _fields(output_schema)]

    def _update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        s = (
            dict(zip(names, state.get))
            if state.exists
            else dict(init, last_ts=_NO_TS)
        )
        for n in arrays:  # fresh lists: no key may share init's
            s[n] = list(s[n])
        rows = []
        pdf = _merged_sorted(pdfs, ts_col)
        if pdf is not None:
            ts_us = pdf[ts_col].astype("int64") // 1000
            for t, v in zip(ts_us.tolist(), pdf[value_col].tolist()):
                if t <= s["last_ts"]:
                    continue
                out = step(s, float(v))
                s["last_ts"] = t
                if out is not None:
                    rows.append((key[0], t, *out))
        state.update(tuple(s[n] for n in names))
        if rows:
            frame = pd.DataFrame(rows, columns=cols)
            frame[cols[1]] = pd.to_datetime(frame[cols[1]], unit="us")
            yield frame

    return stream.groupBy(key_col).applyInPandasWithState(
        _update,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming CUSUM: per-key drift alarms with O(1) state
# ---------------------------------------------------------------------------

_CUSUM_STATE_SCHEMA = "s double, last_ts long"
_CUSUM_OUTPUT_SCHEMA = (
    "symbol string, ts timestamp, cusum double, alarm boolean"
)


def stream_cusum(
    stream: DataFrame,
    threshold: float,
    key_col: str = "symbol",
    ts_col: str = "ts",
    dev_col: str = "a",
) -> DataFrame:
    """Streaming one-sided CUSUM per key: S ← max(0, S + a) with alarm at
    S > threshold, carried as ONE double of state per key — the live
    counterpart of the batch ``cusum_alarms_5m`` prefix-sum identity
    (same recursion, same alarms; equivalence is pinned in tests).

    ``dev_col`` is the pre-standardized deviation (z − k), produced
    upstream — e.g. a stream-static join against a per-key (μ, σ) model
    table — so the operator composes with any drift model without
    owning it. Rows within a micro-batch are applied in ``ts_col`` order;
    rows at or before the last applied timestamp are DROPPED (the
    cross-batch monotonicity guard: a sequential statistic cannot absorb
    late data retroactively — route late rows to the batch path instead).
    Emits every row with its post-update statistic (append semantics per
    input row, not one row per key per batch).
    """

    def step(st, a):
        s = st["s"] + a
        if s < 0.0:
            s = 0.0
        st["s"] = s
        return s, s > threshold

    return _recursion(
        stream, key_col, ts_col, dev_col,
        _CUSUM_STATE_SCHEMA, _CUSUM_OUTPUT_SCHEMA, {"s": 0.0}, step,
    )


# ---------------------------------------------------------------------------
# Streaming SMA-crossover signals: bounded per-key price history
# ---------------------------------------------------------------------------

_SIG_STATE_SCHEMA = (
    "prices array<double>, last_signal int, last_ts long, last_price double"
)
_SIG_OUTPUT_SCHEMA = (
    "symbol string, ts timestamp, close double, sma_fast double, "
    "sma_slow double, signal int, position int, pnl double"
)


def stream_sma_signal(
    stream: DataFrame,
    fast: int = 5,
    slow: int = 20,
    key_col: str = "symbol",
    ts_col: str = "ts",
    price_col: str = "close",
) -> DataFrame:
    """Live SMA-crossover signals with O(slow) state per key — the
    streaming counterpart of operators/backtest.py's batch path, emitting
    the SAME per-bar columns (SMAs, signal, lagged position, P&L) so a
    live deployment and its backtest share one definition (equivalence
    pinned in tests, including the batch path's round-4 SMA-sum
    stabilization, partial warm-up frames, and flat-on-first-bar return).
    State: the last ``slow`` closes + previous signal/price. Same
    cross-batch monotonicity guard as stream_cusum: rows at or behind the
    last applied event time are dropped, not retro-applied."""

    def step(st, px):
        prices = st["prices"]
        prices.append(px)
        if len(prices) > slow:
            prices.pop(0)
        n_f = min(fast, len(prices))
        # mirror the batch path exactly: round the window SUM to
        # 4 before dividing (cross-engine SMA stabilization)
        sma_f = round(sum(prices[-n_f:]), 4) / n_f
        sma_s = round(sum(prices), 4) / len(prices)
        signal = 1 if sma_f > sma_s else 0
        position, last = st["last_signal"], st["last_price"]
        ret = 0.0 if (last != last or last == 0.0) else px / last - 1.0
        st["last_signal"], st["last_price"] = signal, px
        return px, sma_f, sma_s, signal, position, position * ret

    init = {"prices": [], "last_signal": 0, "last_price": float("nan")}
    return _recursion(
        stream, key_col, ts_col, price_col,
        _SIG_STATE_SCHEMA, _SIG_OUTPUT_SCHEMA, init, step,
    )

# ---------------------------------------------------------------------------
# Streaming EWMA (RiskMetrics) volatility: O(1) state per key
# ---------------------------------------------------------------------------

_EWMA_STATE_SCHEMA = (
    "var double, last_ts long, last_close double, seeded boolean"
)
_EWMA_OUTPUT_SCHEMA = (
    "symbol string, ts timestamp, close double, ewma_vol double"
)


def stream_ewma_vol(
    stream: DataFrame,
    span: int = 39,
    key_col: str = "symbol",
    ts_col: str = "ts",
    price_col: str = "close",
) -> DataFrame:
    """Live RiskMetrics EWMA volatility per key — the streaming twin of
    the batch ``ewma_vol_5m`` closed-form plan: sigma²_t = λ·sigma²_{t-1}
    + (1−λ)·r²_t with λ = 1 − 2/(span+1) (span 39 ⇒ λ = 0.95), returns
    r = close/prev − 1 (0 when prev is missing or 0), seeded at the first
    squared return — the recursion a risk engine serves hot, carried as
    ONE double of state per key (equivalence with the batch closed form
    and with a sequential Python reference is pinned in tests, as is
    checkpointed state across a kill/restart).

    Same cross-batch monotonicity guard as :func:`stream_cusum`: rows at
    or behind the last applied event time are dropped, not retro-applied
    — a recursion cannot absorb late data; route late rows to the batch
    path. Emits every row with its post-update vol (append semantics).
    """
    lam = 1.0 - 2.0 / (span + 1)
    alpha = 2.0 / (span + 1)

    def step(st, px):
        last = st["last_close"]
        r = 0.0 if (last != last or last == 0.0) else px / last - 1.0
        if st["seeded"]:
            st["var"] = lam * st["var"] + alpha * (r * r)
        else:
            st["var"], st["seeded"] = r * r, True
        st["last_close"] = px
        return px, st["var"] ** 0.5

    init = {"var": 0.0, "last_close": float("nan"), "seeded": False}
    return _recursion(
        stream, key_col, ts_col, price_col,
        _EWMA_STATE_SCHEMA, _EWMA_OUTPUT_SCHEMA, init, step,
    )


# ---------------------------------------------------------------------------
# Streaming RSI-14: O(period) state per key
# ---------------------------------------------------------------------------

_RSI_STATE_SCHEMA = (
    "gains array<double>, losses array<double>, rn long, last_ts long, "
    "last_val double"
)
_RSI_OUTPUT_SCHEMA = "symbol string, ts timestamp, rsi double"


def stream_rsi(
    stream: DataFrame,
    period: int = 14,
    key_col: str = "symbol",
    ts_col: str = "ts",
    price_col: str = "value",
) -> DataFrame:
    """Live RSI (Cutler's simple-average form) per key — the streaming
    twin of the batch ``rsi_14_per_event_type`` zoned plan, with O(period)
    state per key (the last ``period`` gains/losses plus a row counter).
    Mirrors the batch recipe exactly: the first row's delta counts as
    zero gain/loss, the rolling frame is the last ``period`` rows
    including the current one, window sums are stabilized by round(·, 6)
    before the division, and rows are emitted only once the counter
    passes ``period`` (the batch's ``rn > 14`` warm-up filter).
    Equivalence with the batch window formula is pinned in tests, as is
    checkpointed state across a kill/restart. Same cross-batch
    monotonicity guard as :func:`stream_cusum`."""

    def step(st, px):
        gains, losses, last = st["gains"], st["losses"], st["last_val"]
        st["rn"] += 1
        st["last_val"] = px
        d = 0.0 if last != last else px - last
        gains.append(d if d > 0 else 0.0)
        losses.append(-d if d < 0 else 0.0)
        if len(gains) > period:
            gains.pop(0)
            losses.pop(0)
        if st["rn"] <= period:
            return None
        ag = round(sum(gains), 6) / len(gains)
        al = round(sum(losses), 6) / len(losses)
        return (100.0 if al == 0.0 else 100.0 - 100.0 / (1.0 + ag / al),)

    init = {"gains": [], "losses": [], "rn": 0, "last_val": float("nan")}
    return _recursion(
        stream, key_col, ts_col, price_col,
        _RSI_STATE_SCHEMA, _RSI_OUTPUT_SCHEMA, init, step,
    )


# ---------------------------------------------------------------------------
# Streaming MACD: O(1) state per key (three EMA recursions)
# ---------------------------------------------------------------------------

_MACD_STATE_SCHEMA = (
    "ema_f double, ema_s double, sig double, started boolean, last_ts long"
)
_MACD_OUTPUT_SCHEMA = (
    "symbol string, ts timestamp, close double, macd double, "
    "macd_signal double, macd_hist double"
)


def stream_macd(
    stream: DataFrame,
    fast: int = 12,
    slow: int = 26,
    signal: int = 9,
    key_col: str = "symbol",
    ts_col: str = "ts",
    price_col: str = "close",
) -> DataFrame:
    """Live MACD(fast, slow, signal) per key — the streaming twin of the
    batch ``with_macd_closed_form`` plan, carried as THREE doubles of
    state per key (the fast/slow price EMAs and the signal EMA of their
    difference, each seeded at the first observation exactly like
    pandas ``ewm(adjust=False)``). Equivalence with both the pandas
    recursion (``with_macd`` in tests/indicator_refs.py) and the fused
    closed-form batch plan is pinned in tests,
    as is checkpointed state across a kill/restart. Same cross-batch
    monotonicity guard as :func:`stream_cusum`: rows at or behind the
    last applied event time are dropped, not retro-applied."""
    af = 2.0 / (fast + 1)
    as_ = 2.0 / (slow + 1)
    ag = 2.0 / (signal + 1)

    def step(st, px):
        if st["started"]:
            st["ema_f"] += af * (px - st["ema_f"])
            st["ema_s"] += as_ * (px - st["ema_s"])
            st["sig"] += ag * (st["ema_f"] - st["ema_s"] - st["sig"])
        else:
            st.update(ema_f=px, ema_s=px, sig=0.0, started=True)
        macd = st["ema_f"] - st["ema_s"]
        return px, macd, st["sig"], macd - st["sig"]

    init = {"ema_f": 0.0, "ema_s": 0.0, "sig": 0.0, "started": False}
    return _recursion(
        stream, key_col, ts_col, price_col,
        _MACD_STATE_SCHEMA, _MACD_OUTPUT_SCHEMA, init, step,
    )


# ---------------------------------------------------------------------------
# Streaming Kalman local-level filter: O(1) state per key
# ---------------------------------------------------------------------------

_KALMAN_STATE_SCHEMA = (
    "x double, p double, started boolean, last_ts long"
)
_KALMAN_OUTPUT_SCHEMA = (
    "symbol string, ts timestamp, close double, kalman_level double, "
    "kalman_gain double"
)


def stream_kalman_level(
    stream: DataFrame,
    q_var: float = 1e-4,
    r_var: float = 1e-2,
    key_col: str = "symbol",
    ts_col: str = "ts",
    price_col: str = "close",
) -> DataFrame:
    """Live Kalman local-level filter per key — the streaming twin of the
    batch ``with_kalman_level_closed_form`` plan, carried as TWO doubles
    of state per key (the level estimate and the error variance; the
    gain recursion pp = p + q, k = pp/(pp+r), p' = (1−k)·pp continues
    exactly from the checkpointed p, so a restart resumes the SAME gain
    schedule the batch warm-up evaluates). First observation seeds
    x = y with prior variance r_var and gain 0, matching the batch
    operator. Equivalence with the sequential recursion
    (``with_kalman_level`` in tests/indicator_refs.py) is pinned in tests, as is checkpointed state across a kill/restart. Same
    cross-batch monotonicity guard as :func:`stream_cusum`."""

    def step(st, px):
        if st["started"]:
            pp = st["p"] + q_var
            k = pp / (pp + r_var)
            st["x"] += k * (px - st["x"])
            st["p"] = (1.0 - k) * pp
        else:
            st.update(x=px, p=r_var, started=True)
            k = 0.0
        return px, st["x"], k

    init = {"x": 0.0, "p": r_var, "started": False}
    return _recursion(
        stream, key_col, ts_col, price_col,
        _KALMAN_STATE_SCHEMA, _KALMAN_OUTPUT_SCHEMA, init, step,
    )


# ---------------------------------------------------------------------------
# Streaming ECDF drift monitor: live KS / W1 / CvM vs a self-calibrated
# reference distribution
# ---------------------------------------------------------------------------

_DRIFT_STATE_SCHEMA = (
    "ref_v array<long>, ref_c array<long>, cur_v array<long>, "
    "cur_c array<long>, n_ref_seen bigint, last_ts long, n_at_last bigint, "
    "last_id bigint"
)
_DRIFT_OUTPUT_SCHEMA = (
    "event_type string, n1 bigint, n2 bigint, d_num bigint, ks double, "
    "w1_num bigint, w1 double, cvm_num bigint, cvm double"
)


def _cents_half_up(values: pd.Series) -> list[int]:
    """value → integer cents with ROUND HALF AWAY FROM ZERO — the exact
    semantics of Spark's F.round(x*100) and DuckDB's round(), so the
    stream, the batch plan, and the oracle quantize identically (Python's
    built-in round() banker's-rounds and would desynchronize ties)."""
    import numpy as np

    x = values.to_numpy(dtype="float64") * 100.0
    return np.where(
        x >= 0, np.floor(x + 0.5), -np.floor(-x + 0.5)
    ).astype("int64").tolist()


def _drift_stats(ref: dict, cur: dict):
    """Exact-integer two-sample ECDF statistics from two cents→count maps
    — the same common-denominator identities as the certified batch
    `ecdf_drift_by_type` (d = cum1·n2 − cum2·n1 over the merged grid;
    Python ints, so no 64-bit ceiling inside the fold)."""
    grid = sorted(set(ref) | set(cur))
    n1 = sum(ref.values())
    n2 = sum(cur.values())
    cum1 = cum2 = 0
    d_num = 0
    w1_num = 0
    cvm_num = 0
    for i, v in enumerate(grid):
        c1 = ref.get(v, 0)
        c2 = cur.get(v, 0)
        cum1 += c1
        cum2 += c2
        d = cum1 * n2 - cum2 * n1
        ad = d if d >= 0 else -d
        if ad > d_num:
            d_num = ad
        if i + 1 < len(grid):
            w1_num += ad * (grid[i + 1] - v)
        cvm_num += d * d * (c1 + c2)
    return n1, n2, d_num, w1_num, cvm_num


def _drift_emit_row(key0, ref: dict, cur: dict) -> pd.DataFrame:
    """One emission row from the two cents→count maps. Mirrors the batch
    TRY_CAST semantics at the BIGINT ceiling: the exact Python-int
    numerator AND its derived double go NULL past 2⁶³−1 instead of
    killing the query at Arrow conversion (the batch `_ecdf_two_sample`
    derives w1/cvm from the TRY_CAST'd BIGINT, so both are NULL there
    too). Factored out of the state-update closure so the overflow
    boundary is unit-testable with synthetic count maps — no need to
    stream ~10⁹ rows to cross it."""
    n1, n2, d_num, w1_num, cvm_num = _drift_stats(ref, cur)
    big = 1 << 63
    w1_ok, cvm_ok = w1_num < big, cvm_num < big
    return pd.DataFrame(
        {
            "event_type": [key0],
            "n1": [n1],
            "n2": [n2],
            "d_num": [d_num],
            "ks": [round(d_num / (n1 * n2), 6)],
            "w1_num": [w1_num if w1_ok else None],
            "w1": [
                round(w1_num / (n1 * n2 * 100.0), 6) if w1_ok else None
            ],
            "cvm_num": [cvm_num if cvm_ok else None],
            "cvm": [
                round(cvm_num / (n1 * n2 * float(n1 + n2) ** 2), 6)
                if cvm_ok
                else None
            ],
        }
    )


def stream_ecdf_drift(
    stream: DataFrame,
    n_ref: int = 128,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str | None = None,
) -> DataFrame:
    """Live distribution-drift monitor per key: the first ``n_ref``
    observations (in event order) self-calibrate the REFERENCE
    distribution; every micro-batch after that emits one row per active
    key with the exact two-sample statistics of everything seen since
    calibration vs the reference — KS (sup), Wasserstein-1 (earth-mover
    on the cent grid), and Cramér-von Mises (L2), the same
    exact-integer identities as the certified batch
    ``ecdf_drift_by_type`` (which splits by time halves; the stream
    can't know the horizon, so it calibrates by count — the law test
    pins stream ≡ a first-n/rest batch split on the same feed).

    State per key is two cents→count maps, bounded by the PRICE GRID
    cardinality (not event count) — the same reason the batch plan's
    window runs over the distinct-value relation. Rows STRICTLY before
    the last applied timestamp are DROPPED (the cross-batch
    monotonicity guard shared by every sequential twin here: a count
    that lands before the calibration boundary retroactively would
    silently move the reference). Rows AT the last applied timestamp
    are counted like the batch basis counts them: the cursor is the
    composite (last_ts, rows-already-applied-at-last_ts), so
    same-microsecond ties within a micro-batch are all applied, an
    overlapping re-delivery re-skips exactly the prefix it already
    contributed, and application order equals the batch basis's
    (ts, event_id) order whenever the feed delivers ties in event_id
    order (without ``id_col`` the stream has no event_id column to
    re-sort by). The one residual ambiguity without row ids: a FRESH
    tie at exactly last_ts arriving in a LATER batch, alone, is
    indistinguishable from a re-delivery and is dropped.

    Pass ``id_col`` (a stable BIGINT event id, unique within each
    (key, ts)) to close that ambiguity: rows sort by (ts, id) and the
    cursor becomes the lexicographic (last_ts, last_id) — exactly the
    batch basis's tie-break — so a fresh tie at last_ts (id > last_id)
    is applied once no matter which batch delivers it, and a
    re-delivery (id <= last_id) is always skipped. The id must be
    stable across re-deliveries (an event id, not an arrival counter).
    PRECONDITION (mirroring the no-id caveat above): the guarantee
    holds only when the feed delivers same-timestamp events in id
    order ACROSS batches — a fresh event at exactly last_ts whose id
    is BELOW last_id (cross-batch out-of-id-order delivery) is still
    indistinguishable from a re-delivery and is silently dropped by
    the ``id <= last_id`` guard. Within a batch, id order is imposed
    by the (ts, id) sort, so only cross-batch inversions at the exact
    cursor timestamp hit this residual case.

    Checkpoint compatibility: the state row gained ``n_at_last`` (the
    tie cursor) and ``last_id`` (the id cursor); state rows are stored
    as binary UnsafeRows, so a checkpoint written before either change
    cannot be restored against the current schema — the state-store
    schema check fails the restart loudly (and disabling the check
    would misparse the old binary rows, which is strictly worse).
    Discard the old checkpoint directory on upgrade and let the monitor
    recalibrate from the live feed: the reference window is the first
    ``n_ref`` events, so recalibration costs one window, not history.

    Default ``n_ref=128`` is the hash-certified configuration —
    the split `ecdf_drift_first_n_by_type` pins against the DuckDB
    oracle; other values run fine but no committed artifact certifies
    them. Emits in update mode, one row per key per batch once
    calibration is complete and at least one post-calibration row
    exists.

    Overflow degrades exactly like the certified batch basis: the
    batch emits TRY_CAST(numerator AS BIGINT) and derives w1/cvm from
    that cast, so past 2⁶³−1 both the numerator and the derived double
    go NULL rather than silently wrapping; the stream mirrors this by
    emitting None once the exact Python-int numerator exceeds the
    BIGINT ceiling (reachable for cvm_num at ~tens of thousands of
    post-calibration events per key under strong drift, where
    d ≈ n1·n2). d_num needs no guard: d_num ≤ n1·n2 < 2⁶³ for any
    realistic n2 (with n1=128 the ceiling is n2 ≈ 7·10¹⁶).
    """

    def _update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        ref: dict = {}
        cur: dict = {}
        n_seen, last_ts, n_at_last = 0, -(1 << 62), 0
        last_id = -(1 << 62)
        if state.exists:
            (
                ref_v, ref_c, cur_v, cur_c, n_seen, last_ts, n_at_last,
                last_id,
            ) = state.get
            ref = dict(zip(ref_v, ref_c))
            cur = dict(zip(cur_v, cur_c))
        pdf = _merged_sorted(
            pdfs, [ts_col, id_col] if id_col else ts_col
        )
        if pdf is not None:
            ts_us = pdf[ts_col].astype("int64") // 1000
            cents = _cents_half_up(pdf[value_col])
            ids = (
                pdf[id_col].astype("int64").tolist()
                if id_col
                else [0] * len(cents)
            )
            # Without id_col — pos = this row's 1-based rank among the
            # batch's rows at its own timestamp (stable-sorted, so
            # arrival order). Composite cursor (last_ts, n_at_last): a
            # row at last_ts is new only if its rank exceeds the count
            # already applied there — so a replayed batch re-skips
            # exactly the prefix it already contributed and in-batch
            # ties are never dropped.
            # With id_col — the cursor is the exact lexicographic
            # (last_ts, last_id): apply iff (t, i) > (last_ts, last_id).
            prev_t, pos = None, 0
            for t, v, i in zip(ts_us.tolist(), cents, ids):
                if t < last_ts:
                    continue
                if id_col:
                    if t == last_ts and i <= last_id:
                        continue
                    last_ts, last_id = t, i
                else:
                    pos = pos + 1 if t == prev_t else 1
                    prev_t = t
                    if t == last_ts:
                        if pos <= n_at_last:
                            continue
                        n_at_last = pos
                    else:
                        last_ts, n_at_last = t, pos
                if n_seen < n_ref:
                    ref[v] = ref.get(v, 0) + 1
                    n_seen += 1
                else:
                    cur[v] = cur.get(v, 0) + 1
        state.update(
            (
                list(ref.keys()),
                list(ref.values()),
                list(cur.keys()),
                list(cur.values()),
                n_seen,
                last_ts,
                n_at_last,
                last_id,
            )
        )
        if n_seen >= n_ref and cur:
            yield _drift_emit_row(key[0], ref, cur)

    return stream.groupBy(key_col).applyInPandasWithState(
        _update,
        outputStructType=_DRIFT_OUTPUT_SCHEMA,
        stateStructType=_DRIFT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
