"""Custom stateful streaming operators: per-symbol state machines on a
live stream (``applyInPandasWithState``).

The reference's stateful surfaces — Portfolio positions dict
(``portfolio.py:29-92``), trailing-stop manager (``risk_monitor.py:415-538``),
PaperAccount (``paper_trading.py:14-56``) — mutate in-memory state per event.
Streaming twin: state keyed by symbol in the state store, updated per
micro-batch; the SAME transition functions the batch ``applyInPandas``
operators use, so batch replay == stream replay.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

TRAILING_STOP_SCHEMA = ("symbol string, ts timestamp, price double, "
                        "running_max double, stop_price double, "
                        "stop_hit boolean")
POSITION_SCHEMA = ("symbol string, n_events long, position double, "
                   "cash double, last_price double, equity double")


def streaming_trailing_stops(
    ticks: DataFrame,
    trail_pct: float = 0.05,
    ts_col: str = "ts",
    symbol_col: str = "symbol",
    price_col: str = "price",
) -> DataFrame:
    """Stateful trailing-stop ratchet on a stream: state = running max per
    symbol; emits per-tick stop levels + hit flags. Exactly the batch
    ``risk.trailing_stops`` semantics (running max * (1 - trail))."""
    trail = float(trail_pct)

    def update(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (symbol,) = key
        runmax = state.get[0] if state.exists else float("-inf")
        outs = []
        for pdf in pdfs:
            pdf = pdf.sort_values(ts_col)
            maxes, stops, hits = [], [], []
            for px in pdf[price_col]:
                runmax = max(runmax, px)
                stop = runmax * (1.0 - trail)
                maxes.append(runmax)
                stops.append(stop)
                hits.append(px <= stop)
            outs.append(pd.DataFrame({
                "symbol": symbol, "ts": pdf[ts_col],
                "price": pdf[price_col], "running_max": maxes,
                "stop_price": stops, "stop_hit": hits,
            }))
        state.update((runmax,))
        yield from outs

    return ticks.groupBy(symbol_col).applyInPandasWithState(
        update,
        outputStructType=TRAILING_STOP_SCHEMA,
        stateStructType="running_max double",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_position_tracker(
    fills: DataFrame,
    initial_cash: float = 1_000_000.0,
    ts_col: str = "ts",
    symbol_col: str = "symbol",
    qty_col: str = "quantity",
    price_col: str = "price",
    side_col: str = "side",
) -> DataFrame:
    """Live position/cash/equity per symbol from a stream of fills — the
    PaperAccount surface (paper_trading.py:14-56) as streaming state.
    Emits one snapshot row per (symbol, micro-batch)."""
    cash0 = float(initial_cash)

    def update(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (symbol,) = key
        if state.exists:
            n, pos, cash, last = state.get
        else:
            n, pos, cash, last = 0, 0.0, cash0, 0.0
        for pdf in pdfs:
            pdf = pdf.sort_values(ts_col)
            for row in pdf.itertuples(index=False):
                qty = getattr(row, qty_col)
                px = getattr(row, price_col)
                sign = 1.0 if getattr(row, side_col) == "buy" else -1.0
                pos += sign * qty
                cash -= sign * qty * px
                last = px
                n += 1
        state.update((n, pos, cash, last))
        yield pd.DataFrame({
            "symbol": [symbol], "n_events": [n], "position": [pos],
            "cash": [cash], "last_price": [last],
            "equity": [cash + pos * last],
        })

    return fills.groupBy(symbol_col).applyInPandasWithState(
        update,
        outputStructType=POSITION_SCHEMA,
        stateStructType="n_events long, position double, cash double, "
                        "last_price double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_dedup(
    df: DataFrame,
    subset: list[str] | None = None,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming deduplication with bounded state:
    ``withWatermark + dropDuplicatesWithinWatermark`` — duplicates arriving
    within the watermark horizon are dropped and state older than the
    horizon is evicted, so state size is bounded by the horizon's key
    cardinality (the unbounded-state pitfall of plain dropDuplicates on a
    stream). Batch equivalent: ``cleaner.deduplicate``."""
    keys = subset or [c for c in df.columns if c != ts_col]
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


BACKTEST_STATE_SCHEMA = ("last_price double, last_position double, "
                         "cum_log double, seen long")
BACKTEST_SCHEMA = (
    "symbol string, ts timestamp, price double, signal double, "
    "position double, trade double, returns double, "
    "strategy_returns double, costs double, net_returns double, "
    "equity double"
)


def streaming_backtest(
    bars: DataFrame,
    position_size: float = 1.0,
    commission: float = 0.001,
    slippage: float = 0.0005,
    initial_cash: float = 1_000_000.0,
    ts_col: str = "ts",
    symbol_col: str = "symbol",
    price_col: str = "close",
    signal_col: str = "signal",
) -> DataFrame:
    """The flagship 9-step vectorized backtest kernel
    (``operators/backtest.py::backtest_signals``, portfolio.py:169-220)
    as a LIVE streaming query: per-symbol state carries exactly the three
    scalars the recurrences need — last price, last position, and the
    running ``sum(log1p(net_returns))`` that is the equity curve's
    exp∘sum∘log1p accumulator — so each micro-batch extends the curve
    without recomputation and batch replay == stream replay
    (tests/test_streaming.py::test_streaming_backtest_matches_batch).

    Input contract: bars already carry the signal column (compose any
    signal stage upstream); ACROSS micro-batches the source must deliver
    per-symbol rows in event-time order (same contract as every
    sequence-dependent stateful operator here). Within a batch rows are
    sorted by ``ts_col``.

    Scale shape: state is 4 scalars/symbol; each batch does one
    numpy-vectorized pass per (symbol, batch) Arrow frame. 100 TB of
    history is irrelevant to the state size — only symbol cardinality
    matters, identical to the reference's per-symbol dict."""
    import numpy as np

    size = float(position_size)
    cost_rate = float(commission) + float(slippage)
    cash0 = float(initial_cash)

    def update(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (symbol,) = key
        if state.exists:
            last_px, last_pos, cum_log, seen = state.get
        else:
            last_px, last_pos, cum_log, seen = 0.0, 0.0, 0.0, 0
        for pdf in pdfs:
            pdf = pdf.sort_values(ts_col)
            px = pdf[price_col].to_numpy(dtype=np.float64)
            sig = pdf[signal_col].to_numpy(dtype=np.float64)
            n = len(px)
            if n == 0:
                continue
            pos = sig * size
            prev_pos = np.concatenate(([last_pos], pos[:-1]))
            prev_px = np.concatenate(([last_px], px[:-1]))
            if seen == 0:
                prev_px[0] = px[0]  # first bar ever: returns = 0 exactly
            trade = pos - prev_pos
            returns = px / prev_px - 1.0
            strat = prev_pos * returns
            costs = np.abs(trade) * cost_rate
            net = strat - costs
            cum = cum_log + np.cumsum(np.log1p(net))
            yield pd.DataFrame({
                "symbol": symbol, "ts": pdf[ts_col], "price": px,
                "signal": sig, "position": pos, "trade": trade,
                "returns": returns, "strategy_returns": strat,
                "costs": costs, "net_returns": net,
                "equity": np.exp(cum) * cash0,
            })
            last_px, last_pos = float(px[-1]), float(pos[-1])
            cum_log = float(cum[-1])
            seen += n
        state.update((last_px, last_pos, cum_log, seen))

    return bars.groupBy(symbol_col).applyInPandasWithState(
        update,
        outputStructType=BACKTEST_SCHEMA,
        stateStructType=BACKTEST_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


FILLS_SCHEMA = ("trade_id string, ts timestamp, symbol string, side string, "
                "quantity double, price double, order_id string")


def streaming_order_book(
    events: DataFrame,
    slippage_pct: float = 0.001,
    cross_orders: bool = False,
) -> DataFrame:
    """Live limit-order-book matching on a stream — the streaming twin of
    ``operators/orderbook.py::simulate_order_book`` running the SAME
    ``_Matcher`` kernel, so batch replay == stream replay (asserted in
    tests/test_streaming.py).

    ``events`` is the merged order+tick stream
    (``orderbook.merge_order_tick_events`` works on streaming inputs too).
    State per symbol = the full book (both heaps with price-time seq),
    resting stops, last price, and the fill counter — round-tripped through
    the state store between micro-batches, so resting orders persist and
    trade ids stay globally unique. Within a micro-batch events are
    processed in (ts, kind) order; ACROSS batches the source must deliver
    in event-time order (file/Kafka sources with ordered production — same
    contract as any stateful sequence-dependent operator).
    """
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators.orderbook import (
        _Matcher,
    )

    slip = float(slippage_pct)
    cross = bool(cross_orders)

    def update(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (symbol,) = key
        if state.exists:
            m = _Matcher.from_state(symbol, slip, cross, tuple(state.get))
        else:
            m = _Matcher(symbol, slip, cross, emit="fills")
        for pdf in pdfs:
            m.process(pdf)
        state.update(m.to_state())
        out = m.to_frame()
        yield out

    return events.groupBy("symbol").applyInPandasWithState(
        update,
        outputStructType=FILLS_SCHEMA,
        stateStructType=_Matcher.STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


REORDER_STATE_SCHEMA = "ts_us array<long>, vals array<double>"


def reorder_within_watermark(
    rows: DataFrame,
    watermark: str = "10 minutes",
    ts_col: str = "ts",
    symbol_col: str = "symbol",
    value_cols: tuple = ("close", "signal"),
) -> DataFrame:
    """Ordered-replay gate for sequence-dependent stateful kernels.

    Every state machine here (``streaming_backtest``, the order book,
    trailing stops) contracts that rows arrive in per-symbol event-time
    order ACROSS micro-batches — the contract a disordered source (late
    network frames, multi-producer Kafka topics) breaks. This gate gives
    the composition DEFINED late-data semantics, the same ones the
    watermarked OHLCV aggregation has natively:

    - rows later than their event-time slot but **within the watermark**
      are buffered and re-emitted in exact ``(ts)`` order once the
      watermark passes them (incorporated, not dropped);
    - rows arriving **beyond the watermark** (older than the current
      watermark at arrival) are dropped deterministically — not
      best-effort like the state-eviction path of an aggregation;
    - emitted output is therefore totally ordered per symbol, ready for
      any downstream sequence-dependent kernel.

    State per symbol is the in-flight buffer only: O(rows inside one
    watermark horizon), the same bound a stream-stream join holds, NOT
    O(history). Event-time timeout flushes the tail when a symbol goes
    quiet. Timestamps are compared in epoch µs against
    ``getCurrentWatermarkMs`` — run under a UTC session timezone (the
    engine session pins UTC) so Arrow wall-times equal epoch instants.

    Spark allows ONE ``applyInPandasWithState`` per streaming query, so
    the gate composes with a stateful kernel through an intermediate
    sink (Kafka topic / files), not in-plan — the two-query topology
    pinned by tests/test_streaming.py::
    test_streaming_backtest_behind_gate_matches_batch.
    """
    import numpy as np

    n_vals = len(value_cols)
    out_schema = (f"{symbol_col} string, {ts_col} timestamp, "
                  + ", ".join(f"{c} double" for c in value_cols))
    wm = rows.withWatermark(ts_col, watermark)

    def update(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (symbol,) = key
        if state.exists:
            ts_us, vals = state.get
            ts_us = list(ts_us)
            vals = list(vals)
        else:
            ts_us, vals = [], []
        wm_us = state.getCurrentWatermarkMs() * 1000
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            arr_us = pdf[ts_col].astype("datetime64[us]").astype(
                "int64").to_numpy()
            keep = arr_us >= wm_us  # beyond-watermark arrivals: dropped
            arr_us = arr_us[keep]
            vmat = pdf.loc[keep, list(value_cols)].to_numpy(
                dtype=np.float64)
            ts_us.extend(int(u) for u in arr_us)
            vals.extend(float(x) for x in vmat.ravel())
        # emit everything the watermark has passed, in event-time order
        if ts_us:
            order = sorted(range(len(ts_us)), key=lambda i: ts_us[i])
            emit = [i for i in order if ts_us[i] <= wm_us]
            hold = [i for i in order if ts_us[i] > wm_us]
            if emit:
                yield pd.DataFrame({
                    symbol_col: symbol,
                    ts_col: pd.to_datetime(
                        [ts_us[i] for i in emit], unit="us"),
                    **{c: [vals[i * n_vals + j] for i in emit]
                       for j, c in enumerate(value_cols)},
                })
            ts_us = [ts_us[i] for i in hold]
            vals = [x for i in hold
                    for x in vals[i * n_vals:(i + 1) * n_vals]]
        if ts_us:
            state.update((ts_us, vals))
            # re-arm: flush the tail when the watermark passes it even
            # if this symbol never receives another row
            state.setTimeoutTimestamp(wm_us // 1000 + 1)
        else:
            state.remove()

    return wm.groupBy(symbol_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=REORDER_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
