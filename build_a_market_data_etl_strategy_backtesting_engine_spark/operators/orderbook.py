"""Event-driven simulation: limit order book matching + sequential portfolio.

Reference semantics, ported exactly (cited per method):
- ``/root/reference/backtesting/order_book.py`` — Order/Trade dataclasses
  (:36-72), book heaps (:75-203), market-order fill with slippage (:268-300),
  marketable-limit immediate fill (:302-331), resting-limit match on tick
  (:391-460), rejection rules (:259-266).
- ``/root/reference/backtesting/engine.py:167-230`` — event-driven engine:
  desired-position diff -> market orders of 100 shares per signal unit
  (:194-195), cash check, mark-to-market per bar.
- ``/root/reference/backtesting/portfolio.py:39-92`` — execute_trade
  (commission+slippage, insufficient-cash rejection).

Spark design (SURVEY §3.4): these are inherently sequential per symbol —
the ONE operator family where imperative code is the correct answer. Batch:
a grouped map per symbol with the loop inside the group (cross-symbol
parallelism, exact within-symbol sequencing). The event-driven engine maps
with ``applyInArrow``: it loops over the group's Arrow columns as Python
lists and returns Arrow arrays, building no pandas frame per group; the
order book keeps ``applyInPandas``. Every Python task pays a fixed worker
cost (SCALING.md), so an operator that can be a window expression is one.
Streaming: the matcher runs in ``applyInPandasWithState`` keyed by symbol
(``streaming.stateful.streaming_order_book``). A shared cash
account across symbols forces a single group — same limit as the reference
(documented divergence: we default to per-symbol cash budgets to stay
parallel; pass ``shared_cash=True`` to replicate global-cash coupling).
"""

from __future__ import annotations

import heapq
from dataclasses import dataclass, field

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class _Book:
    """Per-symbol price-time-priority book (order_book.py:75-203)."""
    bids: list = field(default_factory=list)  # (-price, seq, order)
    asks: list = field(default_factory=list)  # (price, seq, order)
    seq: int = 0

    def add(self, order: dict) -> None:
        self.seq += 1
        if order["side"] == "buy":
            heapq.heappush(self.bids, (-order["price"], self.seq, order))
        else:
            heapq.heappush(self.asks, (order["price"], self.seq, order))

    def best_bid(self):
        return -self.bids[0][0] if self.bids else None

    def best_ask(self):
        return self.asks[0][0] if self.asks else None


def simulate_order_book(
    orders: DataFrame,
    ticks: DataFrame,
    slippage_pct: float = 0.001,
    symbol_col: str = "symbol",
    emit: str = "fills",
    cross_orders: bool = False,
) -> DataFrame:
    """Replay orders + ticks through the matching engine per symbol.

    Inputs: ``orders(order_id, ts, symbol, side, order_type, quantity,
    price, stop_price)`` and ``ticks(ts, symbol, price, ...)``; both streams
    are merged in time order per symbol (order events act before the tick at
    equal timestamps, matching the reference's submit-then-process flow).

    Output: trade fills ``(trade_id, ts, symbol, side, quantity, price,
    order_id)``.

    Matching rules (order_book.py):
    - market order: fill at last price +/- slippage_pct (buy pays up, sell
      receives less) (:268-300); rejected if no last price yet.
    - limit order: marketable (buy >= best ask / latest price, sell <=) ->
      immediate fill at the limit (conservative, :302-331); else rests.
    - stop / stop_limit (:333-360): rests until the tick crosses stop_price
      (sell: last <= stop, buy: last >= stop), then executes as a market
      (slippage) resp. limit order.
    - each tick: resting buy limits with price >= tick fill at limit; sells
      with price <= tick fill at limit (:427-460).
    - cancel (order_type='cancel' naming an earlier order_id): removes the
      resting limit or armed stop from the book (remove_order, :109-123).

    ``emit='snapshots'`` returns per-tick book state instead of fills:
    ``(ts, symbol, last, best_bid, best_ask, spread, bid_depth, ask_depth)``
    — the get_order_book_snapshot surface (order_book.py:179-203).

    ``cross_orders=True`` enables continuous-double-auction matching BETWEEN
    resting orders — an extension beyond the reference, which only matches
    resting orders against the tick tape (order_book.py:391-460). An
    incoming limit order first sweeps the opposite side of the book in
    price-time priority, trading at each RESTING order's price with partial
    fills (both counterparties get a fill row sharing the trade price);
    any remainder rests (the marketable-vs-last shortcut is disabled — the
    book is the source of truth). A market order sweeps the book first and
    falls back to last-tick +/- slippage only for the unfilled remainder.
    Tick-tape matching and stop triggering are unchanged.
    """
    if emit == "snapshots":
        out_schema = ("ts timestamp, symbol string, last double, "
                      "best_bid double, best_ask double, spread double, "
                      "bid_depth long, ask_depth long")
    else:
        out_schema = ("trade_id string, ts timestamp, symbol string, "
                      "side string, quantity double, price double, "
                      "order_id string")
    slip = float(slippage_pct)
    merged = merge_order_tick_events(orders, ticks, symbol_col)

    def _run(pdf: pd.DataFrame) -> pd.DataFrame:
        m = _Matcher(pdf["symbol"].iloc[0], slip, cross_orders, emit)
        m.process(pdf)
        return m.to_frame()

    return merged.groupBy("symbol").applyInPandas(_run, out_schema)


def merge_order_tick_events(
    orders: DataFrame, ticks: DataFrame, symbol_col: str = "symbol"
) -> DataFrame:
    """Union orders + ticks into the matcher's event schema (works on both
    batch and streaming DataFrames)."""
    o = orders.select(
        F.col("ts"), F.col(symbol_col).alias("symbol"),
        F.lit("order").alias("kind"), F.col("order_id"), F.col("side"),
        F.col("order_type"), F.col("quantity"),
        F.col("price").cast("double").alias("price"),
        F.col("stop_price").cast("double").alias("stop_price"),
    )
    t = ticks.select(
        F.col("ts"), F.col(symbol_col).alias("symbol"),
        F.lit("tick").alias("kind"), F.lit(None).cast("string").alias("order_id"),
        F.lit(None).cast("string").alias("side"),
        F.lit(None).cast("string").alias("order_type"),
        F.lit(None).cast("double").alias("quantity"),
        F.col("price").cast("double").alias("price"),
        F.lit(None).cast("double").alias("stop_price"),
    )
    return o.unionByName(t)


class _Matcher:
    """Per-symbol matching state machine — the ONE kernel behind the batch
    replay (`simulate_order_book`) and the streaming twin
    (`streaming/stateful.py::streaming_order_book`). State (book heaps,
    resting stops, last price, fill counter) round-trips through
    `to_state`/`from_state` for the streaming state store."""

    def __init__(self, symbol, slip, cross_orders=False, emit="fills"):
        self.symbol = symbol
        self.slip = slip
        self.cross_orders = cross_orders
        self.emit = emit
        self.book = _Book()
        self.last = None
        self.stops: list[dict] = []  # resting stop / stop_limit orders
        self.n = 0
        self.fills: list[tuple] = []
        self.snaps: list[tuple] = []

    # ------------------------------------------------------------ matching

    def fill(self, order_id, side, qty, px, ts):
        self.n += 1
        self.fills.append((f"{self.symbol}-{self.n}", ts, self.symbol,
                           side, qty, px, order_id))

    def cross(self, order_id, side, qty, limit_price, ts):
        """Sweep the opposite book in price-time priority; return the
        unfilled remainder. Trades print at the RESTING order's price;
        both counterparties get a fill row."""
        heap = self.book.asks if side == "buy" else self.book.bids
        while qty > 0 and heap:
            top_px = heap[0][0] if side == "buy" else -heap[0][0]
            if limit_price is not None and (
                (side == "buy" and top_px > limit_price)
                or (side == "sell" and top_px < limit_price)
            ):
                break
            od = heap[0][2]
            traded = min(qty, od["quantity"])
            self.fill(order_id, side, traded, top_px, ts)
            self.fill(od["order_id"], od["side"], traded, top_px, ts)
            qty -= traded
            od["quantity"] -= traded
            if od["quantity"] <= 0:
                heapq.heappop(heap)
        return qty

    def submit_limit(self, order_id, side, qty, price, ts):
        if self.cross_orders:
            qty = self.cross(order_id, side, qty, price, ts)
            if qty > 0:
                self.book.add({"order_id": order_id, "side": side,
                               "quantity": qty, "price": price})
            return
        marketable = self.last is not None and (
            (side == "buy" and price >= self.last)
            or (side == "sell" and price <= self.last)
        )
        if marketable:
            self.fill(order_id, side, qty, price, ts)
        else:
            self.book.add({"order_id": order_id, "side": side,
                           "quantity": qty, "price": price})

    def on_tick(self, ts, price):
        self.last = last = price
        # trigger resting stops (order_book.py:333-360)
        still = []
        for od in self.stops:
            hit = (od["side"] == "sell" and last <= od["stop_price"]) \
                or (od["side"] == "buy" and last >= od["stop_price"])
            if hit:
                if od["order_type"] == "stop":
                    px = last * (1 + self.slip) if od["side"] == "buy" \
                        else last * (1 - self.slip)
                    self.fill(od["order_id"], od["side"], od["quantity"],
                              px, ts)
                else:  # stop_limit -> becomes a limit order
                    self.submit_limit(od["order_id"], od["side"],
                                      od["quantity"], od["price"], ts)
            else:
                still.append(od)
        self.stops[:] = still
        # match resting limits against the tick (order_book.py:427-460)
        book = self.book
        while book.bids and -book.bids[0][0] >= last:
            _, _, od = heapq.heappop(book.bids)
            self.fill(od["order_id"], "buy", od["quantity"], od["price"], ts)
        while book.asks and book.asks[0][0] <= last:
            _, _, od = heapq.heappop(book.asks)
            self.fill(od["order_id"], "sell", od["quantity"], od["price"], ts)
        if self.emit == "snapshots":
            bb, ba = book.best_bid(), book.best_ask()
            self.snaps.append((ts, self.symbol, last, bb, ba,
                               (ba - bb) if bb is not None
                               and ba is not None else None,
                               len(book.bids), len(book.asks)))

    def on_order(self, row):
        if row.order_type == "market":
            qty = row.quantity
            if self.cross_orders:
                qty = self.cross(row.order_id, row.side, qty, None, row.ts)
                if qty <= 0:
                    return
            if self.last is None:
                return  # rejected: no reference price (:277-280)
            px = self.last * (1 + self.slip) if row.side == "buy" \
                else self.last * (1 - self.slip)
            self.fill(row.order_id, row.side, qty, px, row.ts)
        elif row.order_type == "limit":
            if row.price is None or not row.price == row.price:
                return  # rejected: limit requires price (:259-261)
            self.submit_limit(row.order_id, row.side, row.quantity,
                              row.price, row.ts)
        elif row.order_type in ("stop", "stop_limit"):
            sp = row.stop_price
            if sp is None or not sp == sp:
                return  # rejected: stop requires stop_price
            self.stops.append({"order_id": row.order_id, "side": row.side,
                               "quantity": row.quantity, "price": row.price,
                               "stop_price": sp,
                               "order_type": row.order_type})
        elif row.order_type == "cancel":
            self.cancel(row.order_id)

    def cancel(self, order_id):
        """Remove a resting limit or armed stop (order_book.py:109-123
        remove_order). Eager heap rebuild — books are per-symbol small, and
        depth snapshots must not count cancelled orders."""
        for heap in (self.book.bids, self.book.asks):
            kept = [e for e in heap if e[2]["order_id"] != order_id]
            if len(kept) != len(heap):
                heap[:] = kept
                heapq.heapify(heap)
                return
        self.stops[:] = [o for o in self.stops
                         if o["order_id"] != order_id]

    def process(self, pdf: pd.DataFrame) -> None:
        # orders (kind='order') sort before ticks at equal ts
        pdf = pdf.sort_values(["ts", "kind"]).reset_index(drop=True)
        for row in pdf.itertuples(index=False):
            if row.kind == "tick":
                self.on_tick(row.ts, row.price)
            else:
                self.on_order(row)

    def to_frame(self) -> pd.DataFrame:
        if self.emit == "snapshots":
            return pd.DataFrame(
                self.snaps, columns=["ts", "symbol", "last", "best_bid",
                                     "best_ask", "spread", "bid_depth",
                                     "ask_depth"],
            )
        return pd.DataFrame(
            self.fills, columns=["trade_id", "ts", "symbol", "side",
                                 "quantity", "price", "order_id"],
        )

    # --------------------------------------------- streaming-state codec

    STATE_SCHEMA = (
        "last double, n long, seq long, "
        "bid_id array<string>, bid_qty array<double>, bid_px array<double>, "
        "bid_seq array<long>, "
        "ask_id array<string>, ask_qty array<double>, ask_px array<double>, "
        "ask_seq array<long>, "
        "st_id array<string>, st_side array<string>, st_qty array<double>, "
        "st_px array<double>, st_sp array<double>, st_type array<string>"
    )

    def to_state(self) -> tuple:
        def side(heap, sgn):
            return ([od["order_id"] for _, _, od in heap],
                    [od["quantity"] for _, _, od in heap],
                    [sgn * key for key, _, od in heap],
                    [s for _, s, _ in heap])

        b = side(self.book.bids, -1)
        a = side(self.book.asks, 1)
        st = self.stops
        return (
            float("nan") if self.last is None else self.last,
            self.n, self.book.seq,
            b[0], b[1], b[2], b[3], a[0], a[1], a[2], a[3],
            [o["order_id"] for o in st], [o["side"] for o in st],
            [o["quantity"] for o in st],
            [float("nan") if o["price"] is None else o["price"] for o in st],
            [o["stop_price"] for o in st], [o["order_type"] for o in st],
        )

    @classmethod
    def from_state(cls, symbol, slip, cross_orders, state) -> "_Matcher":
        m = cls(symbol, slip, cross_orders, emit="fills")
        (last, n, seq, bid_id, bid_qty, bid_px, bid_seq,
         ask_id, ask_qty, ask_px, ask_seq,
         st_id, st_side, st_qty, st_px, st_sp, st_type) = state
        m.last = None if last != last else last
        m.n = n
        m.book.seq = seq
        m.book.bids = [
            (-p, s, {"order_id": i, "side": "buy", "quantity": q, "price": p})
            for i, q, p, s in zip(bid_id, bid_qty, bid_px, bid_seq)]
        m.book.asks = [
            (p, s, {"order_id": i, "side": "sell", "quantity": q, "price": p})
            for i, q, p, s in zip(ask_id, ask_qty, ask_px, ask_seq)]
        heapq.heapify(m.book.bids)
        heapq.heapify(m.book.asks)
        m.stops = [
            {"order_id": i, "side": sd, "quantity": q,
             "price": None if p != p else p, "stop_price": sp,
             "order_type": ot}
            for i, sd, q, p, sp, ot
            in zip(st_id, st_side, st_qty, st_px, st_sp, st_type)]
        return m


def event_driven_backtest(
    bars: DataFrame,
    initial_cash: float = 1_000_000.0,
    commission: float = 0.001,
    slippage: float = 0.0005,
    shares_per_unit: float = 100.0,
    price_col: str = "close",
    signal_col: str = "signal",
    symbol_col: str = "symbol",
    ts_col: str = "ts",
    shared_cash: bool = False,
    n_symbols: int | None = None,
) -> DataFrame:
    """Event-driven engine (engine.py:167-230): iterate bars in time order,
    trade toward desired position = signal * shares_per_unit via market
    orders with commission+slippage, reject on insufficient cash, mark to
    market each bar.

    Output per bar: ``(symbol, ts, price, signal, position, cash, equity)``.
    ``shared_cash=True`` runs everything in one group (global cash account,
    sequential like the reference); default is per-symbol cash =
    initial_cash / n_symbols, preserving parallelism.  ``n_symbols`` makes
    the per-symbol budget explicit; when omitted it is derived lazily via a
    broadcast 1-row countDistinct frame (no eager job at plan-build time).
    """
    import pyarrow as pa

    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators.signals import (  # noqa: E501
        _fresh,
    )
    from build_a_market_data_etl_strategy_backtesting_engine_spark.sqlapi import (  # noqa: E501
        sql_double,
        sql_ident,
    )

    # the key and ts types come from the input: int symbol ids and
    # numeric ts columns keep their types
    sym_t, ts_t = (bars.schema[c].dataType.simpleString()
                   for c in (symbol_col, ts_col))
    out_schema = (f"{sql_ident(symbol_col)} {sym_t}, {sql_ident(ts_col)}"
                  f" {ts_t}, price double, signal int, position double,"
                  " cash double, equity double")
    comm, slip = float(commission), float(slippage)
    # the four used columns only: caller columns never meet the staging
    # names, and the Arrow batches carry nothing the loop does not read
    c_budget, c_group = _fresh(bars, "_budget", "_g")
    q = sql_ident
    used = [q(symbol_col), q(ts_col),
            f"CAST({q(price_col)} AS DOUBLE) AS {q(price_col)}",
            q(signal_col)]
    total = sql_double(initial_cash)
    if shared_cash:
        grouped = bars.selectExpr(
            *used, f"{total} AS {q(c_budget)}", f"1 AS {q(c_group)}",
        ).groupBy(c_group)
    elif n_symbols is not None:
        grouped = bars.selectExpr(
            *used,
            f"{sql_double(float(initial_cash) / max(n_symbols, 1))}"
            f" AS {q(c_budget)}",
        ).groupBy(symbol_col)
    else:
        wtd = bars.selectExpr(*used)
        n_df = wtd.selectExpr(
            f"{total} / greatest(count(DISTINCT {q(symbol_col)}), 1)"
            f" AS {q(c_budget)}")
        grouped = wtd.crossJoin(F.broadcast(n_df)).groupBy(symbol_col)

    def _run(table: pa.Table) -> pa.Table:
        cash = float(table.column(c_budget)[0].as_py())
        table = table.sort_by([(ts_col, "ascending"),
                               (symbol_col, "ascending")])
        positions: dict = {}
        last_px: dict = {}
        out_px, out_sig, out_pos, out_cash, out_eq = [], [], [], [], []
        for sym, px, sig in zip(table.column(symbol_col).to_pylist(),
                                table.column(price_col).to_pylist(),
                                table.column(signal_col).to_pylist()):
            sig = sig or 0  # a missing signal is flat, as in the kernel
            last_px[sym] = px
            desired = sig * shares_per_unit
            cur = positions.get(sym, 0.0)
            delta = desired - cur
            if delta != 0:
                # buy pays slippage up, sell receives slippage down
                exec_px = px * (1 + slip) if delta > 0 else px * (1 - slip)
                cost = abs(delta) * exec_px
                fee = cost * comm
                if delta > 0 and cost + fee > cash:
                    pass  # rejected: insufficient cash (portfolio.py:60-66)
                else:
                    cash -= delta * exec_px
                    cash -= fee
                    positions[sym] = desired
            # mark-to-market with latest known prices (engine.py:206-212)
            equity = cash + sum(
                positions.get(s, 0.0) * last_px.get(s, 0.0) for s in positions
            )
            out_px.append(px)
            out_sig.append(int(sig))
            out_pos.append(positions.get(sym, 0.0))
            out_cash.append(cash)
            out_eq.append(equity)
        ts = table.column(ts_col)
        if pa.types.is_timestamp(ts.type) and ts.type.tz:
            # the batches carry the session zone; the result must say UTC
            ts = ts.cast(pa.timestamp(ts.type.unit, "UTC"))
        f64 = pa.float64()
        return pa.Table.from_arrays(
            [table.column(symbol_col), ts,
             pa.array(out_px, f64), pa.array(out_sig, pa.int32()),
             pa.array(out_pos, f64), pa.array(out_cash, f64),
             pa.array(out_eq, f64)],
            names=[symbol_col, ts_col, "price", "signal", "position", "cash",
                   "equity"])

    return grouped.applyInArrow(_run, out_schema)
