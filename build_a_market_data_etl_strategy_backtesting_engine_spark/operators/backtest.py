"""The vectorized backtest kernel — the engine's flagship composite query.

Reference dataflow (``/root/reference/backtesting/portfolio.py:169-220``,
9 steps, SURVEY §2.5):

1. left-join signals onto the price spine, missing -> 0
2. positions = signal * position_size
3. trades    = diff(position), first row = position
4. returns   = pct_change(price), first row -> 0
5. strategy_returns = lag(position) * returns          (no look-ahead)
6. costs     = abs(trades) * (commission + slippage)
7. net_returns = strategy_returns - costs
8. equity    = cumprod(1 + net_returns) * initial_cash
9. emit the results frame

Spark design: the whole kernel is ONE ``spark.sql`` statement over
per-symbol windows — a single sort-shuffle on ``(symbol)``, then every step
runs inside whole-stage codegen. cumprod has no native window aggregate;
the standard idiom is ``exp(sum(log1p(x)) over unbounded-preceding)`` (valid
because net returns are > -1 by construction; SURVEY §7.7.1 — FP tolerance
~1e-9 relative vs an exact sequential product).

The multi-asset variant keeps long format and adds one tiny aggregation by ts
(one row per bar), mirroring ``portfolio.py:222-271``.

First-bar parity note (intentional divergence): pandas computes
``positions.shift(1) * returns`` giving NaN on row 0, and ``(1+net).cumprod()``
silently *skips* that NaN — so a strategy holding a position on the very first
bar never pays its row-0 entry costs in the reference's equity curve.  Here
``lag(position)`` coalesces to 0 and row-0 costs ARE charged, so for
strategies with a nonzero first-bar signal (e.g. buy-and-hold) equity differs
from the reference by the constant factor ``1 - first_trade_cost``.  Charging
the entry cost is the economically correct behavior; the choice is pinned by
``tests/test_operators.py::test_first_bar_costs_charged``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from build_a_market_data_etl_strategy_backtesting_engine_spark.operators.signals import (  # noqa: E501
    _fresh,
)
from build_a_market_data_etl_strategy_backtesting_engine_spark.sqlapi import (
    layered_sql,
    sql_double,
    sql_tmpl_ident,
)

DEFAULT_COMMISSION = 0.001
DEFAULT_SLIPPAGE = 0.0005
DEFAULT_INITIAL_CASH = 1_000_000.0


def backtest_signals(
    prices: DataFrame,
    signals: DataFrame | None = None,
    position_size: float = 1.0,
    commission: float = DEFAULT_COMMISSION,
    slippage: float = DEFAULT_SLIPPAGE,
    initial_cash: float = DEFAULT_INITIAL_CASH,
    price_col: str = "close",
    signal_col: str = "signal",
    symbol_col: str = "symbol",
    ts_col: str = "ts",
    weight_col: str | None = None,
) -> DataFrame:
    """Run the 9-step vectorized kernel.

    ``prices``: long-format bars ``(symbol, ts, close, ...)``.
    ``signals``: either None (then ``prices`` must already carry
    ``signal_col``) or a frame ``(symbol, ts, signal)`` which is left-joined
    onto the price spine with missing signals -> 0 (portfolio.py:186).
    ``weight_col``: optional per-row weight column on ``prices`` folded into
    position sizing (position = signal * position_size * weight) — keeps the
    emitted ``signal`` column the raw signal instead of a pre-scaled hybrid.

    Returns the per-bar results frame
    ``(symbol, ts, price, signal, position, trade, returns, strategy_returns,
    costs, net_returns, equity)``.  ``signal`` keeps the input signal's type
    (int signals stay int; fractional signals are NOT truncated).
    """
    q = sql_tmpl_ident
    src = "{df}"
    frames = {}
    if signals is not None:
        (sig_in,) = _fresh(prices, "_sig_in")
        sig = f"coalesce({q(sig_in)}, 0)"
        keys = f"{q(symbol_col)}, {q(ts_col)}"
        src = (f"{{df}} LEFT JOIN (SELECT {keys}, {q(signal_col)} AS "
               f"{q(sig_in)} FROM {{sig}}) USING ({keys})")
        frames["sig"] = signals
    else:
        sig = f"coalesce({q(signal_col)}, 0)"

    position = f"CAST({sig} * {sql_double(position_size)} AS DOUBLE)"
    if weight_col is not None:
        position += f" * coalesce({q(weight_col)}, 0.0D)"
    w = "OVER (PARTITION BY symbol ORDER BY ts)"
    w_all = ("OVER (PARTITION BY symbol ORDER BY ts"
             " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")
    # One statement, one layer per window dependency: the projection, the
    # two lag results every later step reads (lag(position) feeds both
    # trade and strategy_returns — materialized once, as Catalyst
    # computes one window expression per reference), then scalar
    # arithmetic plus the equity cumprod window.
    prev_pos = "coalesce(_prev_pos, 0.0D)"
    trade = f"(position - {prev_pos})"
    strategy_returns = f"({prev_pos} * returns)"
    cost_rate = sql_double(float(commission) + float(slippage))
    costs = f"(abs({trade}) * {cost_rate})"
    net = f"({strategy_returns} - {costs})"
    layers = [
        [f"{q(symbol_col)} AS symbol", f"{q(ts_col)} AS ts",
         f"CAST({q(price_col)} AS DOUBLE) AS price", f"{sig} AS signal",
         f"{position} AS position"],
        ["*", f"lag(position, 1) {w} AS _prev_pos",
         f"coalesce(price / lag(price, 1) {w} - 1, 0.0D) AS returns"],
        ["symbol", "ts", "price", "signal", "position", f"{trade} AS trade",
         "returns", f"{strategy_returns} AS strategy_returns",
         f"{costs} AS costs", f"{net} AS net_returns",
         f"exp(sum(log1p({net})) {w_all}) * {sql_double(initial_cash)}"
         " AS equity"],
    ]
    return layered_sql(prices, layers, source=src, **frames)


def backtest_multi_asset(
    prices: DataFrame,
    signals: DataFrame | None = None,
    weights: DataFrame | None = None,
    commission: float = DEFAULT_COMMISSION,
    slippage: float = DEFAULT_SLIPPAGE,
    initial_cash: float = DEFAULT_INITIAL_CASH,
    price_col: str = "close",
    signal_col: str = "signal",
    symbol_col: str = "symbol",
    ts_col: str = "ts",
    n_symbols: int | None = None,
) -> DataFrame:
    """Portfolio-level backtest over many symbols (portfolio.py:222-271).

    ``weights``: optional ``(symbol, weight)`` frame; default equal weight
    1/n_symbols (portfolio.py:238-245). Broadcast-joined (tiny dim table).
    ``signals`` composes with BOTH branches (left-joined onto the spine,
    missing -> 0, exactly like the single-asset kernel).

    ``n_symbols``: optional known symbol count for the equal-weight default.
    When omitted it is derived lazily — a 1-row countDistinct frame
    broadcast onto the spine — so constructing the plan never triggers an
    eager Spark job.

    Per-symbol steps 2-7 run in parallel per symbol; the cross-asset row sum
    is a ``groupBy(ts)`` over (n_symbols) rows per bar; the final portfolio
    cumprod orders a single tiny series (one row per bar).

    Returns ``(ts, strategy_returns, costs, net_returns, equity)``.
    """
    (c_w,) = _fresh(prices, "_w")
    if weights is None:
        if n_symbols is not None:
            wtd = prices.withColumn(c_w, F.lit(1.0 / float(n_symbols)))
        else:
            n_df = prices.select(
                (F.lit(1.0) / F.countDistinct(symbol_col)).alias(c_w)
            )
            wtd = prices.crossJoin(F.broadcast(n_df))
    else:
        wdf = weights.select(
            F.col(symbol_col), F.col("weight").cast("double").alias(c_w)
        )
        wtd = prices.join(F.broadcast(wdf), on=symbol_col, how="left")
        wtd = wtd.withColumn(c_w, F.coalesce(c_w, F.lit(0.0)))
    per_asset = backtest_signals(
        wtd, signals, position_size=1.0,
        commission=commission, slippage=slippage, initial_cash=initial_cash,
        price_col=price_col, signal_col=signal_col,
        symbol_col=symbol_col, ts_col=ts_col, weight_col=c_w,
    )
    port = (
        per_asset.groupBy("ts")
        .agg(
            F.sum("strategy_returns").alias("strategy_returns"),
            F.sum("costs").alias("costs"),
        )
        .withColumn("net_returns", F.col("strategy_returns") - F.col("costs"))
    )
    w_all = (
        Window.orderBy("ts").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return port.withColumn(
        "equity",
        F.exp(F.sum(F.log1p("net_returns")).over(w_all)) * F.lit(float(initial_cash)),
    )
