"""Indicators + trading-signal generation as pure window expressions.

Reference: ``/root/reference/backtesting/strategy.py`` (mean-reversion :69-111,
MA-cross :114-153, momentum :178-194, buy&hold :197-215) and the indicator set
of ``backtesting/ml_strategy.py:125-175`` (RSI, MACD, Bollinger, rolling vol,
volume ratio).

pandas-parity rules (SURVEY §7.7.7):
- ``rolling(N)`` yields NaN for the first N-1 rows and NaN comparisons are
  False in signal masks. Spark's ``avg() OVER (ROWS N-1 PRECEDING)`` yields
  partial-window values instead, so every rolling expression is gated with
  ``row_number() >= N`` -> NULL during warm-up; ``CASE`` treats NULL
  comparisons as false exactly like the pandas NaN masks.
- every window has an explicit ORDER BY; all state is per-symbol
  (``PARTITION BY symbol``) so a thousand symbols parallelize across the
  cluster and one sort per symbol-partition is the only shuffle.

Each indicator and window strategy below is ONE ``spark.sql`` statement
(``sqlapi.layered_sql``): one subquery per window layer, each window result
staged once under a ``_fresh`` name (Catalyst computes one window
expression per reference, so inlining a window result into a CASE
multiplies it), then the CASE arithmetic. A call is one Catalyst analysis
and a few py4j calls instead of one analysis per ``withColumn``. Each formula has one definition, its SQL
fragment below; the Column helpers ``rolling_mean``, ``rolling_std`` and
``pct_change`` are ``F.expr`` wrappers over the same fragments.

A "strategy" in this engine is any function ``DataFrame -> DataFrame`` adding
a ``signal`` int column in {-1, 0, 1}; these are the built-ins, and arbitrary
user pandas logic plugs in through ``apply_pandas_strategy`` (the reference's
``BaseStrategy.generate_signals`` subclass hook, strategy.py:34-41).
"""

from __future__ import annotations

from typing import Callable

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from build_a_market_data_etl_strategy_backtesting_engine_spark.sqlapi import (
    layered_sql,
    sql_double,
    sql_ident,
    sql_tmpl_ident,
    with_columns_sql,
)


def sym_window(symbol_col: str = "symbol", ts_col: str = "ts") -> Window:
    return Window.partitionBy(symbol_col).orderBy(ts_col)


# ------------------------------------------- SQL fragments (quoted names)

def _over(sym: str, ts: str, n: int | None = None) -> str:
    """Per-symbol window text; ``n`` adds the trailing ``n``-row frame of
    pandas ``rolling(n)``."""
    frame = ""
    if n is not None:
        lo = "CURRENT ROW" if n == 1 else f"{n - 1} PRECEDING"
        frame = f" ROWS BETWEEN {lo} AND CURRENT ROW"
    return f"OVER (PARTITION BY {sym} ORDER BY {ts}{frame})"


def _gate(rn: str, n: int, value: str) -> str:
    """NULL warm-up: ``value`` from the ``n``-th row on."""
    return f"CASE WHEN {rn} >= {n} THEN {value} END"


def _pct_sql(c: str, prev: str) -> str:
    """``c / prev - 1`` — NULL on warm-up rows like pandas.

    A zero ``prev`` follows pandas float semantics (x/0 -> ±inf,
    0/0 -> NaN) instead of throwing under ANSI mode (Spark 4 default —
    found by the parameter fuzzer on an all-zero-volume window, the
    same crash class as with_volume_ratio)."""
    return (f"CASE WHEN {prev} != 0 THEN {c} / {prev} - 1"
            f" WHEN {prev} IS NULL THEN CAST(NULL AS DOUBLE)"
            f" WHEN {c} > 0 THEN CAST('Infinity' AS DOUBLE)"
            f" WHEN {c} < 0 THEN CAST('-Infinity' AS DOUBLE)"
            " ELSE CAST('NaN' AS DOUBLE) END")


def _rolling_col(fn: str, col: str, n: int, symbol_col: str,
                 ts_col: str) -> Column:
    s, t = sql_ident(symbol_col), sql_ident(ts_col)
    return F.expr(_gate(f"row_number() {_over(s, t)}", n,
                        f"{fn}({sql_ident(col)}) {_over(s, t, n)}"))


def rolling_mean(col: str, n: int, symbol_col: str = "symbol",
                 ts_col: str = "ts") -> Column:
    """pandas ``rolling(n).mean()``: NULL for the first n-1 rows."""
    return _rolling_col("avg", col, n, symbol_col, ts_col)


def rolling_std(col: str, n: int, symbol_col: str = "symbol",
                ts_col: str = "ts") -> Column:
    """pandas ``rolling(n).std()`` (sample std), NULL warm-up."""
    return _rolling_col("stddev_samp", col, n, symbol_col, ts_col)


def pct_change(col: str, periods: int = 1, symbol_col: str = "symbol",
               ts_col: str = "ts") -> Column:
    """pandas ``pct_change(periods)`` per symbol (see :func:`_pct_sql`)."""
    c = sql_ident(col)
    prev = (f"lag({c}, {int(periods)}) "
            f"{_over(sql_ident(symbol_col), sql_ident(ts_col))}")
    return F.expr(_pct_sql(c, prev))


def _fresh(df: DataFrame, *bases: str) -> list[str]:
    """Collision-free staging-column names: suffix with a counter while
    the candidate is taken (r8 ADVICE — withColumn+drop on a FIXED temp
    name silently destroys a same-named caller column). Spark resolves
    names case-insensitively, so ``_RN`` takes ``_rn``."""
    taken = {c.lower() for c in df.columns}
    out = []
    for b in bases:
        name, i = b, 0
        while name.lower() in taken:
            i += 1
            name = f"{b}{i}"
        taken.add(name.lower())
        out.append(name)
    return out


def _staged(df: DataFrame, *bases: str) -> list[str]:
    """:func:`_fresh` names, quoted for statement text."""
    return [sql_tmpl_ident(n) for n in _fresh(df, *bases)]


def _statement(df: DataFrame, windows: list[list[str]],
               outputs: dict[str, str]) -> DataFrame:
    """``df`` plus ``outputs`` (``withColumns`` placement), computed over
    the staged ``windows`` layers, as one statement."""
    layers = [["*", *items] for items in windows]
    return layered_sql(df, [*layers, with_columns_sql(df.columns, outputs)])


def _keys(*cols: str) -> list[str]:
    return [sql_tmpl_ident(c) for c in cols]


def simple_returns(df: DataFrame, price_col: str = "close",
                   symbol_col: str = "symbol", ts_col: str = "ts",
                   out_col: str = "returns", fill_first: bool = True) -> DataFrame:
    """Per-symbol simple returns; first row 0 where the reference fills
    (portfolio.py:193 ``pct_change().fillna(0)``)."""
    s, t, p = _keys(symbol_col, ts_col, price_col)
    (prev,) = _staged(df, "_pc_prev")
    ret = _pct_sql(p, prev)
    if fill_first:
        ret = f"coalesce({ret}, 0.0D)"
    return _statement(df, [[f"lag({p}, 1) {_over(s, t)} AS {prev}"]],
                      {out_col: ret})


# ---------------------------------------------------------------- indicators

def with_rsi(df: DataFrame, n: int = 14, price_col: str = "close",
             symbol_col: str = "symbol", ts_col: str = "ts",
             out_col: str = "rsi") -> DataFrame:
    """Simple-average RSI (NOT Wilder smoothing), matching
    ``ml_strategy.py:144-149``: gain = mean_n(max(delta,0)),
    loss = mean_n(max(-delta,0)), rsi = 100 - 100/(1+gain/loss)."""
    s, t, p = _keys(symbol_col, ts_col, price_col)
    prev, rn, gain, loss, g, lo = _staged(
        df, "_rsi_prev", "_rn", "_gain", "_loss", "_g", "_l")
    delta = f"({p} - {prev})"
    # pandas: delta has 1 NaN then rolling(n) -> first valid at row n+1
    windows = [
        [f"lag({p}, 1) {_over(s, t)} AS {prev}",
         f"row_number() {_over(s, t)} AS {rn}"],
        [f"CASE WHEN {delta} > 0 THEN {delta} ELSE CASE WHEN {delta}"
         f" IS NOT NULL THEN 0.0D END END AS {gain}",
         f"CASE WHEN {delta} < 0 THEN -{delta} ELSE CASE WHEN {delta}"
         f" IS NOT NULL THEN 0.0D END END AS {loss}"],
        [f"{_gate(rn, n + 1, f'avg({gain}) {_over(s, t, n)}')} AS {g}",
         f"{_gate(rn, n + 1, f'avg({loss}) {_over(s, t, n)}')} AS {lo}"],
    ]
    # loss == 0, gain > 0 -> rs = inf -> pandas RSI = 100; but a fully flat
    # stretch (gain == 0 AND loss == 0) is pandas 0/0 = NaN -> NULL here,
    # not 100 — emitting 100 would flip overbought signals on constant prices.
    rsi = (f"CASE WHEN ({lo} = 0) AND ({g} = 0) THEN CAST(NULL AS DOUBLE)"
           f" WHEN {lo} = 0 THEN 100.0D"
           f" ELSE 100.0D - 100.0D / (1.0D + {g} / {lo}) END")
    return _statement(df, windows, {out_col: rsi})


def with_bollinger(df: DataFrame, n: int = 20, k: float = 2.0,
                   price_col: str = "close", symbol_col: str = "symbol",
                   ts_col: str = "ts") -> DataFrame:
    """SMA_n +/- k*STD_n (ml_strategy.py:157-161)."""
    s, t, p = _keys(symbol_col, ts_col, price_col)
    rn, m, sd = _staged(df, "_rn", "_bb_m", "_bb_sd")
    mid, dev = _gate(rn, n, m), _gate(rn, n, sd)
    kk = sql_double(k)
    return _statement(
        df,
        [[f"row_number() {_over(s, t)} AS {rn}",
          f"avg({p}) {_over(s, t, n)} AS {m}",
          f"stddev_samp({p}) {_over(s, t, n)} AS {sd}"]],
        {"bb_mid": mid,
         "bb_upper": f"({mid}) + ({dev}) * {kk}",
         "bb_lower": f"({mid}) - ({dev}) * {kk}"})


def with_rolling_volatility(df: DataFrame, n: int = 20,
                            price_col: str = "close",
                            symbol_col: str = "symbol", ts_col: str = "ts",
                            out_col: str = "volatility") -> DataFrame:
    """``pct_change().rolling(n).std()`` (ml_strategy.py:174-175)."""
    s, t, p = _keys(symbol_col, ts_col, price_col)
    prev, rn, r = _staged(df, "_pc_prev", "_rn", "_r")
    # pandas: 1 NaN from pct_change, so first valid at row n+1
    return _statement(
        df,
        [[f"lag({p}, 1) {_over(s, t)} AS {prev}",
          f"row_number() {_over(s, t)} AS {rn}"],
         [f"{_pct_sql(p, prev)} AS {r}"]],
        {out_col: _gate(rn, n + 1, f"stddev_samp({r}) {_over(s, t, n)}")})


def with_volume_ratio(df: DataFrame, n: int = 20, volume_col: str = "volume",
                      symbol_col: str = "symbol", ts_col: str = "ts",
                      out_col: str = "volume_ratio") -> DataFrame:
    """volume / rolling(n).mean(volume) (ml_strategy.py:167-168).

    The window includes the current row, so mean == 0 implies
    volume == 0 — pandas emits 0/0 = NaN there; the bare division
    throws under ANSI mode (found by the parameter fuzzer: two
    consecutive zero-volume bars at n=2)."""
    s, t, v = _keys(symbol_col, ts_col, volume_col)
    rn, m = _staged(df, "_rn", "_vr_m")
    mg = f"({_gate(rn, n, m)})"
    return _statement(
        df,
        [[f"row_number() {_over(s, t)} AS {rn}",
          f"avg({v}) {_over(s, t, n)} AS {m}"]],
        {out_col: f"CASE WHEN {mg} != 0 THEN {v} / {mg}"
                  f" WHEN {mg} = 0 THEN CAST('NaN' AS DOUBLE) END"})


# ---------------------------------------------------------------- strategies

def _signal(cases: str) -> str:
    return f"CAST(CASE {cases} ELSE 0 END AS INT)"


def mean_reversion_signal(df: DataFrame, n: int = 20, num_std: float = 2.0,
                          price_col: str = "close", symbol_col: str = "symbol",
                          ts_col: str = "ts", out_col: str = "signal") -> DataFrame:
    """z = (close - SMA_n)/STD_n; +1 if z < -k, -1 if z > k, else 0
    (strategy.py:69-111)."""
    s, t, p = _keys(symbol_col, ts_col, price_col)
    rn, sd, mid = _staged(df, "_rn", "_mr_sd", "_mr_mid")
    g_sd, g_mid = f"({_gate(rn, n, sd)})", f"({_gate(rn, n, mid)})"
    # sd == 0 (constant window) implies price == mean, so pandas z is
    # 0/0 = NaN and both comparisons are False -> signal 0. Emit NULL z
    # there: ANSI mode would throw on the division, and Spark's
    # NaN-sorts-greatest comparison rule would otherwise flip the
    # signal to -1 where pandas says 0.
    z = f"(CASE WHEN {g_sd} != 0 THEN ({p} - {g_mid}) / {g_sd} END)"
    return _statement(
        df,
        [[f"row_number() {_over(s, t)} AS {rn}",
          f"stddev_samp({p}) {_over(s, t, n)} AS {sd}",
          f"avg({p}) {_over(s, t, n)} AS {mid}"]],
        {out_col: _signal(f"WHEN {z} < {sql_double(-num_std)} THEN 1"
                          f" WHEN {z} > {sql_double(num_std)} THEN -1")})


def ma_cross_signal(df: DataFrame, fast: int = 10, slow: int = 50,
                    price_col: str = "close", symbol_col: str = "symbol",
                    ts_col: str = "ts", out_col: str = "signal") -> DataFrame:
    """+1 while SMA_fast > SMA_slow else 0 (strategy.py:114-153)."""
    s, t, p = _keys(symbol_col, ts_col, price_col)
    rn, f_ma, s_ma = _staged(df, "_rn", "_ma_f", "_ma_s")
    return _statement(
        df,
        [[f"row_number() {_over(s, t)} AS {rn}",
          f"avg({p}) {_over(s, t, fast)} AS {f_ma}",
          f"avg({p}) {_over(s, t, slow)} AS {s_ma}"]],
        {out_col: _signal(f"WHEN ({_gate(rn, fast, f_ma)})"
                          f" > ({_gate(rn, slow, s_ma)}) THEN 1")})


def momentum_signal(df: DataFrame, lookback: int = 20, threshold: float = 0.0,
                    price_col: str = "close", symbol_col: str = "symbol",
                    ts_col: str = "ts", out_col: str = "signal") -> DataFrame:
    """N-period momentum: +1 if pct_change(lookback) > threshold, -1 if
    < -threshold (strategy.py:178-194)."""
    s, t, p = _keys(symbol_col, ts_col, price_col)
    (prev,) = _staged(df, "_mom_prev")
    mom = f"({_pct_sql(p, prev)})"
    return _statement(
        df,
        [[f"lag({p}, {int(lookback)}) {_over(s, t)} AS {prev}"]],
        {out_col: _signal(f"WHEN {mom} > {sql_double(threshold)} THEN 1"
                          f" WHEN {mom} < {sql_double(-threshold)} THEN -1")})




def buy_and_hold_signal(df: DataFrame, out_col: str = "signal") -> DataFrame:
    """Constant long (strategy.py:197-215)."""
    return df.withColumn(out_col, F.lit(1).cast("int"))


BUILTIN_STRATEGIES: dict[str, Callable[..., DataFrame]] = {
    "mean_reversion": mean_reversion_signal,
    "ma_cross": ma_cross_signal,
    "momentum": momentum_signal,
    "buy_and_hold": buy_and_hold_signal,
}


def apply_pandas_strategy(
    df: DataFrame,
    fn: Callable[[pd.DataFrame], pd.Series],
    symbol_col: str = "symbol",
    ts_col: str = "ts",
    out_col: str = "signal",
) -> DataFrame:
    """User-extension hook: run arbitrary pandas signal logic per symbol.

    ``fn`` receives one symbol's bars as a ts-sorted pandas DataFrame and
    returns an int Series of signals — the Spark equivalent of subclassing
    ``BaseStrategy.generate_signals`` (strategy.py:34-41). Executes as an
    Arrow-batched GROUPED_MAP; each symbol is one group, so a wide universe
    scales out while any single symbol stays exact and sequential.
    """
    schema_str = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    ) + f", `{out_col}` int"

    def _run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts_col).reset_index(drop=True)
        pdf[out_col] = pd.Series(fn(pdf)).fillna(0).astype("int32")
        return pdf

    return df.groupBy(symbol_col).applyInPandas(_run, schema=schema_str)
