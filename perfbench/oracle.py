"""Reference computations the engine's outputs are checked against.

Written independently of the package: DuckDB SQL for the clean -> OHLCV
pipeline, NumPy for the vectorized backtest.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

BAR_COLS = ("open", "high", "low", "close", "volume", "n_ticks")
# The cleaner's defaults: IQR fence multiplier and lowest valid price.
IQR_K = 3.0
MIN_PRICE = 0.01


def _with_epoch_us(t: pa.Table) -> pa.Table:
    i = t.schema.get_field_index("ts")
    return t.set_column(i, "ts", pc.cast(t.column("ts"), pa.timestamp("us"))
                        .cast(pa.int64()))


def expected_bars(tick_dir: str):
    """Exact dedup, price validation, exact IQR fence (``quantile_cont``)
    and 1-minute bars whose open/close break timestamp ties by ``seq``.
    Returns an Arrow table keyed by ``(symbol, ts)``, ``ts`` in epoch µs."""
    ticks = _with_epoch_us(ds.dataset(tick_dir, format="parquet").to_table())
    con = duckdb.connect()
    try:
        con.register("ticks", ticks)
        return con.execute(f"""
            WITH d AS (SELECT DISTINCT * FROM ticks),
            v AS (SELECT * FROM d WHERE price >= CAST({MIN_PRICE!r} AS DOUBLE)),
            q AS (SELECT quantile_cont(price, 0.25) AS q1,
                         quantile_cont(price, 0.75) AS q3 FROM v),
            c AS (SELECT v.* FROM v, q
                  WHERE price BETWEEN q1 - CAST({IQR_K!r} AS DOUBLE) * (q3 - q1)
                                  AND q3 + CAST({IQR_K!r} AS DOUBLE) * (q3 - q1)),
            b AS (SELECT symbol, ts - ts % 60000000 AS bucket, ts AS t, seq,
                         price, volume FROM c)
            SELECT symbol, bucket AS ts,
                   first(price ORDER BY t, seq) AS open,
                   max(price) AS high, min(price) AS low,
                   last(price ORDER BY t, seq) AS close,
                   sum(volume) AS volume, count(*) AS n_ticks
            FROM b GROUP BY symbol, bucket""").arrow()
    finally:
        con.close()


def bar_mismatches(expected: pa.Table, out_dir: str) -> int:
    """Number of ``(symbol, ts)`` keys whose bar differs, or that only one
    side has. Values must match exactly."""
    got = _with_epoch_us(ds.dataset(out_dir, format="parquet").to_table())
    con = duckdb.connect()
    try:
        con.register("e", expected)
        con.register("g", got)
        differs = " OR ".join(f"e.{c} IS DISTINCT FROM g.{c}" for c in BAR_COLS)
        return con.execute(f"""
            SELECT count(*) FROM e FULL OUTER JOIN g
              ON e.symbol = g.symbol AND e.ts = g.ts
            WHERE e.symbol IS NULL OR g.symbol IS NULL OR {differs}
        """).fetchone()[0]
    finally:
        con.close()


def _sma(x: np.ndarray, n: int) -> np.ndarray:
    out = np.full(len(x), np.nan)
    if len(x) >= n:
        out[n - 1:] = np.lib.stride_tricks.sliding_window_view(x, n).mean(axis=1)
    return out


def signal_ma_cross(close: np.ndarray, fast: int, slow: int) -> np.ndarray:
    f, s = _sma(close, fast), _sma(close, slow)
    with np.errstate(invalid="ignore"):
        return (f > s).astype(np.int64)


def signal_momentum(close: np.ndarray, lookback: int, threshold: float):
    mom = np.full(len(close), np.nan)
    mom[lookback:] = close[lookback:] / close[:-lookback] - 1
    with np.errstate(invalid="ignore"):
        return np.where(mom > threshold, 1, np.where(mom < -threshold, -1, 0))


def backtest_summary(close: np.ndarray, signal: np.ndarray,
                     cost: float = 0.0015) -> tuple[float, int]:
    """(total_return, num_trades) of the vectorized kernel for one symbol:
    position = signal, returns charged on the previous bar's position,
    ``cost`` per unit traded."""
    pos = signal.astype(np.float64)
    prev = np.r_[0.0, pos[:-1]]
    rets = np.r_[0.0, close[1:] / close[:-1] - 1]
    net = prev * rets - np.abs(pos - prev) * cost
    return float(np.expm1(np.log1p(net).sum())), int((pos != prev).sum())
