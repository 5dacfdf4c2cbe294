"""Tick -> OHLCV bucketing and bar resampling.

Reference semantics (``/root/reference/data_processing/tick_to_ohlcv.py:23-108``,
``resampler.py:25-109``): bucket rows into fixed tumbling, epoch-aligned time
windows; per bucket open=first(price), high=max, low=min, close=last(price),
volume=sum; empty buckets dropped.

Spark design notes
------------------
- ``window(ts, freq)`` gives the identical epoch-aligned tumbling bucketing
  as pandas ``resample`` / polars ``group_by_dynamic`` defaults. Empty buckets
  simply never materialize (matches the reference's ``dropna``).
- first/last-in-bucket MUST NOT use ``first/last`` (order-nondeterministic
  under shuffle); we use ``min_by/max_by`` over an ordering key, which is
  deterministic and shuffle-safe. Without a tiebreaker the key is ``ts``.
  With one, the key is the single exact ``DECIMAL(38,0)`` of
  :func:`_key_sql`, ordered exactly like ``(ts, tiebreaker NULLS
  FIRST)``. A struct key would order the same, but a struct buffer is not
  mutable in place, so Spark plans it as a sort-based aggregate; a decimal
  buffer keeps the hash aggregate.
- One hash aggregate, one shuffle on ``(symbol, window)``: a map-side
  combinable aggregation, the cheapest shape Spark has. No windows, no sort.
- ``ticks_to_ohlcv`` is one ``spark.sql`` statement built from SQL text;
  ``resample_ohlcv`` takes caller Column aggregates, so it stays one
  ``groupBy().agg()`` over the same key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType, TimestampNTZType

from build_a_market_data_etl_strategy_backtesting_engine_spark.operators.signals import (  # noqa: E501
    _staged,
)
from build_a_market_data_etl_strategy_backtesting_engine_spark.sqlapi import (
    sql_ident,
    sql_str,
    sql_tmpl_ident,
)

# freq strings of the reference (tick_to_ohlcv.py:128-132) -> Spark intervals
FREQ_MAP = {
    "1min": "1 minute",
    "5min": "5 minutes",
    "15min": "15 minutes",
    "30min": "30 minutes",
    "1H": "1 hour",
    "1h": "1 hour",
    "4H": "4 hours",
    "1D": "1 day",
    "1d": "1 day",
    "1W": "1 week",
}

# The packed key is ``micros(ts) * _TS_SCALE + code`` with ``code`` in
# [0, 2^64]: 0 for a NULL tiebreaker, ``tiebreaker + _TIE_SHIFT`` otherwise.
# Years 1-9999 keep |micros| < 2^58, so |key| < 2^123 < 10^38.
_TS_SCALE = 2**64 + 1
_TIE_SHIFT = 2**63 + 1


def to_interval(freq: str) -> str:
    """Map a pandas-style freq string (or pass through a Spark interval)."""
    return FREQ_MAP.get(freq, freq)


def _micros_sql(ts: str, dtype) -> str:
    """Epoch microseconds of ``ts`` without the session time zone:
    ``unix_micros`` for TIMESTAMP; for TIMESTAMP_NTZ the difference of two
    NTZ values, which Spark takes in UTC (a cast to TIMESTAMP would move
    wall times inside a DST gap)."""
    if isinstance(dtype, TimestampNTZType):
        return (f"CAST(CAST(CAST({ts} - TIMESTAMP_NTZ'1970-01-01 00:00:00'"
                " AS INTERVAL SECOND) AS DECIMAL(18, 6)) * 1000000 AS BIGINT)")
    return f"unix_micros({ts})"


def _key_sql(df: DataFrame, ts_col: str, tiebreaker: str | None,
             ident) -> str:
    """Open/close ordering key of ``df`` as SQL text, identifiers quoted by
    ``ident``: ``ts`` alone, or one exact ``DECIMAL(38,0)`` ordered like
    ``(ts, tiebreaker NULLS FIRST)``."""
    if not tiebreaker:
        return ident(ts_col)
    # a missing column is left to Spark's own resolution error
    types = {f.name.lower(): f.dataType for f in df.schema.fields}
    tb_type = types.get(tiebreaker.lower())
    if tb_type is not None and not isinstance(tb_type, IntegralType):
        raise ValueError(
            f"tiebreaker {tiebreaker!r} must be an integral column, got "
            f"{tb_type.simpleString()}")
    micros = _micros_sql(ident(ts_col), types.get(ts_col.lower()))
    return (f"CAST({micros} AS DECIMAL(38, 0)) * {_TS_SCALE}"
            f" + coalesce(CAST({ident(tiebreaker)} AS DECIMAL(20, 0))"
            f" + {_TIE_SHIFT}, 0)")


def ticks_to_ohlcv(
    ticks: DataFrame,
    freq: str = "1min",
    ts_col: str = "ts",
    symbol_col: str = "symbol",
    price_col: str = "price",
    volume_col: str | None = "volume",
    tiebreaker: str | None = None,
) -> DataFrame:
    """Aggregate raw ticks into OHLCV bars.

    Output: ``(symbol, ts=bar start, open, high, low, close, volume, n_ticks)``.
    ``tiebreaker`` (an integral column, e.g. a monotonic ingest id) makes
    first/last deterministic when two ticks share a timestamp — pandas
    keeps file order there (SURVEY §7.7.3); we require an explicit column
    instead. A NULL tiebreaker sorts before every value.
    """
    key = _key_sql(ticks, ts_col, tiebreaker, sql_tmpl_ident)
    rel = "{df}"
    if tiebreaker:
        # stage the packed key once per row for both min_by and max_by
        (k,) = _staged(ticks, "_ok")
        rel, key = f"(SELECT *, {key} AS {k} FROM {{df}}) AS _k", k
    p, sym = sql_tmpl_ident(price_col), sql_tmpl_ident(symbol_col)
    win = f"window({sql_tmpl_ident(ts_col)}, {sql_str(to_interval(freq))})"
    vol = ("0.0D" if not (volume_col and volume_col in ticks.columns)
           else f"sum({sql_tmpl_ident(volume_col)})")
    return ticks.sparkSession.sql(
        "SELECT symbol, w.start AS ts, `open`, `high`, `low`, `close`,"
        f" `volume`, `n_ticks` FROM (SELECT {sym} AS symbol, {win} AS w,"
        f" min_by({p}, {key}) AS `open`, max({p}) AS `high`,"
        f" min({p}) AS `low`, max_by({p}, {key}) AS `close`,"
        f" {vol} AS `volume`, count(1) AS `n_ticks`"
        f" FROM {rel} GROUP BY {sym}, {win}) AS _b", df=ticks)


# Default agg semantics for resampling already-barred data
# (resampler.py:37-45): first(open), max(high), min(low), last(close),
# sum(volume) — auto-restricted to the columns that exist.
def resample_ohlcv(
    bars: DataFrame,
    freq: str = "5min",
    ts_col: str = "ts",
    symbol_col: str = "symbol",
    agg_exprs: list[Column] | None = None,
    tiebreaker: str | None = None,
) -> DataFrame:
    """Downsample OHLCV bars to a coarser frequency.

    ``agg_exprs`` lets callers inject custom aggregates exactly like the
    reference's ``agg_dict`` / ``agg_exprs`` hooks (resampler.py:29,68).
    """
    key = F.expr(_key_sql(bars, ts_col, tiebreaker, sql_ident))
    if agg_exprs is None:
        agg_exprs = []
        cols = set(bars.columns)
        if "open" in cols:
            agg_exprs.append(F.min_by("open", key).alias("open"))
        if "high" in cols:
            agg_exprs.append(F.max("high").alias("high"))
        if "low" in cols:
            agg_exprs.append(F.min("low").alias("low"))
        if "close" in cols:
            agg_exprs.append(F.max_by("close", key).alias("close"))
        if "volume" in cols:
            agg_exprs.append(F.sum("volume").alias("volume"))
        if not agg_exprs:
            raise ValueError("no OHLCV columns found and no agg_exprs given")
    agged = bars.groupBy(
        F.col(symbol_col).alias("symbol"),
        F.window(ts_col, to_interval(freq)).alias("w"),
    ).agg(*agg_exprs)
    value_cols = [c for c in agged.columns if c not in ("symbol", "w")]
    return agged.select("symbol", F.col("w.start").alias("ts"), *value_cols)


def downsample_ohlcv(bars: DataFrame, freq: str, **kw) -> DataFrame:
    """Validation wrapper mirroring ``resampler.downsample_ohlcv``
    (resampler.py:239-262): requires the four price columns present."""
    missing = {"open", "high", "low", "close"} - set(bars.columns)
    if missing:
        raise ValueError(f"missing OHLCV columns: {sorted(missing)}")
    return resample_ohlcv(bars, freq=freq, **kw)
