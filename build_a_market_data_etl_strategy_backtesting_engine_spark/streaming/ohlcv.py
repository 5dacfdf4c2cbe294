"""Streaming tick -> OHLCV with watermarked tumbling windows, plus streaming
risk alerts.

The reference only bars data in batch (tick_to_ohlcv.py) — late ticks
silently land wherever the next batch re-run puts them. Structured Streaming
gives *defined* late-data semantics (SURVEY §2.10): a watermark bounds
lateness; bars emit once final (append mode).

Semantics match the batch kernel exactly: epoch-aligned tumbling windows,
min_by/max_by open/close — the equivalence test drives the same rows through
both paths and asserts identical bars.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from build_a_market_data_etl_strategy_backtesting_engine_spark.operators.bars import (
    ticks_to_ohlcv,
)


def streaming_ohlcv(
    ticks: DataFrame,
    freq: str = "1min",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
    symbol_col: str = "symbol",
    price_col: str = "price",
    volume_col: str = "volume",
) -> DataFrame:
    """Watermarked streaming OHLCV aggregation: the batch kernel
    ``ticks_to_ohlcv`` over the watermarked stream.

    Append-mode compatible: bars finalize when the watermark passes the
    window end. State per (symbol, window) is O(1) — the aggregation
    buffer holds 4 price extremes + volume sum + count.
    """
    return ticks_to_ohlcv(ticks.withWatermark(ts_col, watermark), freq,
                          ts_col, symbol_col, price_col, volume_col)


def streaming_loss_alerts(
    bars: DataFrame,
    max_bar_loss_pct: float = 0.05,
    price_col: str = "close",
) -> DataFrame:
    """Per-bar loss alert on a streaming bar frame: open->close drop beyond
    the limit (streaming twin of risk.daily_loss_alerts; warning/critical
    tiers at 1x/2x)."""
    r = F.col(price_col) / F.col("open") - 1
    level = (
        F.when(r < -max_bar_loss_pct * 2.0, F.lit("critical"))
        .when(r < -max_bar_loss_pct, F.lit("warning"))
    )
    return (
        bars.withColumn("bar_return", r)
        .withColumn("level", level)
        .filter(F.col("level").isNotNull())
        .select(
            F.col("ts"), F.lit("bar_loss").alias("alert_type"), "level",
            "symbol", F.col("bar_return").alias("value"),
            F.lit(-float(max_bar_loss_pct)).alias("threshold"),
        )
    )


def run_streaming_ohlcv_to_memory(
    ticks: DataFrame,
    query_name: str,
    freq: str = "1min",
    watermark: str = "10 minutes",
    complete: bool = True,
):
    """Start the streaming aggregation into an in-memory sink (tests).
    ``complete`` mode emits every bar each trigger (no watermark wait);
    append mode emits only finalized bars."""
    b = streaming_ohlcv(ticks, freq, watermark)
    return (
        b.writeStream.format("memory").queryName(query_name)
        .outputMode("complete" if complete else "append")
        .trigger(availableNow=True)
        .start()
    )
