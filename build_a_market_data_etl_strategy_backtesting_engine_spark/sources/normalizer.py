"""Raw feed-message normalization: semi-structured JSON -> typed tick/quote rows.

Reference semantics (``/root/reference/etl/normalizer.py``):
- alias coalescing: price|p|last, symbol|s|ticker, volume|v|size|0 (:22-55)
- optional ``data`` envelope unwrap (:24-26)
- timestamp unification: unix seconds, unix millis (detected by > 1e12),
  ISO-8601 string, default now() (:28-38)
- record DROPPED if symbol or price missing (:41-51)
- quote variant: bid|bp, ask|ap, bid_size|bs, ask_size|as, missing -> 0.0
  (:69-101)

Spark design: one ``from_json`` with a permissive all-string schema, then a
pure-column ``coalesce``/``when`` projection + validity filter. Works
identically on a batch DataFrame of strings and a streaming source — the
normalizer is shared by both paths (streaming/ingest.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# permissive envelope: every alias surfaced as string, nested `data` too.
_FIELDS = [
    "timestamp", "ts", "t", "symbol", "s", "ticker",
    "price", "p", "last", "volume", "v", "size",
    "bid_price", "bid", "bp", "ask_price", "ask", "ap",
    "bid_size", "bs", "ask_size", "as",
]
RAW_SCHEMA = T.StructType(
    [T.StructField(f, T.StringType()) for f in _FIELDS]
    + [T.StructField(
        "data", T.StructType([T.StructField(f, T.StringType()) for f in _FIELDS])
    )]
)


def _alias(root: Column, names: list[str]) -> Column:
    """coalesce(root.data.n1, ..., root.n1, ...) — envelope fields win,
    mirroring the reference's `data = message.get("data", message)`."""
    cols = [root["data"][n] for n in names] + [root[n] for n in names]
    return F.coalesce(*cols)


def unify_timestamp(raw: Column) -> Column:
    """unix s / unix ms / ISO string -> timestamp (normalizer.py:28-38);
    missing -> current_timestamp(). ``try_cast``: under ANSI mode a plain
    cast of an ISO string to double raises instead of yielding null."""
    d = raw.try_cast("double")
    as_num = F.when(d > 1e12, F.timestamp_millis(d.cast("long"))).otherwise(
        F.timestamp_seconds(d)
    )
    parsed = F.when(d.isNotNull(), as_num).otherwise(F.to_timestamp(raw))
    return F.coalesce(parsed, F.current_timestamp())


def normalize_trades(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Strings of feed JSON -> valid tick rows ``(ts, symbol, price, volume)``.

    Malformed JSON and rows missing symbol/price are dropped (the reference
    returns None and counts an error; a `_corrupt` side channel can be added
    by filtering the negation).
    """
    j = F.from_json(F.col(value_col), RAW_SCHEMA)
    out = raw.select(
        unify_timestamp(_alias(j, ["timestamp", "ts", "t"])).alias("ts"),
        _alias(j, ["symbol", "s", "ticker"]).alias("symbol"),
        _alias(j, ["price", "p", "last"]).cast("double").alias("price"),
        F.coalesce(
            _alias(j, ["volume", "v", "size"]).cast("double"), F.lit(0.0)
        ).alias("volume"),
    )
    return out.filter(F.col("symbol").isNotNull() & F.col("price").isNotNull())


def normalize_trades_with_rejects(
    raw: DataFrame, value_col: str = "value"
) -> tuple[DataFrame, DataFrame]:
    """(valid ticks, rejected raw frames) — the reference counts parse/
    validation errors (websocket_client.py:113-117, normalizer.py:41-51);
    here the reject side is a full DataFrame (countable, sinkable to a
    dead-letter table). Both sides derive from one scan."""
    j = F.from_json(F.col(value_col), RAW_SCHEMA)
    symbol = _alias(j, ["symbol", "s", "ticker"])
    price = _alias(j, ["price", "p", "last"]).cast("double")
    ok = j.isNotNull() & symbol.isNotNull() & price.isNotNull()
    return (
        normalize_trades(raw.filter(ok), value_col),
        raw.filter(~ok | j.isNull()),
    )


def normalize_quotes(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Feed JSON -> quote rows (normalizer.py:69-101); missing numerics -> 0.0,
    rows without symbol dropped."""
    j = F.from_json(F.col(value_col), RAW_SCHEMA)

    def num(names: list[str]) -> Column:
        return F.coalesce(_alias(j, names).cast("double"), F.lit(0.0))

    out = raw.select(
        unify_timestamp(_alias(j, ["timestamp", "ts", "t"])).alias("ts"),
        _alias(j, ["symbol", "s", "ticker"]).alias("symbol"),
        num(["bid_price", "bid", "bp"]).alias("bid_price"),
        num(["ask_price", "ask", "ap"]).alias("ask_price"),
        num(["bid_size", "bs"]).alias("bid_size"),
        num(["ask_size", "as"]).alias("ask_size"),
    )
    return out.filter(F.col("symbol").isNotNull())
