"""The clean -> bars pass: the packed open/close ordering key of
``bars``, the null-``ts`` rule of ``clean_pipeline`` and the staging-name
hygiene of ``cleaner``.

The packed-key cases compare against a reference built here with the
``struct(ts, tiebreaker)`` ordering key that ``min_by``/``max_by`` order
lexicographically, NULL first."""

from __future__ import annotations

import datetime as dt
import glob
import os

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
    bars,
    cleaner,
)

MAX = 2**63 - 1


def _struct_key_bars(df, freq, tiebreaker, price="price"):
    key = F.struct("ts", tiebreaker)
    return (
        df.groupBy(F.col("symbol"), F.window("ts", bars.to_interval(freq))
                   .alias("w"))
        .agg(F.min_by(price, key).alias("open"),
             F.max_by(price, key).alias("close"))
        .select("symbol", F.col("w.start").alias("ts"), "open", "close"))


def _rows(df):
    return sorted(map(tuple, df.select("symbol", "ts", "open", "close")
                      .collect()))


def _ticks(spark, rows, ts_type=TimestampType()):
    schema = StructType([
        StructField("ts", ts_type), StructField("symbol", StringType()),
        StructField("price", DoubleType()), StructField("volume", DoubleType()),
        StructField("seq", LongType())])
    return spark.createDataFrame(rows, schema)


def test_packed_key_breaks_ts_ties_like_struct_key(spark):
    t0 = dt.datetime(2024, 1, 2, 14, 30, tzinfo=dt.timezone.utc)
    t1 = t0 + dt.timedelta(seconds=20)
    rows = [
        # every tick of a bucket on one ts: the order is seq alone
        (t0, "A", 1.0, 1.0, MAX), (t0, "A", 2.0, 1.0, -MAX),
        (t0, "A", 3.0, 1.0, None), (t0, "A", 4.0, 1.0, 0),
        # a later ts wins close whatever its seq
        (t0, "B", 5.0, 1.0, MAX), (t1, "B", 6.0, 1.0, -MAX),
        (t1, "B", 7.0, 1.0, None),
        # NULL first: open is the NULL-seq tick, close the largest seq
        (t0, "C", 8.0, 1.0, None), (t0, "C", 9.0, 1.0, -MAX + 1),
        (t0, "C", 10.0, 1.0, MAX - 1),
    ]
    ticks = _ticks(spark, rows).repartition(3)
    got = bars.ticks_to_ohlcv(ticks, "1min", tiebreaker="seq")
    assert _rows(got) == _rows(_struct_key_bars(ticks, "1min", "seq"))
    by_sym = {r.symbol: (r.open, r.close) for r in got.collect()}
    assert by_sym == {"A": (3.0, 1.0), "B": (5.0, 6.0), "C": (8.0, 10.0)}


def test_packed_key_ntz_is_exact_across_dst_gap(spark):
    """02:30 on 2024-03-10 does not exist in New York. A key that went
    through the session zone would map it onto 03:30 and let seq decide;
    the NTZ key keeps wall-clock order."""
    ntz = [dt.datetime(2024, 3, 10, 1, 59, 59), dt.datetime(2024, 3, 10, 2, 30),
           dt.datetime(2024, 3, 10, 3, 30), dt.datetime(2024, 11, 3, 1, 30)]
    rows = [(ntz[0], "A", 1.0, 1.0, 9), (ntz[1], "A", 2.0, 1.0, 5),
            (ntz[2], "A", 3.0, 1.0, 1), (ntz[1], "B", 4.0, 1.0, 5),
            (ntz[2], "B", 5.0, 1.0, 1), (ntz[3], "C", 6.0, 1.0, None),
            (ntz[3], "C", 7.0, 1.0, -MAX)]
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        ticks = _ticks(spark, rows, TimestampNTZType())
        for freq in ("1 day", "4 hours"):
            got = bars.ticks_to_ohlcv(ticks, freq, tiebreaker="seq")
            assert _rows(got) == _rows(_struct_key_bars(ticks, freq, "seq"))
        got = {r.symbol: (r.open, r.close) for r in
               bars.ticks_to_ohlcv(ticks, "1 day", tiebreaker="seq").collect()}
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    assert got == {"A": (1.0, 3.0), "B": (4.0, 5.0), "C": (6.0, 7.0)}


def test_resample_with_tiebreaker_matches_struct_key(spark):
    t0 = dt.datetime(2024, 1, 2, 14, 30, tzinfo=dt.timezone.utc)
    rows = [Row(ts=t0 + dt.timedelta(minutes=m), symbol="A", open=float(o),
                high=float(o) + 1, low=float(o) - 1, close=float(o) + 0.5,
                volume=1.0, seq=s)
            for m, o, s in [(0, 1, 3), (0, 2, None), (0, 3, -MAX),
                            (4, 4, MAX), (4, 5, 0), (7, 6, 1)]]
    b = spark.createDataFrame(rows)
    got = bars.resample_ohlcv(b, "5min", tiebreaker="seq")
    key = F.struct("ts", "seq")
    exp = (b.groupBy("symbol", F.window("ts", "5 minutes").alias("w"))
           .agg(F.min_by("open", key).alias("open"),
                F.max_by("close", key).alias("close"))
           .select("symbol", F.col("w.start").alias("ts"), "open", "close"))
    assert _rows(got) == _rows(exp)
    assert [(r.open, r.close) for r in got.orderBy("ts").collect()] == [
        (2.0, 4.5), (6.0, 6.5)]


def test_resample_custom_agg_exprs(spark):
    """Caller Column aggregates (the reference's ``agg_dict`` hook) replace
    the default OHLCV set."""
    t0 = dt.datetime(2024, 1, 2, 14, 30, tzinfo=dt.timezone.utc)
    b = spark.createDataFrame([
        Row(ts=t0 + dt.timedelta(minutes=m), symbol="A", high=float(m))
        for m in (0, 2, 4, 6)])
    got = bars.resample_ohlcv(b, "5min", agg_exprs=[
        F.max("high").alias("hh"), F.count(F.lit(1)).alias("n")])
    assert got.columns == ["symbol", "ts", "hh", "n"]
    assert [(r.hh, r.n) for r in got.orderBy("ts").collect()] == [
        (4.0, 3), (6.0, 1)]


def test_non_integral_tiebreaker_raises(spark):
    t0 = dt.datetime(2024, 1, 2, 14, 30, tzinfo=dt.timezone.utc)
    df = spark.createDataFrame([Row(ts=t0, symbol="A", price=1.0,
                                    volume=1.0, seq="x", open=1.0,
                                    close=1.0)])
    with pytest.raises(ValueError, match="'seq'.*string"):
        bars.ticks_to_ohlcv(df, "1min", tiebreaker="seq")
    with pytest.raises(ValueError, match="'price'.*double"):
        bars.ticks_to_ohlcv(df, "1min", tiebreaker="price")
    with pytest.raises(ValueError, match="'seq'.*string"):
        bars.resample_ohlcv(df, "5min", tiebreaker="seq")


def test_streaming_ohlcv_state_schema_matches_column_api(spark, tmp_path):
    """The streaming bar state (key and aggregation buffer schema) is the
    one the Column-API version wrote, so a checkpoint carries over."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.streaming.ohlcv import (  # noqa: E501
        streaming_ohlcv,
    )

    src = str(tmp_path / "src")
    t0 = dt.datetime(2024, 1, 2, 14, 30, tzinfo=dt.timezone.utc)
    _ticks(spark, [(t0 + dt.timedelta(seconds=7 * i), "AB"[i % 2],
                    float(i), 1.0, i) for i in range(40)]
           ).write.parquet(src)
    schema = spark.read.parquet(src).schema

    def column_api(s):
        return (s.groupBy(F.col("symbol").alias("symbol"),
                          F.window("ts", "1 minute").alias("w"))
                .agg(F.min_by("price", "ts").alias("open"),
                     F.max("price").alias("high"), F.min("price").alias("low"),
                     F.max_by("price", "ts").alias("close"),
                     F.sum("volume").alias("volume"),
                     F.count(F.lit(1)).alias("n_ticks"))
                .select("symbol", F.col("w.start").alias("ts"), "open",
                        "high", "low", "close", "volume", "n_ticks"))

    schemas = []
    for name, build in [("sql", lambda s: streaming_ohlcv(s, "1min", "1 minute")),
                        ("col", lambda s: column_api(
                            s.withWatermark("ts", "1 minute")))]:
        ck = str(tmp_path / f"ck_{name}")
        q = (build(spark.readStream.schema(schema).parquet(src))
             .writeStream.format("parquet").outputMode("append")
             .option("path", str(tmp_path / f"out_{name}"))
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        files = sorted(glob.glob(os.path.join(ck, "state", "0", "*",
                                              "_metadata", "schema")))
        assert files
        schemas.append([open(f, "rb").read() for f in files])
    assert schemas[0] == schemas[1]


# ------------------------------------------------------------ cleaner


def test_clean_pipeline_drops_null_ts_before_the_fence(spark):
    """A null-ts tick reaches neither the output nor the quartiles: with
    it the fence would keep the 100.0 print, without it 100.0 is cut."""
    t0 = dt.datetime(2024, 1, 2, 14, 30, tzinfo=dt.timezone.utc)
    rows = [(t0 + dt.timedelta(seconds=i), "A", p, 1.0, i)
            for i, p in enumerate([10.0, 10.0, 11.0, 11.0, 12.0, 100.0])]
    rows += [(None, "A", 100.0, 1.0, 90 + i) for i in range(6)]
    out = cleaner.clean_pipeline(_ticks(spark, rows)).collect()
    assert all(r.ts is not None for r in out)
    assert sorted(r.price for r in out) == [10.0, 10.0, 11.0, 11.0, 12.0]


@pytest.fixture(scope="module")
def staging_named(spark):
    """Caller columns named like the cleaner's staging columns; ``_SD``
    differs from ``_sd`` only in case, which Spark does not tell apart."""
    t0 = dt.datetime(2024, 1, 2, 14, 30, tzinfo=dt.timezone.utc)
    return spark.createDataFrame([
        Row(ts=t0 + dt.timedelta(minutes=i % 5), symbol="A", k=i % 4,
            price=float(10 + i % 3), _rn=i, _cnt=-i, _q=f"q{i}",
            _mu=0.5 * i, _SD=7)
        for i in range(12)])


_STAGING_CASES = {
    # the earliest ts of each k: i = 0, 5, 10, 11 (minute i % 5)
    "dedup_first_rn": (
        lambda df: cleaner.deduplicate(df, subset=["k"], keep="first"),
        lambda rows: sorted(r._rn for r in rows) == [0, 5, 10, 11]),
    "dedup_keep_false_cnt": (
        lambda df: cleaner.deduplicate(df.filter("k = 1 AND _rn = 1"),
                                       ["k"], keep=False),
        lambda rows: [(r._rn, r._cnt) for r in rows] == [(1, -1)]),
    "iqr_q": (
        lambda df: cleaner.remove_outliers_iqr(df, "price", k=1.5),
        lambda rows: sorted(r._q for r in rows)[:2] == ["q0", "q1"]
        and len(rows) == 12),
    "zscore_mu_sd": (
        lambda df: cleaner.remove_outliers_zscore(df, "price", k=3.0),
        lambda rows: sorted(r._mu for r in rows) == [0.5 * i for i in range(12)]
        and {r._SD for r in rows} == {7}),
    "clean_pipeline": (
        lambda df: cleaner.clean_pipeline(df, dedup_subset=["k"]),
        lambda rows: sorted(r._rn for r in rows) == [0, 5, 10, 11]),
}


@pytest.mark.parametrize("case", sorted(_STAGING_CASES))
def test_cleaner_staging_names_never_touch_caller_columns(staging_named,
                                                          case):
    build, check = _STAGING_CASES[case]
    out = build(staging_named)
    assert out.columns == staging_named.columns
    assert check(out.collect())


def test_grouped_iqr_keeps_caller_q_and_join_key_order(staging_named):
    out = cleaner.remove_outliers_iqr(staging_named, "price", k=1.5,
                                      group_cols=["symbol"])
    assert out.columns == ["symbol"] + [c for c in staging_named.columns
                                        if c != "symbol"]
    assert out.count() == 12


def test_gap_fill_with_symbol_column_named_like_staging(spark):
    t0 = dt.datetime(2024, 1, 2, 14, 30)
    df = spark.createDataFrame([Row(ts=t0, _lo="A", v=1.0),
                                Row(ts=t0 + dt.timedelta(minutes=2),
                                    _lo="A", v=3.0)])
    got = cleaner.fill_missing_timestamps(df, 60, "ffill", symbol_col="_lo",
                                          value_cols=["v"])
    assert [r.v for r in got.orderBy("ts").collect()] == [1.0, 1.0, 3.0]


def test_brace_named_columns(spark):
    """Column names with braces: Column conditions and ``F.expr`` text take
    them as they are, statement text doubles the braces for formatting."""
    t0 = dt.datetime(2024, 1, 2, 14, 30, tzinfo=dt.timezone.utc)
    df = spark.createDataFrame([
        Row(ts=t0 + dt.timedelta(seconds=i // 2), symbol="A",
            **{"a{b}": p, "s{q}": -i})
        for i, p in enumerate([0.0, 10.0, 11.0, 12.0, 11.0, 10.0])])
    valid, invalid = cleaner.validate_prices(df, "a{b}")
    assert (valid.count(), invalid.count()) == (5, 1)
    cleaned = cleaner.clean_pipeline(df, price_col="a{b}")
    assert sorted(r["a{b}"] for r in cleaned.collect()) == [
        10.0, 10.0, 11.0, 11.0, 12.0]
    got = bars.ticks_to_ohlcv(df, price_col="a{b}", tiebreaker="s{q}")
    assert [(r.open, r.close) for r in got.collect()] == [(10.0, 11.0)]
    b = df.select("ts", "symbol", "s{q}", F.col("a{b}").alias("open"),
                  F.col("a{b}").alias("close"))
    got = bars.resample_ohlcv(b, "5min", tiebreaker="s{q}")
    assert [(r.open, r.close) for r in got.collect()] == [(10.0, 11.0)]
