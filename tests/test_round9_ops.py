"""Round-9 hardening tests (r8 VERDICT ranked tasks + ADVICE items):
skew node-name matching (no substring false positives), signals
temp-name collision safety, duck_digest_chunked unit pin."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
    signals,
    skew,
)


# --------------------------------- skew node matching (r8 ADVICE low)


def test_scan_estimate_ignores_sortlike_column_names(spark, tmp_path):
    """A column named Sortkey/JoinColumn on a RAW SCAN must keep the
    cheap file-based estimate — bare substring matching dropped it."""
    p = str(tmp_path / "sortnames.parquet")
    spark.range(64).select(
        F.col("id").alias("Sortkey"),
        F.col("id").alias("JoinColumn"),
        (F.col("id") % 3).alias("WindowGroup"),
    ).write.parquet(p)
    df = spark.read.parquet(p).filter(F.col("Sortkey") > 2)
    assert skew._estimated_scan_partitions(df) is not None


def test_scan_estimate_still_declines_real_exchange_nodes(spark, tmp_path):
    p = str(tmp_path / "exch.parquet")
    spark.range(64).select(
        F.col("id").alias("Sortkey"),
        (F.col("id") % 3).alias("g"),
    ).write.parquet(p)
    base = spark.read.parquet(p)
    assert skew._estimated_scan_partitions(base.orderBy("Sortkey")) is None
    assert skew._estimated_scan_partitions(
        base.groupBy("g").agg(F.count("*").alias("c"))) is None
    assert skew._estimated_scan_partitions(base.repartition(4)) is None


# ------------------------- signals temp-name collisions (r8 ADVICE low)


def _bars_with_reserved_cols(spark):
    rows = []
    for i in range(30):
        rows.append(Row(
            symbol="A", ts=i, close=100.0 + (i % 7) - 3.0,
            volume=float(1000 + 10 * i),
            _g=99.0, _l=98.0, _mr_sd=1.25, _mr_mid=2.5, _vr_m=3.5,
            _mom=4.5, _pc_prev=5.5, _r=6.5, _bb_sd=7.5, _rsi_prev=8.5,
            _gain=9.5, _loss=10.5,
        ))
    return spark.createDataFrame(rows)


RESERVED = ["_g", "_l", "_mr_sd", "_mr_mid", "_vr_m", "_mom", "_pc_prev",
            "_r", "_bb_sd", "_rsi_prev", "_gain", "_loss"]


@pytest.mark.parametrize("op", [
    lambda df: signals.with_rsi(df, n=5),
    lambda df: signals.mean_reversion_signal(df, n=5),
    lambda df: signals.with_volume_ratio(df, n=5),
    lambda df: signals.momentum_signal(df, lookback=5),
    lambda df: signals.simple_returns(df),
    lambda df: signals.with_bollinger(df, n=5),
    lambda df: signals.with_rolling_volatility(df, n=5),
])
def test_reserved_user_columns_survive_hoisting(spark, op):
    """r8 ADVICE: withColumn+drop on fixed temp names silently destroyed
    same-named caller columns; _fresh() must leave them intact AND
    produce the same operator output as on a clean frame."""
    df = _bars_with_reserved_cols(spark)
    out = op(df)
    for c in RESERVED:
        assert c in out.columns, f"user column {c} was dropped"
    got = out.select("ts", *RESERVED).orderBy("ts").collect()
    for row in got:
        assert row._g == 99.0 and row._l == 98.0
        assert row._mr_sd == 1.25 and row._vr_m == 3.5
    # and the computed signal matches the clean-frame run
    clean = op(df.drop(*RESERVED))
    new_cols = [c for c in clean.columns
                if c not in ("symbol", "ts", "close", "volume")]
    a = out.select("ts", *new_cols).orderBy("ts").collect()
    b = clean.select("ts", *new_cols).orderBy("ts").collect()
    assert a == b


def test_fresh_names_are_collision_free(spark):
    df = spark.createDataFrame([Row(x=1, _t=2, _t1=3)])
    names = signals._fresh(df, "_t", "_t")
    assert names[0] not in df.columns and names[1] not in df.columns
    assert names[0] != names[1]


# --------------------- duck_digest_chunked unit pin (r8 VERDICT #5)


def test_duck_digest_chunked_matches_monolithic(sf_dir):
    """The additive-digest identity (chunked == monolithic) previously ran
    only inside 900-s sf100 sweeps; pin it at sf0.001 on the exact query
    that uses it (q48)."""
    import __spark_entry__ as entry
    from tests.oracle_harness import (
        duck_connection,
        duck_digest,
        duck_digest_chunked,
    )

    sql = entry.oracle_sql()["q48_winnowing_fingerprints"]
    con = duck_connection(sf_dir)
    mono = duck_digest(con, sql)
    assert mono[0] > 0  # non-trivial input
    assert duck_digest_chunked(con, sql, "doc_id", 16) == mono
    assert duck_digest_chunked(con, sql, "doc_id", 3) == mono
    # source-filtered form (r9): the filter lands INSIDE the documents
    # scan — the only form whose per-pass memory is actually 1/k (the
    # outer-filter form recomputes the full md5 explosion every pass:
    # DuckDB does not push the outer predicate through the unnest)
    assert duck_digest_chunked(con, sql, "doc_id", 7, "documents") == mono
    assert duck_digest_chunked(
        con, sql, "doc_id", 64, "documents") == mono


# ----------------------- as-of auto-dispatch (r8 VERDICT #2)


def _enrich_frames(spark):
    import pandas as pd

    t0 = pd.Timestamp("2024-01-01")
    trades = pd.DataFrame([{
        "ts": t0 + pd.Timedelta(seconds=60 * i), "symbol": "A",
        "seq": i, "price": 100.0 + i, "volume": 10.0,
    } for i in range(10)])
    sparse_q = pd.DataFrame([{
        "ts": t0 + pd.Timedelta(seconds=45 * i), "symbol": "A",
        "bid": 99.0 + i * 0.1, "ask": 99.1 + i * 0.1,
    } for i in range(14)])  # ~1.33 quotes/min
    dense_q = pd.DataFrame([{
        "ts": t0 + pd.Timedelta(milliseconds=25 * i), "symbol": "A",
        "bid": 99.0 + (i % 7) * 0.01, "ask": 99.2 + (i % 7) * 0.01,
    } for i in range(2000)])  # 40 quotes/s
    return (spark.createDataFrame(trades),
            spark.createDataFrame(sparse_q),
            spark.createDataFrame(dense_q))


def test_asof_auto_selects_join_on_sparse_merge_on_dense(spark):
    from build_a_market_data_etl_strategy_backtesting_engine_spark.streaming import (
        joins as sjoins,
    )

    trades, sparse_q, dense_q = _enrich_frames(spark)
    # sparse: ~1.33 quotes/min x 2 min tolerance ~ 2.7 << 32 -> join
    assert sjoins.select_asof_mode(sparse_q, "2 minutes") == "join"
    # dense: 40 quotes/s x 120 s ~ 4800 >> 32 -> merge
    assert sjoins.select_asof_mode(dense_q, "2 minutes") == "merge"
    # the ceiling is a parameter, not a constant
    assert sjoins.select_asof_mode(
        dense_q, "2 minutes", max_join_amplification=1e7) == "join"


def test_asof_auto_output_matches_forced_modes(spark):
    """asof_enrich must return what each implementation it chooses
    between returns when called directly."""
    import pandas as pd

    from build_a_market_data_etl_strategy_backtesting_engine_spark.streaming import (
        joins as sjoins,
    )

    trades, sparse_q, dense_q = _enrich_frames(spark)
    for q in (sparse_q, dense_q):
        auto = (sjoins.asof_enrich(trades, q, tolerance="2 minutes")
                .toPandas().sort_values("seq").reset_index(drop=True))
        for impl in (sjoins.streaming_quote_enrich,
                     sjoins.streaming_asof_enrich):
            got = (impl(trades, q, tolerance="2 minutes")
                   .toPandas().sort_values("seq").reset_index(drop=True))
            pd.testing.assert_frame_equal(
                auto, got[auto.columns.tolist()]
                .astype(auto.dtypes.to_dict()))


def test_asof_streaming_without_sample_defaults_to_merge(spark):
    from build_a_market_data_etl_strategy_backtesting_engine_spark.streaming import (
        joins as sjoins,
    )

    rate = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    sq = rate.select(
        F.col("timestamp").alias("ts"), F.lit("A").alias("symbol"),
        F.lit(99.0).alias("bid"), F.lit(99.1).alias("ask"))
    st = rate.select(
        F.col("timestamp").alias("ts"), F.lit("A").alias("symbol"),
        F.col("value").alias("seq"), F.lit(100.0).alias("price"),
        F.lit(1.0).alias("volume"))
    assert sjoins.select_asof_mode(sq, "1 minute") == "merge"
    # a static density sample re-enables the join choice on sparse feeds
    _, sparse_q, dense_q = _enrich_frames(spark)
    assert sjoins.select_asof_mode(
        sq, "2 minutes", density_sample=sparse_q) == "join"
    assert sjoins.select_asof_mode(
        sq, "2 minutes", density_sample=dense_q) == "merge"


# ---------------------- bench load self-arbitration (r8 VERDICT #6)


def test_bench_contamination_flag(monkeypatch):
    """bench.py must arbitrate its own provenance: load1 above the idle
    threshold marks the run contaminated (the r8 cross-round comparison
    rule, enforced by the tool)."""
    import bench

    monkeypatch.setattr(bench.os, "getloadavg", lambda: (3.98, 2.0, 1.0))
    assert bench._contaminated(bench._load1()) is True
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (0.42, 1.0, 1.0))
    assert bench._contaminated(bench._load1()) is False
    assert bench._contaminated(bench.LOAD1_CONTAMINATION_THRESHOLD) is False


def test_q120_source_chunked_digest_matches(sf_dir):
    """q120's sf100 oracle config: part-source chunking must partition
    the recursive pricing exactly (output id == source p_partkey)."""
    import __spark_entry__ as entry
    from tests.oracle_harness import (
        duck_connection,
        duck_digest,
        duck_digest_chunked,
    )

    sql = entry.oracle_sql()["q120_binomial_american"]
    con = duck_connection(sf_dir)
    mono = duck_digest(con, sql)
    assert mono[0] > 0
    assert duck_digest_chunked(
        con, sql, "id", 5, "part", "p_partkey") == mono
    assert duck_digest_chunked(
        con, sql, "id", 64, "part", "p_partkey") == mono


def test_spark_digest_chunked_matches_monolithic(spark, sf_dir):
    import __spark_entry__ as entry
    from tests.oracle_harness import spark_digest, spark_digest_chunked

    sdf = entry.queries()["q48_winnowing_fingerprints"](spark, sf_dir)
    mono = spark_digest(sdf)
    assert mono[0] > 0
    assert spark_digest_chunked(sdf, "doc_id", 5) == mono
    assert spark_digest_chunked(sdf, "doc_id", 24) == mono
