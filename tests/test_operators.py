"""Pandas-parity unit tests for the batch operators.

Each test builds a small deterministic frame, runs the Spark operator, and
compares against pandas computing the REFERENCE semantics (the reference's
own pandas calls, e.g. ``drop_duplicates``, ``resample().agg``, rolling
windows with NaN warm-up) — the strategy of SURVEY.md §5.2."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import Window
from pyspark.sql import functions as F

from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
    backtest,
    bars,
    cleaner,
    metrics as metrics_ops,
    signals,
)


@pytest.fixture(scope="module")
def tick_pdf():
    rng = np.random.default_rng(42)
    n = 2000
    frames = []
    for i, sym in enumerate(["AAA", "BBB"]):
        ts = pd.date_range("2024-01-01", periods=n, freq="13s")
        price = 100 * np.exp(np.cumsum(rng.normal(0.0001, 0.01, n)))
        vol = np.round(np.exp(rng.normal(3, 1, n)) * 100)
        frames.append(pd.DataFrame({
            "ts": ts, "symbol": sym, "price": price, "volume": vol,
            "seq": np.arange(n) + i * n,
        }))
    return pd.concat(frames, ignore_index=True)


@pytest.fixture(scope="module")
def tick_sdf(spark, tick_pdf):
    return spark.createDataFrame(tick_pdf).repartition(4)


def test_ohlcv_matches_pandas_resample(spark, tick_pdf, tick_sdf):
    got = (
        bars.ticks_to_ohlcv(tick_sdf, "5min", tiebreaker="seq")
        .toPandas().sort_values(["symbol", "ts"]).reset_index(drop=True)
    )
    exp_frames = []
    for sym, g in tick_pdf.groupby("symbol"):
        r = g.set_index("ts").resample("5min").agg(
            open=("price", "first"), high=("price", "max"),
            low=("price", "min"), close=("price", "last"),
            volume=("volume", "sum"),
        ).dropna()
        r["symbol"] = sym
        exp_frames.append(r.reset_index())
    exp = (pd.concat(exp_frames).sort_values(["symbol", "ts"])
           .reset_index(drop=True))
    assert len(got) == len(exp)
    for c in ["open", "high", "low", "close", "volume"]:
        np.testing.assert_allclose(got[c], exp[c], rtol=1e-12)
    assert (got["ts"].values == exp["ts"].values).all()


def test_resample_ohlcv_downsample(spark, tick_sdf):
    b5 = bars.ticks_to_ohlcv(tick_sdf, "5min", tiebreaker="seq")
    b15 = bars.resample_ohlcv(b5, "15min").toPandas()
    b15_direct = bars.ticks_to_ohlcv(tick_sdf, "15min", tiebreaker="seq").toPandas()
    m = b15.merge(b15_direct, on=["symbol", "ts"], suffixes=("", "_d"))
    assert len(m) == len(b15_direct)
    for c in ["open", "high", "low", "close", "volume"]:
        np.testing.assert_allclose(m[c], m[f"{c}_d"], rtol=1e-12)


def test_dedup_keep_first_last(spark):
    pdf = pd.DataFrame({
        "ts": pd.date_range("2024-01-01", periods=8, freq="1min"),
        "symbol": ["A"] * 8,
        "k": [1, 1, 2, 2, 2, 3, 4, 4],
        "v": [10, 11, 20, 21, 22, 30, 40, 41],
    })
    sdf = spark.createDataFrame(pdf).repartition(3)
    first = cleaner.deduplicate(sdf, ["k"], keep="first", order_col="ts")
    last = cleaner.deduplicate(sdf, ["k"], keep="last", order_col="ts")
    none = cleaner.deduplicate(sdf, ["k"], keep=False)
    assert sorted(r.v for r in first.collect()) == [10, 20, 30, 40]
    assert sorted(r.v for r in last.collect()) == [11, 22, 30, 41]
    assert sorted(r.v for r in none.collect()) == [30]


def test_iqr_outliers_match_pandas(spark, tick_pdf, tick_sdf):
    got = cleaner.remove_outliers_iqr(tick_sdf, "price", k=1.5).count()
    q1, q3 = tick_pdf["price"].quantile([0.25, 0.75])
    iqr = q3 - q1
    exp = tick_pdf[(tick_pdf.price >= q1 - 1.5 * iqr)
                   & (tick_pdf.price <= q3 + 1.5 * iqr)]
    assert got == len(exp)


def test_zscore_outliers_match_pandas(spark, tick_pdf, tick_sdf):
    got = cleaner.remove_outliers_zscore(tick_sdf, "price", k=2.0).count()
    mu, sd = tick_pdf["price"].mean(), tick_pdf["price"].std(ddof=1)
    exp = tick_pdf[np.abs(tick_pdf.price - mu) / sd < 2.0]
    assert got == len(exp)


def test_validate_prices_split(spark, tick_sdf):
    valid, invalid = cleaner.validate_prices(tick_sdf, "price", 90.0, 120.0)
    n_valid, n_invalid, n = valid.count(), invalid.count(), tick_sdf.count()
    assert n_valid + n_invalid == n
    assert valid.filter((F.col("price") < 90) | (F.col("price") > 120)).count() == 0


def test_gapfill_ffill_matches_pandas(spark):
    ts = pd.to_datetime(["2024-01-01 00:00", "2024-01-01 00:01",
                         "2024-01-01 00:04", "2024-01-01 00:06"])
    pdf = pd.DataFrame({"ts": ts, "symbol": "A", "v": [1.0, 2.0, 3.0, 4.0]})
    sdf = spark.createDataFrame(pdf)
    got = (cleaner.fill_missing_timestamps(sdf, 60, "ffill", value_cols=["v"])
           .toPandas().sort_values("ts"))
    exp = (pdf.set_index("ts").reindex(
        pd.date_range(ts.min(), ts.max(), freq="1min"))["v"].ffill())
    np.testing.assert_allclose(got["v"].values, exp.values)


def test_gapfill_interpolate(spark):
    ts = pd.to_datetime(["2024-01-01 00:00", "2024-01-01 00:03"])
    pdf = pd.DataFrame({"ts": ts, "symbol": "A", "v": [1.0, 4.0]})
    sdf = spark.createDataFrame(pdf)
    got = (cleaner.fill_missing_timestamps(sdf, 60, "interpolate",
                                           value_cols=["v"])
           .toPandas().sort_values("ts"))
    np.testing.assert_allclose(got["v"].values, [1.0, 2.0, 3.0, 4.0])


def _bars_pdf(tick_pdf):
    frames = []
    for sym, g in tick_pdf.groupby("symbol"):
        r = g.set_index("ts").resample("5min").agg(
            close=("price", "last")).dropna()
        r["symbol"] = sym
        frames.append(r.reset_index())
    return pd.concat(frames, ignore_index=True)


def test_rolling_signals_nan_warmup(spark, tick_pdf, tick_sdf):
    """Mean-reversion signal must equal the reference's pandas rolling logic
    including NaN warm-up -> signal 0 (strategy.py:69-111)."""
    b = bars.ticks_to_ohlcv(tick_sdf, "5min", tiebreaker="seq")
    got = (signals.mean_reversion_signal(b, n=20, num_std=2.0)
           .select("symbol", "ts", "signal").toPandas()
           .sort_values(["symbol", "ts"]).reset_index(drop=True))
    exp_frames = []
    for sym, g in _bars_pdf(tick_pdf).groupby("symbol"):
        g = g.sort_values("ts").reset_index(drop=True)
        ma = g["close"].rolling(20).mean()
        sd = g["close"].rolling(20).std()
        z = (g["close"] - ma) / sd
        sig = pd.Series(0, index=g.index)
        sig[z < -2.0] = 1
        sig[z > 2.0] = -1
        exp_frames.append(pd.DataFrame({"symbol": sym, "ts": g["ts"],
                                        "signal": sig}))
    exp = (pd.concat(exp_frames).sort_values(["symbol", "ts"])
           .reset_index(drop=True))
    assert (got["signal"].values == exp["signal"].values).all()


def test_ma_cross_matches_pandas(spark, tick_pdf, tick_sdf):
    b = bars.ticks_to_ohlcv(tick_sdf, "5min", tiebreaker="seq")
    got = (signals.ma_cross_signal(b, fast=5, slow=20)
           .select("symbol", "ts", "signal").toPandas()
           .sort_values(["symbol", "ts"]).reset_index(drop=True))
    exp_frames = []
    for sym, g in _bars_pdf(tick_pdf).groupby("symbol"):
        g = g.sort_values("ts").reset_index(drop=True)
        f_ = g["close"].rolling(5).mean()
        s_ = g["close"].rolling(20).mean()
        sig = (f_ > s_).astype(int)
        exp_frames.append(pd.DataFrame({"symbol": sym, "signal": sig}))
    exp = pd.concat(exp_frames).reset_index(drop=True)
    assert (got["signal"].values == exp["signal"].values).all()


def test_backtest_kernel_matches_reference_dataflow(spark, tick_pdf, tick_sdf):
    """The 9-step kernel vs a literal pandas transcription of
    portfolio.py:169-220 (including cumprod equity)."""
    b = bars.ticks_to_ohlcv(tick_sdf, "5min", tiebreaker="seq")
    sig = signals.mean_reversion_signal(b, n=20, num_std=1.5)
    got = (backtest.backtest_signals(sig, commission=0.001, slippage=0.0005,
                                     initial_cash=100000.0)
           .toPandas().sort_values(["symbol", "ts"]).reset_index(drop=True))

    for sym, g in got.groupby("symbol"):
        g = g.sort_values("ts").reset_index(drop=True)
        positions = g["signal"].astype(float)
        trades = positions.diff().fillna(positions)
        returns = g["price"].pct_change().fillna(0)
        strat = positions.shift(1).fillna(0) * returns
        costs = trades.abs() * 0.0015
        net = strat - costs
        equity = (1 + net).cumprod() * 100000.0
        np.testing.assert_allclose(g["trade"], trades, atol=1e-12)
        np.testing.assert_allclose(g["returns"], returns, rtol=1e-12)
        np.testing.assert_allclose(g["strategy_returns"], strat, atol=1e-12)
        np.testing.assert_allclose(g["net_returns"], net, atol=1e-12)
        np.testing.assert_allclose(g["equity"], equity, rtol=1e-9)


def test_metrics_against_pandas_formulas(spark):
    rng = np.random.default_rng(42)
    n = 252
    net = rng.normal(0.0005, 0.01, n)
    pdf = pd.DataFrame({
        "ts": pd.date_range("2024-01-01", periods=n, freq="1D"),
        "symbol": "A",
        "net_returns": net,
        "position": rng.choice([0.0, 1.0, -1.0], n),
    })
    pdf["equity"] = (1 + pdf.net_returns).cumprod() * 100000.0
    m = metrics_ops.compute_metrics(
        spark.createDataFrame(pdf).repartition(3)
    ).collect()[0]

    r = pdf.net_returns
    tr = (1 + r).prod() - 1
    assert abs(m.total_return - tr) < 1e-9
    vol = r.std(ddof=1) * np.sqrt(252)
    assert abs(m.volatility - vol) < 1e-9
    ex = r - 0.02 / 252
    sharpe = ex.mean() / ex.std(ddof=1) * np.sqrt(252)
    assert abs(m.sharpe_ratio - sharpe) < 1e-9
    eq = pdf.equity
    dd = ((eq - eq.cummax()) / eq.cummax()).min()
    assert abs(m.max_drawdown - dd) < 1e-9
    wins = (r > 0).sum()
    assert abs(m.win_rate - wins / (r != 0).sum()) < 1e-12
    pf = r[r > 0].sum() / abs(r[r < 0].sum())
    assert abs(m.profit_factor - pf) < 1e-9
    # streaks vs the reference's groupby-cumsum islands idiom
    flag = np.sign(r).astype(int)
    s = pd.Series(flag)
    grp = (s != s.shift()).cumsum()
    streaks = s.groupby(grp).cumcount() + 1
    assert m.max_consecutive_wins == streaks[s == 1].max()
    assert m.max_consecutive_losses == streaks[s == -1].max()


def test_metrics_sign_invariants(spark, tick_sdf):
    """Reference invariant tests (test_backtest_engine.py:241-266):
    max_drawdown <= 0, 0 <= win_rate <= 1, exposure in [0,1]."""
    b = bars.ticks_to_ohlcv(tick_sdf, "5min", tiebreaker="seq")
    sig = signals.momentum_signal(b, lookback=10, threshold=0.01)
    res = backtest.backtest_signals(sig)
    for m in metrics_ops.compute_metrics(res).collect():
        assert m.max_drawdown <= 0
        assert 0 <= m.win_rate <= 1
        assert 0 <= m.exposure <= 1
        assert m.num_trades >= 0


def test_streaks_and_drawdown_match_metrics(spark, tick_sdf):
    """consecutive_streaks and drawdown_series agree with the streak and
    drawdown columns compute_metrics folds into its single pass."""
    b = bars.ticks_to_ohlcv(tick_sdf, "5min", tiebreaker="seq")
    res = backtest.backtest_signals(
        signals.momentum_signal(b, lookback=10, threshold=0.01))
    m = {r.symbol: r for r in metrics_ops.compute_metrics(res).collect()}
    streaks = metrics_ops.consecutive_streaks(res).collect()
    dd = (metrics_ops.drawdown_series(res).groupBy("symbol")
          .agg(F.min("drawdown").alias("dd")).collect())
    assert len(m) > 1 and len(streaks) == len(dd) == len(m)
    for r in streaks:
        assert r.max_consecutive_wins == m[r.symbol].max_consecutive_wins
        assert r.max_consecutive_losses == m[r.symbol].max_consecutive_losses
    for r in dd:
        assert r.dd == m[r.symbol].max_drawdown
    # caller columns named like the internal staging columns pass through
    clash = res.withColumn("_dd", F.lit(-9.0)).withColumn("_flag", F.lit(7))
    assert {r.symbol: r for r in
            metrics_ops.compute_metrics(clash).collect()} == m
    assert sorted(metrics_ops.consecutive_streaks(clash).collect()) == \
        sorted(streaks)


def test_multi_asset_portfolio(spark, tick_sdf):
    b = bars.ticks_to_ohlcv(tick_sdf, "5min", tiebreaker="seq")
    sig = signals.buy_and_hold_signal(b)
    port = backtest.backtest_multi_asset(sig, initial_cash=100000.0).toPandas()
    assert {"ts", "strategy_returns", "costs", "net_returns", "equity"} <= set(
        port.columns
    )
    port = port.sort_values("ts")
    eq = (1 + port.net_returns).cumprod() * 100000.0
    np.testing.assert_allclose(port.equity, eq, rtol=1e-9)


def test_multi_asset_weights_and_signals(spark, tick_pdf, tick_sdf):
    """The reference API shape (portfolio.py backtest_multi_asset) passes
    prices, a SEPARATE signals frame, and explicit weights together — the
    weights branch must still left-join the signals (missing -> 0)."""
    b = bars.ticks_to_ohlcv(tick_sdf, "5min", tiebreaker="seq")
    sig_df = (
        signals.momentum_signal(b, lookback=10, threshold=0.01)
        .select("symbol", "ts", "signal")
    )
    weights = spark.createDataFrame(
        pd.DataFrame({"symbol": ["AAA", "BBB"], "weight": [0.7, 0.3]})
    )
    port = backtest.backtest_multi_asset(
        b.drop("signal") if "signal" in b.columns else b,
        signals=sig_df, weights=weights, initial_cash=100000.0,
    ).toPandas().sort_values("ts").reset_index(drop=True)

    # pandas expectation: per-symbol kernel with position = signal * weight
    bars_pd = b.toPandas()
    sig_pd = sig_df.toPandas()
    w_map = {"AAA": 0.7, "BBB": 0.3}
    per = []
    for sym, g in bars_pd.groupby("symbol"):
        g = g.sort_values("ts").reset_index(drop=True)
        s = sig_pd[sig_pd.symbol == sym].set_index("ts")["signal"]
        g["signal"] = g["ts"].map(s).fillna(0)
        pos = g["signal"] * w_map[sym]
        trade = pos.diff().fillna(pos)
        rets = g["close"].pct_change().fillna(0)
        strat = pos.shift(1).fillna(0) * rets
        costs = trade.abs() * (0.001 + 0.0005)
        per.append(pd.DataFrame({
            "ts": g["ts"], "strategy_returns": strat, "costs": costs,
        }))
    exp = (
        pd.concat(per).groupby("ts", as_index=False).sum()
        .sort_values("ts").reset_index(drop=True)
    )
    exp["net_returns"] = exp.strategy_returns - exp.costs
    exp["equity"] = (1 + exp.net_returns).cumprod() * 100000.0
    np.testing.assert_allclose(port.strategy_returns, exp.strategy_returns,
                               rtol=1e-9, atol=1e-12)
    np.testing.assert_allclose(port.costs, exp.costs, rtol=1e-9, atol=1e-12)
    np.testing.assert_allclose(port.equity, exp.equity, rtol=1e-9)


def test_first_bar_costs_charged(spark):
    """Pinned intentional divergence from pandas (see backtest.py module
    docstring): a nonzero signal on the very first bar pays its entry cost,
    so equity[0] = cash * (1 - cost_rate)."""
    pdf = pd.DataFrame({
        "symbol": "A",
        "ts": pd.date_range("2024-01-01", periods=4, freq="1h"),
        "close": [100.0, 101.0, 102.0, 103.0],
        "signal": [1, 1, 1, 1],
    })
    res = (
        backtest.backtest_signals(spark.createDataFrame(pdf),
                                  initial_cash=1000.0)
        .toPandas().sort_values("ts").reset_index(drop=True)
    )
    rate = 0.001 + 0.0005
    assert res.costs.iloc[0] == pytest.approx(rate)
    assert res.equity.iloc[0] == pytest.approx(1000.0 * (1 - rate))


def test_fractional_signal_not_truncated(spark):
    """backtest_signals must not truncate a fractional signal column
    (the old int cast reported signal=0 for signal=0.5)."""
    pdf = pd.DataFrame({
        "symbol": "A",
        "ts": pd.date_range("2024-01-01", periods=3, freq="1h"),
        "close": [100.0, 110.0, 99.0],
        "signal": [0.5, -0.25, 0.5],
    })
    res = (
        backtest.backtest_signals(spark.createDataFrame(pdf))
        .toPandas().sort_values("ts").reset_index(drop=True)
    )
    np.testing.assert_allclose(res.signal, [0.5, -0.25, 0.5])
    np.testing.assert_allclose(res.position, [0.5, -0.25, 0.5])


def test_operator_construction_is_lazy(spark, tick_sdf):
    """Building a multi-asset or event-driven plan must not fire an eager
    Spark job (the old code ran distinct().count() at construction)."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import orderbook

    b = bars.ticks_to_ohlcv(tick_sdf, "5min", tiebreaker="seq")
    sig = signals.buy_and_hold_signal(b)
    sc = spark.sparkContext
    sc.setJobGroup("lazy-check", "construction must not run jobs")
    try:
        backtest.backtest_multi_asset(sig, initial_cash=100000.0)
        orderbook.event_driven_backtest(sig)
        job_ids = sc.statusTracker().getJobIdsForGroup("lazy-check")
    finally:
        sc.setJobGroup("other", "")
    assert list(job_ids) == []


def test_rsi_flat_prices_null_not_100(spark):
    """pandas 0/0 rolling gain/loss gives NaN — a constant-price stretch
    must yield NULL RSI, not 100 (ADVICE parity fix)."""
    pdf = pd.DataFrame({
        "symbol": "A",
        "ts": pd.date_range("2024-01-01", periods=40, freq="1h"),
        "close": [100.0] * 40,
    })
    res = signals.with_rsi(spark.createDataFrame(pdf), 14).toPandas()
    assert res.rsi.isna().all()

    # loss == 0 with gain > 0 still pins RSI = 100 (pandas inf path)
    pdf2 = pd.DataFrame({
        "symbol": "A",
        "ts": pd.date_range("2024-01-01", periods=40, freq="1h"),
        "close": np.arange(40, dtype=float) + 100.0,
    })
    res2 = (signals.with_rsi(spark.createDataFrame(pdf2), 14)
            .toPandas().sort_values("ts"))
    assert (res2.rsi.iloc[15:] == 100.0).all()
