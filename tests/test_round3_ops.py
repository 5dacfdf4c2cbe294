"""Round-3 operators: corporate-action adjustment, Hurst exponent,
deterministic k-means, and MMR diverse selection — each checked against an
independent numpy/pure-Python replica on synthetic frames (the DuckDB
differential twin lives in test_oracle via q131-q134)."""

from __future__ import annotations

import datetime as dt
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
    corporate,
    factors,
    similarity,
)


def _ts(day: int) -> dt.datetime:
    return dt.datetime(2024, 1, day)


# ------------------------------------------------------------- corporate


def test_split_adjustment_halves_pre_split_bars(spark):
    bars = spark.createDataFrame(
        [("A", _ts(1), 100.0), ("A", _ts(2), 102.0), ("A", _ts(3), 51.0),
         ("B", _ts(1), 10.0), ("B", _ts(2), 11.0)],
        "symbol string, ts timestamp, close double",
    )
    splits = spark.createDataFrame(
        [("A", _ts(3), 2.0)], "symbol string, effective_ts timestamp, ratio double"
    )
    out = {
        (r["symbol"], r["ts"].day): (r["factor"], r["adj_close"])
        for r in corporate.adjust_for_splits(bars, splits).collect()
    }
    # strictly before the effective instant -> divided by 2
    assert out[("A", 1)][0] == pytest.approx(2.0)
    assert out[("A", 1)][1] == pytest.approx(50.0)
    assert out[("A", 2)][1] == pytest.approx(51.0)
    # bar AT the effective instant is already post-split
    assert out[("A", 3)][0] == pytest.approx(1.0)
    assert out[("A", 3)][1] == pytest.approx(51.0)
    # untouched symbol
    assert out[("B", 1)][0] == pytest.approx(1.0)
    assert out[("B", 2)][1] == pytest.approx(11.0)


def test_split_factors_compound(spark):
    bars = spark.createDataFrame(
        [("A", _ts(1), 400.0), ("A", _ts(5), 100.0)],
        "symbol string, ts timestamp, close double",
    )
    splits = spark.createDataFrame(
        [("A", _ts(2), 2.0), ("A", _ts(4), 2.0)],
        "symbol string, effective_ts timestamp, ratio double",
    )
    out = {r["ts"].day: r["adj_close"]
           for r in corporate.adjust_for_splits(bars, splits).collect()}
    assert out[1] == pytest.approx(100.0)   # 400 / (2*2)
    assert out[5] == pytest.approx(100.0)


def test_dividend_adjustment_proportional_factor(spark):
    bars = spark.createDataFrame(
        [("A", _ts(1), 100.0), ("A", _ts(3), 99.0)],
        "symbol string, ts timestamp, close double",
    )
    divs = spark.createDataFrame(
        [("A", _ts(2), 1.0)], "symbol string, ex_ts timestamp, amount double"
    )
    out = {r["ts"].day: (r["div_factor"], r["adj_close"])
           for r in corporate.adjust_for_dividends(bars, divs).collect()}
    # prev close 100, amount 1 -> factor 0.99 applied to earlier bars only
    assert out[1][0] == pytest.approx(0.99)
    assert out[1][1] == pytest.approx(99.0)
    assert out[3][0] == pytest.approx(1.0)


def test_dividend_without_prior_close_skipped(spark):
    bars = spark.createDataFrame(
        [("A", _ts(5), 50.0)], "symbol string, ts timestamp, close double"
    )
    divs = spark.createDataFrame(
        [("A", _ts(2), 1.0)], "symbol string, ex_ts timestamp, amount double"
    )
    row = corporate.adjust_for_dividends(bars, divs).collect()[0]
    assert row["div_factor"] == pytest.approx(1.0)


# ----------------------------------------------------------------- hurst


def _numpy_hurst(closes: np.ndarray, scales=(8, 16, 32)) -> float:
    r = np.diff(np.log(closes))
    pts = []
    for n in scales:
        rss = []
        for b in range(len(r) // n):
            blk = r[b * n:(b + 1) * n]
            dev = np.cumsum(blk - blk.mean())
            s = blk.std()  # population
            if s > 0:
                rss.append((dev.max() - dev.min()) / s)
        if rss:
            pts.append((math.log(n), math.log(float(np.mean(rss)))))
    x = np.array([p[0] for p in pts])
    y = np.array([p[1] for p in pts])
    xc = x - x.mean()
    return float((xc * (y - y.mean())).sum() / (xc * xc).sum())


def _bars_df(spark, closes, symbol="A"):
    rows = [(symbol, dt.datetime(2024, 1, 1) + dt.timedelta(hours=i),
             float(c)) for i, c in enumerate(closes)]
    return spark.createDataFrame(
        rows, "symbol string, ts timestamp, close double"
    )


def test_hurst_matches_numpy_replica(spark):
    rng = np.random.default_rng(7)
    closes = 100.0 * np.exp(np.cumsum(rng.normal(0, 0.01, 200)))
    out = factors.hurst_exponent(_bars_df(spark, closes)).collect()
    assert len(out) == 1
    assert out[0]["hurst"] == pytest.approx(_numpy_hurst(closes), abs=1e-9)


def test_hurst_persistent_beats_alternating(spark):
    # AR(1) phi=0.9 returns -> persistent (high H); strict +/- alternation
    # -> anti-persistent (low H). A noiseless constant-return series is
    # degenerate (every block has S=0), hence the AR construction.
    rng = np.random.default_rng(23)
    r = np.zeros(256)
    for i in range(1, 256):
        r[i] = 0.9 * r[i - 1] + rng.normal(0, 0.01)
    pers = 100.0 * np.exp(np.cumsum(r))
    alt = 100.0 * np.exp(np.cumsum(np.tile([0.01, -0.01], 128)))
    h_pers = factors.hurst_exponent(
        _bars_df(spark, pers, "T")).collect()[0]["hurst"]
    h_alt = factors.hurst_exponent(
        _bars_df(spark, alt, "M")).collect()[0]["hurst"]
    assert h_pers > 0.6
    assert h_alt < 0.3
    assert h_pers > h_alt + 0.3


# ---------------------------------------------------------------- kmeans


def _emb_df(spark, vecs, labels=None):
    labels = labels or [0] * len(vecs)
    rows = [(i, [float(x) for x in v], int(l))
            for i, (v, l) in enumerate(zip(vecs, labels))]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def test_kmeans_fit_matches_numpy_lloyd(spark):
    rng = np.random.default_rng(11)
    centers = rng.normal(0, 5, (3, 8))
    vecs = np.concatenate(
        [c + rng.normal(0, 0.3, (20, 8)) for c in centers]
    ).astype(np.float32)
    df = _emb_df(spark, vecs)
    got = np.array(similarity.kmeans_fit(df, k=3, iterations=3))

    # numpy replica: same seeds (lowest ids), same update, ties impossible
    x = vecs.astype(np.float64)
    cents = x[:3].copy()
    for _ in range(3):
        d = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(3):
            if (assign == c).any():
                cents[c] = x[assign == c].mean(axis=0)
    assert np.allclose(got, cents, atol=1e-9)


def test_assign_clusters_is_nearest(spark):
    rng = np.random.default_rng(13)
    vecs = rng.normal(0, 1, (30, 4)).astype(np.float32)
    cents = [[1.0, 0.0, 0.0, 0.0], [-1.0, 0.0, 0.0, 0.0]]
    df = _emb_df(spark, vecs)
    out = similarity.assign_clusters(df, cents).collect()
    x = vecs.astype(np.float64)
    for r in out:
        d = [((x[r["vec_id"]] - np.array(c)) ** 2).sum() for c in cents]
        assert r["cell"] == int(np.argmin(d))
        assert r["d2"] == pytest.approx(min(d), rel=1e-9)


# ------------------------------------------------------------------- mmr


def test_mmr_matches_greedy_replica(spark):
    rng = np.random.default_rng(17)
    vecs = rng.normal(0, 1, (40, 6)).astype(np.float32)
    q = [float(x) for x in vecs[0]]
    df = _emb_df(spark, vecs)
    got = [(r["rank"], r["vec_id"])
           for r in similarity.mmr_select(df, q, k=5, lam=0.6, pool=40)
           .orderBy("rank").collect()]

    x = vecs.astype(np.float64)
    qv = np.array(q)

    def cos(a, b):
        return float(a @ b / math.sqrt((a @ a) * (b @ b)))

    rel = [cos(v, qv) for v in x]
    sel: list[int] = []
    for _ in range(5):
        best, best_s = None, None
        for i in range(len(x)):
            if i in sel:
                continue
            s = rel[i] if not sel else (
                0.6 * rel[i]
                - 0.4 * max(cos(x[i], x[j]) for j in sel)
            )
            if best_s is None or s > best_s + 1e-15 or (
                    abs(s - best_s) <= 1e-15 and i < best):
                best, best_s = i, s
        sel.append(best)
    assert got == [(k + 1, v) for k, v in enumerate(sel)]


def test_mmr_lam_zero_picks_spread(spark):
    # lam=0 ignores relevance after the first pick: with three tight
    # groups, the first two picks must come from different groups
    base = np.array([[1, 0, 0, 0], [0, 1, 0, 0], [0, 0, 1, 0]], dtype=float)
    vecs = np.concatenate(
        [b + 0.01 * np.eye(4)[3] * i for b in base for i in range(3)]
    ).reshape(9, 4).astype(np.float32)
    df = _emb_df(spark, vecs)
    out = similarity.mmr_select(
        df, [1.0, 0.0, 0.0, 0.0], k=2, lam=0.0, pool=9
    ).collect()
    groups = {r["vec_id"] // 3 for r in out}
    assert len(groups) == 2


# ------------------------------------------------------- lsmc / resolve


def test_lsmc_american_put_bounds(spark):
    """American put must price >= the Black-Scholes European put (early
    exercise is worth something with r > 0) and below the strike; a
    material fraction of paths must exercise early."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.functions import (
        derivatives as deriv,
    )

    s0 = k = 100.0
    r, sigma, t = 0.05, 0.2, 0.5
    row = deriv.lsmc_american(
        spark, sigma, s0=s0, k=k, r=r, t_y=t, n_steps=8, n_paths=4000
    ).first()
    d1 = (math.log(s0 / k) + (r + sigma * sigma / 2) * t) / (
        sigma * math.sqrt(t))
    d2 = d1 - sigma * math.sqrt(t)

    def ncdf(x):
        return 0.5 * (1.0 + math.erf(x / math.sqrt(2.0)))

    euro_put = k * math.exp(-r * t) * ncdf(-d2) - s0 * ncdf(-d1)
    # MC noise at 4000 paths ~ 0.1; the early premium at these params is
    # small, so allow the noise band downward but require the order
    assert row["price"] > euro_put - 0.25
    assert row["price"] < k
    assert 0.0 < row["early_frac"] < 1.0
    assert row["n_paths"] == 4000


def test_lsmc_deep_itm_exercises_now(spark):
    """A put struck far above spot should exercise almost immediately on
    effectively every path (continuation can't beat intrinsic)."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.functions import (
        derivatives as deriv,
    )

    row = deriv.lsmc_american(
        spark, 0.1, s0=50.0, k=100.0, r=0.05, t_y=0.5,
        n_steps=8, n_paths=500,
    ).first()
    assert row["early_frac"] > 0.99
    # exercised at step 1 -> price ~ intrinsic discounted one step
    assert row["price"] == pytest.approx(
        50.0 * math.exp(-0.05 * 0.5 / 8), rel=0.05)


def test_resolve_duplicates_elects_longest(spark):
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
        dedup,
    )

    docs = spark.createDataFrame(
        [(1, 50), (2, 80), (3, 80), (4, 10)], "doc_id long, n_chars long"
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4)], "doc_id long, cluster long"
    )
    out = {r["doc_id"]: (r["is_canonical"], r["n_members"])
           for r in dedup.resolve_duplicates(docs, clusters).collect()}
    assert out[2] == (1, 3)   # longest, lowest id among the 80-tie
    assert out[3] == (0, 3)
    assert out[1] == (0, 3)
    assert out[4] == (1, 1)   # singleton keeps itself


# ---------------------------------------------------------------- kalman


def test_kalman_hedge_converges_to_true_ratio(spark):
    import numpy as np
    rng = np.random.default_rng(29)
    x = 100.0 + np.cumsum(rng.normal(0, 0.5, 120))
    y = 1.5 * x + rng.normal(0, 0.2, 120)
    rows = [("P", dt.datetime(2024, 1, 1) + dt.timedelta(days=i),
             float(x[i]), float(y[i])) for i in range(120)]
    df = spark.createDataFrame(
        rows, "pair string, ts timestamp, x double, y double")
    out = factors.kalman_hedge(df).orderBy("ts").collect()
    assert out[-1]["beta"] == pytest.approx(1.5, abs=0.02)
    # posterior variance must shrink monotonically-ish from the prior
    assert out[-1]["p"] < out[0]["p"]
    # spread uses the post-update beta
    last = out[-1]
    assert last["spread"] == pytest.approx(
        y[-1] - last["beta"] * x[-1], abs=1e-9)


def test_kalman_hedge_pairs_run_independently(spark):
    rows = []
    for pair, slope in (("A", 2.0), ("B", -1.0)):
        for i in range(60):
            xv = 50.0 + i
            rows.append((pair, dt.datetime(2024, 1, 1)
                         + dt.timedelta(days=i), xv, slope * xv))
    df = spark.createDataFrame(
        rows, "pair string, ts timestamp, x double, y double")
    out = factors.kalman_hedge(df)
    finals = {r["pair"]: r["beta"] for r in out.withColumn(
        "rn", F.row_number().over(
            __import__("pyspark.sql.window", fromlist=["Window"])
            .Window.partitionBy("pair").orderBy(F.desc("ts")))
    ).where("rn = 1").collect()}
    assert finals["A"] == pytest.approx(2.0, abs=0.01)
    assert finals["B"] == pytest.approx(-1.0, abs=0.01)


# ----------------------------------------------------------------- garch


def test_garch_unroll_equals_recursion(spark):
    """garch_volatility's closed-form window unroll must reproduce the
    plain GARCH(1,1) recursion h_1 = vbar, h_t = omega + alpha*r_{t-1}^2
    + beta*h_{t-1}."""
    import numpy as np

    from build_a_market_data_etl_strategy_backtesting_engine_spark.functions import (
        ewm,
    )

    rng = np.random.default_rng(31)
    closes = 100.0 * np.exp(np.cumsum(rng.normal(0, 0.02, 80)))
    df = _bars_df(spark, closes)
    # caller columns named like the operator's staging columns must not
    # collide with them (AMBIGUOUS_REFERENCE)
    clash = df.selectExpr("*", "1 AS i", "2.0 AS vbar", "3.0 AS bpow",
                          "4.0 AS ipow", "5 AS _i", "6.0 AS _vbar",
                          "7.0 AS _bpow")
    r = np.diff(closes) / closes[:-1]
    vbar = float(np.var(r, ddof=1))
    # beta = 0 is ARCH(1): there is no 1/beta to multiply by
    for bars, alpha, beta in ((df, 0.08, 0.90), (clash, 0.08, 0.90),
                              (df, 0.10, 0.0)):
        out = ewm.garch_volatility(bars, alpha=alpha, beta=beta) \
            .orderBy("ts").collect()
        assert len(out) == len(r)
        omega = vbar * (1 - alpha - beta)
        h = vbar
        for k, row in enumerate(out):
            if k > 0:
                h = omega + alpha * r[k - 1] ** 2 + beta * h
            assert row["garch_var"] == pytest.approx(h, rel=1e-9), k
            assert row["garch_vol_ann"] == pytest.approx(
                (h * 252) ** 0.5, rel=1e-9)
    for bad in ({"alpha": -0.1}, {"beta": -0.5}, {"beta": 1.5},
                {"alpha": 0.5, "beta": 0.6}):
        with pytest.raises(ValueError, match=next(iter(bad))):
            ewm.garch_volatility(df, **bad)

    # a symbol with 2 bars has one return and no sample variance (n - 1
    # = 0): its rows get NULL h instead of failing the query with
    # DIVIDE_BY_ZERO under ANSI mode, and the other symbols are unchanged
    four = _bars_df(spark, [100.0, 101.0, 99.5, 102.0], symbol="F")
    both = four.unionByName(_bars_df(spark, [50.0, 51.0], symbol="T"))
    cols = ["symbol", "ts", "r", "garch_var", "garch_vol_ann"]
    got = ewm.garch_volatility(both).orderBy("symbol", "ts").collect()
    alone = ewm.garch_volatility(four).orderBy("ts").collect()
    assert [tuple(x[c] for c in cols) for x in got[:3]] == \
        [tuple(x[c] for c in cols) for x in alone]
    (two,) = got[3:]
    assert two["symbol"] == "T" and two["r"] == pytest.approx(0.02)
    assert two["garch_var"] is None and two["garch_vol_ann"] is None


# -------------------------------------------------------- triple barrier


def test_triple_barrier_semantics(spark):
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
        ml,
    )

    # closes: 100 -> +3% at k=2 (PT first), then a crash path, then flat
    closes = [100.0, 101.0, 103.5, 96.0, 95.0, 95.5, 95.2, 95.1,
              95.05, 95.02, 95.0, 95.01]
    df = _bars_df(spark, closes)
    out = {r["ts"].hour + 24 * (r["ts"].day - 1): (r["label"], r["t_hit"])
           for r in ml.triple_barrier_labels(
               df, horizon=5, profit_take=0.02, stop_loss=0.02).collect()}
    # bar 0 (close 100): +3.5% at k=2 before any -2% -> PT
    assert out[0] == (1, 2)
    # bar 1 (close 101): 103.5 is +2.47% at k=1 -> PT immediately
    assert out[1] == (1, 1)
    # bar 2 (close 103.5): 96 at k=1 is -7.2% -> SL
    assert out[2] == (-1, 1)
    # bar 5 (95.5): flat within ±2% for 5 bars -> timeout
    assert out[5] == (0, 5)
    # bars with fewer than 5 future closes are dropped
    assert max(out) == len(closes) - 6


def test_triple_barrier_requires_full_horizon(spark):
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
        ml,
    )

    df = _bars_df(spark, [100.0, 100.5, 101.0])
    assert ml.triple_barrier_labels(df, horizon=5).count() == 0


# --------------------------------------------------- avellaneda-stoikov


def test_avellaneda_stoikov_quote_geometry(spark):
    import numpy as np

    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
        microstructure,
    )

    # one session: prices on a 0.01 grid, strictly rising -> inventory
    # grows positive and the reservation price is skewed BELOW mid
    closes = [round(100.0 + 0.05 * i, 2) for i in range(24)]
    df = _bars_df(spark, closes)
    out = microstructure.avellaneda_stoikov_quotes(
        df, gamma=0.1, kappa=1.5, tick_size=0.01
    ).orderBy("ts").collect()
    assert len(out) == 24
    r = np.diff(closes)
    vbar = float(np.var(r, ddof=1))
    for i, row in enumerate(out):
        assert row["inventory"] == i  # rising closes -> +1 each bar
        assert row["spread"] > 0
        assert row["bid"] < row["ask"]
        tau = (24 - (i + 1)) / 24
        assert row["reservation"] == pytest.approx(
            closes[i] - row["inventory"] * 0.1 * vbar * tau, rel=1e-9)
        # sigma^2 from integer ticks equals the float sample variance
        # exactly on grid-aligned data
    # last bar of the session: tau = 0 -> reservation back at mid
    assert out[-1]["reservation"] == pytest.approx(closes[-1])
