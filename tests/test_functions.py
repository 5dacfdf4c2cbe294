"""Tests for the scalar function libraries: Black-Scholes (the reference's
strongest test suite, test_derivatives.py), erf accuracy, EWM pandas parity,
and the feed normalizer cases from test_etl_pipeline.py."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import Row, Window
from pyspark.sql import functions as F

from build_a_market_data_etl_strategy_backtesting_engine_spark.functions import (
    derivatives as deriv,
    ewm as ewm_fns,
    mathx,
)
from build_a_market_data_etl_strategy_backtesting_engine_spark.sources.normalizer import (
    normalize_quotes,
    normalize_trades,
)


def test_erf_accuracy(spark):
    xs = np.linspace(-4, 4, 201)
    df = spark.createDataFrame([(float(x),) for x in xs], "x double")
    got = df.select(mathx.erf(F.col("x")).alias("e")).toPandas()["e"].values
    exp = np.array([math.erf(x) for x in xs])
    assert np.abs(got - exp).max() < 1.5e-7


def _bs_frame(spark):
    rows = []
    for s in [80.0, 100.0, 120.0]:
        for t in [0.1, 0.5, 1.0]:
            for sig in [0.1, 0.3]:
                rows.append((s, 100.0, t, sig, 0.05))
    return spark.createDataFrame(rows, "s double, k double, t double, sigma double, r double")


def test_put_call_parity(spark):
    """C - P = S - K*e^{-rT} to 1e-9 (test_derivatives.py:81-97) — holds
    exactly because our N(x)+N(-x) == 1 by construction."""
    df = _bs_frame(spark)
    out = df.select(
        (deriv.bs_call(F.col("s"), F.col("k"), F.col("t"), F.col("sigma"), F.col("r"))
         - deriv.bs_put(F.col("s"), F.col("k"), F.col("t"), F.col("sigma"), F.col("r"))
         - (F.col("s") - F.col("k") * F.exp(-F.col("r") * F.col("t"))))
        .alias("gap")
    ).toPandas()
    assert np.abs(out["gap"]).max() < 1e-9


def test_greek_bounds(spark):
    """delta_call in [0,1], delta_put in [-1,0], gamma > 0, vega > 0
    (test_derivatives.py:99-143)."""
    df = _bs_frame(spark)
    out = df.select(
        deriv.bs_delta(F.col("s"), F.col("k"), F.col("t"), F.col("sigma"),
                       F.col("r"), call=True).alias("dc"),
        deriv.bs_delta(F.col("s"), F.col("k"), F.col("t"), F.col("sigma"),
                       F.col("r"), call=False).alias("dp"),
        deriv.bs_gamma(F.col("s"), F.col("k"), F.col("t"), F.col("sigma"),
                       F.col("r")).alias("g"),
        deriv.bs_vega(F.col("s"), F.col("k"), F.col("t"), F.col("sigma"),
                      F.col("r")).alias("v"),
    ).toPandas()
    assert ((out.dc >= 0) & (out.dc <= 1)).all()
    assert ((out.dp >= -1) & (out.dp <= 0)).all()
    assert (out.g > 0).all()
    assert (out.v > 0).all()


def test_itm_call_at_least_intrinsic(spark):
    """ITM option >= intrinsic value (test_derivatives.py:52-65)."""
    df = spark.createDataFrame([(120.0, 100.0, 0.5, 0.2, 0.05)],
                               "s double, k double, t double, sigma double, r double")
    c = df.select(deriv.bs_call(F.col("s"), F.col("k"), F.col("t"),
                                F.col("sigma"), F.col("r")).alias("c")).collect()[0].c
    assert c >= 20.0


def test_ewm_pandas_parity(spark):
    rng = np.random.default_rng(7)
    n = 300
    pdf = pd.DataFrame({
        "ts": pd.date_range("2024-01-01", periods=n, freq="1h"),
        "symbol": "A",
        "close": 100 + np.cumsum(rng.normal(0, 1, n)),
    })
    sdf = spark.createDataFrame(pdf).repartition(3)
    got = (ewm_fns.ewm_mean(sdf, span=12, value_col="close")
           .toPandas().sort_values("ts").reset_index(drop=True))
    exp = pdf["close"].ewm(span=12, adjust=True).mean()
    np.testing.assert_allclose(got["ewm"], exp, rtol=1e-12)

    # closed-form expression twin agrees with pandas to 1e-9
    w = Window.partitionBy("symbol").orderBy("ts")
    got2 = (sdf.withColumn("e", ewm_fns.ewm_mean_expr("close", 12, w))
            .toPandas().sort_values("ts").reset_index(drop=True))
    np.testing.assert_allclose(got2["e"], exp, rtol=1e-9)


def test_macd_pandas_parity(spark):
    rng = np.random.default_rng(9)
    n = 200
    pdf = pd.DataFrame({
        "ts": pd.date_range("2024-01-01", periods=n, freq="1h"),
        "symbol": "A",
        "close": 100 + np.cumsum(rng.normal(0, 1, n)),
    })
    sdf = spark.createDataFrame(pdf).repartition(2)
    got = (ewm_fns.macd(sdf).toPandas().sort_values("ts")
           .reset_index(drop=True))
    fast = pdf["close"].ewm(span=12, adjust=True).mean()
    slow = pdf["close"].ewm(span=26, adjust=True).mean()
    macd_line = fast - slow
    sig = macd_line.ewm(span=9, adjust=True).mean()
    np.testing.assert_allclose(got["macd"], macd_line, rtol=1e-10, atol=1e-12)
    np.testing.assert_allclose(got["macd_signal"], sig, rtol=1e-10, atol=1e-12)


# --------------------------------------------------------------- normalizer

def _normalize_one(spark, payload: str):
    df = spark.createDataFrame([Row(value=payload)])
    return normalize_trades(df).collect()


def test_normalizer_basic(spark):
    rows = _normalize_one(
        spark, '{"timestamp": 1700000000, "symbol": "AAPL", "price": 150.5, "volume": 10}'
    )
    assert len(rows) == 1
    r = rows[0]
    assert r.symbol == "AAPL" and r.price == 150.5 and r.volume == 10.0
    assert r.ts.year == 2023  # unix seconds path


def test_normalizer_iso_timestamp(spark):
    """ISO-8601 strings take the to_timestamp path; the numeric probe
    must not raise under ANSI mode."""
    df = spark.createDataFrame([Row(
        value='{"timestamp": "2026-10-17T00:23:42.856Z", "symbol": "AAPL",'
              ' "price": 150.5}')])
    rows = normalize_trades(df).select(
        F.unix_micros("ts").alias("us"), "symbol").collect()
    assert len(rows) == 1 and rows[0].symbol == "AAPL"
    assert rows[0].us == 1792196622856000


def test_normalizer_nested_aliases_ms(spark):
    rows = _normalize_one(
        spark, '{"data": {"t": 1700000000123, "s": "MSFT", "p": "370.1", "v": 5}}'
    )
    assert len(rows) == 1
    r = rows[0]
    assert r.symbol == "MSFT" and r.price == 370.1
    assert r.ts.microsecond == 123000  # unix millis path


def test_normalizer_drops_invalid(spark):
    """Missing symbol or price -> row dropped (normalizer.py:41-51);
    malformed JSON dropped too."""
    assert _normalize_one(spark, '{"price": 1.0}') == []
    assert _normalize_one(spark, '{"symbol": "X"}') == []
    assert _normalize_one(spark, "not json{{") == []


def test_normalizer_volume_default_zero(spark):
    rows = _normalize_one(spark, '{"symbol": "X", "price": 2.5, "timestamp": 1700000000}')
    assert rows[0].volume == 0.0


def test_normalize_quotes(spark):
    df = spark.createDataFrame(
        [Row(value='{"symbol": "AAPL", "bid": 99.5, "ask": 100.5, '
                   '"bs": 10, "as": 12, "timestamp": 1700000000}')]
    )
    r = normalize_quotes(df).collect()[0]
    assert r.bid_price == 99.5 and r.ask_price == 100.5
    assert r.bid_size == 10.0 and r.ask_size == 12.0


def test_generator_partition_invariance(spark):
    """Seeded generator must produce identical rows regardless of
    parallelism (hash-derived randomness, not F.rand)."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.sources.generator import (
        generate_mock_ticks,
    )

    a = generate_mock_ticks(spark, {"AAPL": 100.0}, n_ticks=500,
                            num_partitions=1).toPandas().sort_values("seq")
    b = generate_mock_ticks(spark, {"AAPL": 100.0}, n_ticks=500,
                            num_partitions=7).toPandas().sort_values("seq")
    np.testing.assert_allclose(a["price"].values, b["price"].values, rtol=1e-12)
    np.testing.assert_allclose(a["volume"].values, b["volume"].values)


def test_normalizer_reject_side_channel(spark):
    from build_a_market_data_etl_strategy_backtesting_engine_spark.sources.normalizer import (
        normalize_trades_with_rejects,
    )

    df = spark.createDataFrame(
        [Row(value='{"s": "A", "p": 1.5, "t": 1700000000}'),
         Row(value="broken{{"),
         Row(value='{"s": "B"}')])
    ok, bad = normalize_trades_with_rejects(df)
    assert ok.count() == 1 and bad.count() == 2
    assert ok.first().symbol == "A"


def test_iqr_approx_scale_path(spark):
    import pandas as pd

    rng = np.random.default_rng(1)
    pdf = pd.DataFrame({"price": rng.normal(100, 10, 20000)})
    sdf = spark.createDataFrame(pdf)
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators.cleaner import (
        remove_outliers_iqr,
    )

    exact = remove_outliers_iqr(sdf, "price", k=1.5).count()
    approx = remove_outliers_iqr(sdf, "price", k=1.5, approx=True).count()
    # sketch bounds shift the fence by <= rank error; counts nearly agree
    assert abs(exact - approx) <= 20000 * 0.005


def test_option_strategy_payoff_identities(spark):
    """Ports /root/reference/tests/test_derivatives.py:148-233: covered-call
    stock value, straddle cost = call + put, condor max_profit = net_credit,
    plus a scipy-free sanity band on the premiums."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.functions import derivatives as deriv

    df = spark.range(1).select(F.lit(100.0).alias("s"))
    s = F.col("s")
    t, sig, r = F.lit(0.25), F.lit(0.20), F.lit(0.02)

    cc = deriv.covered_call(s, F.lit(105.0), t, sig, r, shares=100.0)
    pp = deriv.protective_put(s, F.lit(95.0), t, sig, r, shares=100.0)
    st = deriv.straddle(s, F.lit(100.0), t, sig, r, contracts=1.0)
    ic = deriv.iron_condor(s, F.lit(90.0), F.lit(95.0), F.lit(105.0),
                           F.lit(110.0), t, sig, r, contracts=1.0)
    row = df.select(
        *[c.alias("cc_" + n) for n, c in cc.items()],
        *[c.alias("pp_" + n) for n, c in pp.items()],
        *[c.alias("st_" + n) for n, c in st.items()],
        *[c.alias("ic_" + n) for n, c in ic.items()],
        deriv.futures_margin(F.lit(4500.0), F.lit(50.0), F.lit(2.0), 0.10)
        .alias("margin"),
        deriv.futures_margin(F.lit(4500.0), F.lit(50.0), F.lit(-2.0), 0.10)
        .alias("margin_short"),
    ).collect()[0]

    assert row.cc_stock_value == 10000.0
    assert row.cc_call_premium_received > 0
    # max_profit = (K - S)*n + C*n ; max_loss = S*n - C*n
    assert row.cc_max_profit == pytest.approx(
        500.0 + row.cc_call_premium_received)
    assert row.cc_breakeven == pytest.approx(
        100.0 - row.cc_call_premium_received / 100.0)

    assert row.pp_put_premium_paid > 0
    assert row.pp_max_loss == pytest.approx(500.0 + row.pp_put_premium_paid)
    assert row.pp_max_profit == float("inf")

    assert row.st_total_cost == pytest.approx(
        row.st_call_premium + row.st_put_premium)
    assert row.st_max_loss == row.st_total_cost
    assert row.st_upper_breakeven > 100.0 > row.st_lower_breakeven

    assert row.ic_max_profit == row.ic_net_credit
    assert row.ic_net_credit > 0          # short condor collects a credit
    assert row.ic_max_loss > 0
    assert 90.0 < row.ic_lower_breakeven < 95.0
    assert 105.0 < row.ic_upper_breakeven < 110.0

    # margin = 4500 * 50 * |±2| * 0.10 (test_derivatives.py:246-263)
    assert row.margin == 45000.0
    assert row.margin_short == 45000.0


def test_bs_sql_twin_expr_bit_equal(spark):
    """The generated SQL twins, parsed by Spark via F.expr, must be
    BIT-identical to the Column builders (r12: q26 builds its engine
    expressions from the twin text to avoid ~300 py4j round trips per
    call; that is only sound if both forms compute the same doubles —
    the twins are composed from the same sub-expressions in the same FP
    operation order, pinned here on a grid that exercises both erf signs
    and deep ITM/OTM branches)."""
    df = _bs_frame(spark)
    a = ("s", "k", "t", "sigma", "r")
    pairs = [
        (deriv.bs_call(*(F.col(c) for c in a)), deriv.bs_call_sql(*a)),
        (deriv.bs_put(*(F.col(c) for c in a)), deriv.bs_put_sql(*a)),
        (deriv.bs_gamma(*(F.col(c) for c in a)), deriv.bs_gamma_sql(*a)),
    ]
    sel = []
    for i, (col_form, sql_text) in enumerate(pairs):
        sel.append(col_form.alias(f"c{i}"))
        sel.append(F.expr(sql_text).alias(f"e{i}"))
    out = df.select(*sel).toPandas()
    for i in range(3):
        got = out[f"e{i}"].values
        exp = out[f"c{i}"].values
        assert (got == exp).all(), f"pair {i}: {got} != {exp}"


def test_curate_corpus_sql_twin_bit_equal(spark):
    """curate_corpus + distinct_by_content build their expressions from
    generated SQL text (one JVM parse instead of ~300 py4j round trips
    per call — the q26 pattern applied to the corpus pipeline). Only
    sound if the parsed trees compute the same values as the Column-API
    builders they replaced (kept below as the reference) — pinned
    bit-exact on a corpus that exercises every branch: all four
    languages + unknown, quotes/backslashes in text (literal-escaping
    hazards), punctuation splitting, the token/alpha filters, an empty
    language allowlist, and a backticked column name."""
    import struct

    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
        corpus,
        dedup,
        text as text_ops,
    )

    rows = [
        (1, "the cat of the house is in the garden and it is that for"),
        (2, "der hund ist nicht ein tier und das ist mit der zeit gut"),
        (3, "el perro es un animal y la casa de los gatos es que si"),
        (4, "le chien est un animal et la maison de les chats est que"),
        (5, "zzz qqq www " * 5),
        (6, "short"),
        (7, "the cat of the house is in the garden and it is that for"),
        (8, "it's a \"quoted\" text with back\\slash and the of to in "
            "and is it that for punctuation, too! (yes; really?)"),
        (9, "1234 5678 !!! ??? ... ,,, the of to in and is it that for x"),
        (10, "... !!! ??? ,,, ;;; der el le und y et un est"),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")

    # Independent Column-API reference build: the pre-r13 implementation
    # and the Column-API text formulas it called, verbatim.
    STOPWORDS, LANG_PRIORITY = text_ops.STOPWORDS, text_ops.LANG_PRIORITY

    def tokens(text, pattern=" "):
        c = F.col(text) if isinstance(text, str) else text
        return F.split(c, pattern)

    def bpe_ish_token_count(text):
        c = F.col(text) if isinstance(text, str) else text
        spaced = F.regexp_replace(c, r"([.,;:!?()])", r" $1 ")
        return F.size(F.filter(F.split(F.trim(spaced), r"\s+"),
                               lambda x: x != F.lit("")))

    def stopword_ratio(text, lang="en"):
        toks = tokens(text)
        stop = STOPWORDS.get(lang, STOPWORDS["en"])
        return F.size(F.filter(toks, lambda x: x.isin(stop))) / F.size(toks)

    def lang_score(text, lang):
        toks = tokens(text)
        stop = STOPWORDS[lang]
        return F.size(F.filter(toks, lambda x: x.isin(stop)))

    def predict_language(text):
        scores = {lang: lang_score(text, lang) for lang in LANG_PRIORITY}
        best = None
        for lang in LANG_PRIORITY:
            cond = scores[lang] > 0
            for other in LANG_PRIORITY:
                if other != lang:
                    op = (scores[lang] >= scores[other]
                          if LANG_PRIORITY.index(other)
                          > LANG_PRIORITY.index(lang)
                          else scores[lang] > scores[other])
                    cond = cond & op
            best = (F.when(cond, F.lit(lang)) if best is None
                    else best.when(cond, F.lit(lang)))
        return best.otherwise(F.lit("unknown"))

    def old_curate(d, min_tokens, max_tokens, min_alpha_ratio, langs):
        w = Window.partitionBy(F.md5(F.col("text"))).orderBy("doc_id")
        d = (d.withColumn("_rn", F.row_number().over(w))
             .filter(F.col("_rn") == 1).drop("_rn"))
        c = F.col("text")
        toks = tokens("text")
        d = d.select(
            "*",
            F.size(toks).alias("n_tokens"),
            bpe_ish_token_count("text").alias("n_bpe_tokens"),
            stopword_ratio("text").alias("stop_ratio"),
            (F.length(F.regexp_replace(c, r"[^A-Za-z]", ""))
             / F.length(c)).alias("alpha_ratio"),
            predict_language("text").alias("pred_lang"),
        )
        d = d.filter((F.col("n_tokens") >= min_tokens)
                     & (F.col("n_tokens") <= max_tokens)
                     & (F.col("alpha_ratio") >= min_alpha_ratio))
        if langs is not None:
            d = d.filter(F.col("pred_lang").isin(list(langs)))
        return d

    def bits(v):
        return struct.pack(">d", v) if isinstance(v, float) else v

    for langs in (("en",), ("en", "de", "es", "fr"), None):
        for min_tok, min_alpha in ((10, 0.5), (1, 0.0), (3, 0.25)):
            a = old_curate(docs, min_tok, 1_000_000, min_alpha,
                           langs).orderBy("doc_id").collect()
            b = corpus.curate_corpus(
                docs, min_tokens=min_tok, min_alpha_ratio=min_alpha,
                langs=langs).orderBy("doc_id").collect()
            assert len(a) == len(b)
            assert len(a) > 0 or min_tok == 10
            for ra, rb in zip(a, b):
                da, db = ra.asDict(), rb.asDict()
                assert list(da) == list(db)
                for k in da:
                    assert bits(da[k]) == bits(db[k]), (langs, min_tok, k)
    # an empty language allowlist keeps nothing
    assert old_curate(docs, 1, 1_000_000, 0.0, ()).count() == 0
    assert corpus.curate_corpus(docs, min_tokens=1, min_alpha_ratio=0.0,
                                langs=()).count() == 0
    # schema parity (names, types, nullability)
    assert (old_curate(docs, 10, 1_000_000, 0.5, ("en",)).schema
            == corpus.curate_corpus(docs).schema)

    # backticked identifiers must be quoted into the generated SQL
    weird = docs.select(F.col("doc_id").alias("id`x"),
                        F.col("text").alias("body`y"))
    out = corpus.curate_corpus(weird, min_tokens=1, min_alpha_ratio=0.0,
                               langs=None, text_col="body`y",
                               doc_id_col="id`x")
    assert out.count() == 9  # 10 rows minus 1 exact duplicate
    assert dedup.distinct_by_content(
        weird, text_col="body`y", doc_id_col="id`x").count() == 9

    # a caller column named like the staging column passes through
    tagged = docs.withColumn("_rn", F.col("doc_id") * 10)
    kept = dedup.distinct_by_content(tagged).orderBy("doc_id").collect()
    assert [r.doc_id for r in kept] == [1, 2, 3, 4, 5, 6, 8, 9, 10]
    assert [r._rn for r in kept] == [r.doc_id * 10 for r in kept]
    assert kept[0].asDict().keys() == {"doc_id", "text", "_rn"}
