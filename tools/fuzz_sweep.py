"""Parameter-fuzz harness (r5 VERDICT #7): the 173 oracle pairs run
FIXED parameters, so a literal-coupling bug — an operator that silently
ignores its argument and happens to match the oracle at the rehearsed
constant (the q155/q156 vacuousness class) — is invisible to them. This
tool re-derives BOTH engines from randomized parameters for the
parameterizable operator families and compares them with the same
rows+schema+values gate the sweep uses.

Each target owns a parameter sampler and builds the Spark side from the
PACKAGE OPERATORS (never a re-implementation) and the DuckDB side from a
parameter-rendered SQL template (the same shapes the fixed pairs use).

Run:
    python3 tools/fuzz_sweep.py [sf_dir] [--n N] [--seed S] [--only t1,t2]

Defaults: sf0.001, N=50, seed derived from the round stamp so each round
explores a different slice while any failure stays reproducible
(--seed pins it). Exit 1 on any mismatch, printing the minimized config.
"""

from __future__ import annotations

import argparse
import os
import random
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

from oracle_harness import compare_query, duck_connection  # noqa: E402


# --------------------------------------------------------------- targets
#
# Each target: {"sample": rng -> params,
#               "spark": (spark, sf_dir, p) -> DataFrame,
#               "sql":   p -> str}

def _ticks_cte():
    from build_a_market_data_etl_strategy_backtesting_engine_spark import (
        queries as q,
    )

    return q.TICKS_CTE


def _bars_cte(minutes):
    from build_a_market_data_etl_strategy_backtesting_engine_spark import (
        queries as q,
    )

    return q._bars_cte(minutes)


def _ticks(spark, sf_dir):
    from build_a_market_data_etl_strategy_backtesting_engine_spark import (
        queries as q,
    )

    return q._ticks(spark, sf_dir)


def _bars(spark, sf_dir, minutes):
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (  # noqa: E501
        bars,
    )

    return bars.ticks_to_ohlcv(_ticks(spark, sf_dir), f"{minutes} minutes")


def t_ohlcv_spark(spark, sf_dir, p):
    from pyspark.sql import functions as F

    return _bars(spark, sf_dir, p["m"]).select(
        "symbol", F.unix_micros("ts").alias("bar_us"),
        "open", "high", "low", "close", "volume", "n_ticks")


def t_ohlcv_sql(p):
    return f"""WITH {_ticks_cte()}, {_bars_cte(p['m'])}
    SELECT symbol, epoch_us(bts) AS bar_us, open, high, low, close,
           volume, n_ticks FROM bars"""


def t_macross_spark(spark, sf_dir, p):
    from pyspark.sql import functions as F

    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (  # noqa: E501
        signals,
    )

    sig = signals.ma_cross_signal(
        _bars(spark, sf_dir, p["m"]), fast=p["fast"], slow=p["slow"])
    return sig.groupBy("symbol").agg(
        F.sum("signal").cast("bigint").alias("n_long"),
        F.count(F.lit(1)).alias("n_bars"))


def t_macross_sql(p):
    f, s = p["fast"], p["slow"]
    return f"""WITH {_ticks_cte()}, {_bars_cte(p['m'])},
    ma AS (SELECT symbol, bts, close, row_number() OVER w AS rn,
             avg(close) OVER (w ROWS BETWEEN {f - 1} PRECEDING AND CURRENT ROW) AS f,
             avg(close) OVER (w ROWS BETWEEN {s - 1} PRECEDING AND CURRENT ROW) AS sl
           FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY bts)),
    sig AS (SELECT symbol,
              CASE WHEN (CASE WHEN rn >= {f} THEN f END)
                        > (CASE WHEN rn >= {s} THEN sl END)
                   THEN 1 ELSE 0 END AS signal FROM ma)
    SELECT symbol, CAST(sum(signal) AS BIGINT) AS n_long,
           count(*) AS n_bars FROM sig GROUP BY symbol"""


def t_momentum_spark(spark, sf_dir, p):
    from pyspark.sql import functions as F

    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (  # noqa: E501
        signals,
    )

    sig = signals.momentum_signal(
        _bars(spark, sf_dir, p["m"]), lookback=p["n"],
        threshold=p["thr"])
    return sig.groupBy("symbol", "signal").agg(
        F.count(F.lit(1)).alias("n"))


def t_momentum_sql(p):
    from build_a_market_data_etl_strategy_backtesting_engine_spark.queries import (  # noqa: E501
        _dlit,
    )

    t = _dlit(p["thr"])
    return f"""WITH {_ticks_cte()}, {_bars_cte(p['m'])},
    m AS (SELECT symbol,
            close / lag(close, {p['n']}) OVER (PARTITION BY symbol
              ORDER BY bts) - 1.0e0 AS mom FROM bars)
    SELECT symbol, CASE WHEN mom > {t} THEN 1 WHEN mom < -{t} THEN -1
                        ELSE 0 END AS signal, count(*) AS n
    FROM m GROUP BY 1, 2"""


def t_iqr_spark(spark, sf_dir, p):
    from pyspark.sql import functions as F

    from build_a_market_data_etl_strategy_backtesting_engine_spark.session import (  # noqa: E501
        load_tables,
    )
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (  # noqa: E501
        cleaner,
    )

    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    kept = cleaner.remove_outliers_iqr(li, "l_extendedprice", k=p["k"])
    return kept.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("l_extendedprice") * 100.0).cast("long"))
        .cast("bigint").alias("sum_price_cents"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"))


def t_iqr_sql(p):
    from build_a_market_data_etl_strategy_backtesting_engine_spark.queries import (  # noqa: E501
        _dlit,
    )

    k = _dlit(p["k"])
    return f"""WITH q AS (SELECT quantile_cont(l_extendedprice, 0.25) AS q1,
                      quantile_cont(l_extendedprice, 0.75) AS q3
               FROM lineitem)
    SELECT count(*) AS n,
           CAST(sum(CAST(round(l_extendedprice * 1.0e2) AS BIGINT))
                AS BIGINT) AS sum_price_cents,
           min(l_extendedprice) AS min_price,
           max(l_extendedprice) AS max_price
    FROM lineitem, q
    WHERE l_extendedprice BETWEEN q1 - {k} * (q3 - q1)
                              AND q3 + {k} * (q3 - q1)"""


def t_zscore_spark(spark, sf_dir, p):
    from pyspark.sql import functions as F

    from build_a_market_data_etl_strategy_backtesting_engine_spark.session import (  # noqa: E501
        load_tables,
    )
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (  # noqa: E501
        cleaner,
    )

    ev = load_tables(spark, sf_dir, ["events"])["events"]
    kept = cleaner.remove_outliers_zscore(ev, "value", k=p["k"])
    return kept.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(28,10)"))
                .cast("double"), 4).alias("sum_value"))


def t_zscore_sql(p):
    from build_a_market_data_etl_strategy_backtesting_engine_spark.queries import (  # noqa: E501
        _dlit,
    )

    return f"""WITH s AS (SELECT avg(value) AS mu, stddev_samp(value) AS sd
               FROM events)
    SELECT count(*) AS n,
           round(CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE), 4)
             AS sum_value
    FROM events, s WHERE abs(value - mu) / sd < {_dlit(p['k'])}"""


def t_gapfill_spark(spark, sf_dir, p):
    from pyspark.sql import functions as F

    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (  # noqa: E501
        cleaner,
    )

    m = p["m"]
    hourly = (
        _ticks(spark, sf_dir)
        .groupBy("symbol", F.window("ts", f"{m} minutes").alias("w"))
        .agg(F.round(F.avg("price"), 6).alias("v"))
        .select("symbol", F.col("w.start").alias("ts"), "v"))
    filled = cleaner.fill_missing_timestamps(
        hourly, freq_seconds=m * 60, method=p["method"], value_cols=["v"])
    return filled.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_slots"),
        F.count("v").alias("n_filled"),
        F.round(F.sum("v"), 2).alias("sum_v"))


def t_gapfill_sql(p):
    m = p["m"]
    fill = (
        "last_value(v IGNORE NULLS) OVER (PARTITION BY symbol ORDER BY h "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        if p["method"] == "ffill" else
        "first_value(v IGNORE NULLS) OVER (PARTITION BY symbol ORDER BY h "
        "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)")
    return f"""WITH {_ticks_cte()},
    hourly AS (SELECT symbol, time_bucket(INTERVAL '{m} minutes', ts) AS h,
                      round(avg(price), 6) AS v
               FROM ticks GROUP BY symbol, h),
    bounds AS (SELECT symbol, min(h) AS lo, max(h) AS hi FROM hourly
               GROUP BY symbol),
    spine AS (SELECT symbol,
                     unnest(generate_series(lo, hi,
                            INTERVAL {m} MINUTES)) AS h
              FROM bounds),
    j AS (SELECT s.symbol, s.h, hr.v
          FROM spine s LEFT JOIN hourly hr
            ON hr.symbol = s.symbol AND hr.h = s.h),
    f AS (SELECT symbol, h, {fill} AS v FROM j)
    SELECT symbol, count(*) AS n_slots, count(v) AS n_filled,
           round(sum(v), 2) AS sum_v
    FROM f GROUP BY symbol"""


def t_dedup_spark(spark, sf_dir, p):
    from pyspark.sql import functions as F

    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (  # noqa: E501
        cleaner,
    )

    dd = cleaner.deduplicate(
        _ticks(spark, sf_dir), subset=p["keys"], keep=p["keep"],
        order_col="ts", tiebreaker="seq")
    return dd.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("price"), 4).alias("sum_price"),
        F.sum("seq").alias("sum_seq"))


def t_dedup_sql(p):
    order = "ts, seq" if p["keep"] == "first" else "ts DESC, seq DESC"
    keys = ", ".join(p["keys"])
    return f"""WITH {_ticks_cte()},
    dd AS (SELECT *, row_number() OVER (PARTITION BY {keys}
                                        ORDER BY {order}) AS rn
           FROM ticks)
    SELECT symbol, count(*) AS n, round(sum(price), 4) AS sum_price,
           CAST(sum(seq) AS BIGINT) AS sum_seq
    FROM dd WHERE rn = 1 GROUP BY symbol"""


def t_topk_spark(spark, sf_dir, p):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from build_a_market_data_etl_strategy_backtesting_engine_spark.session import (  # noqa: E501
        load_tables,
    )

    t = load_tables(spark, sf_dir, ["orders"])
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (t["orders"].withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= p["k"])
            .select("o_orderpriority", "o_orderkey", "o_totalprice"))


def t_topk_sql(p):
    return f"""SELECT o_orderpriority, o_orderkey, o_totalprice
    FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_orderpriority
                   ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders) WHERE rn <= {p['k']}"""


def t_var_spark(spark, sf_dir, p):
    from pyspark.sql import functions as F

    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (  # noqa: E501
        signals,
    )

    b = _bars(spark, sf_dir, p["m"])
    r = signals.simple_returns(b, price_col="close", out_col="ret").select(
        "symbol", "ret")
    alpha = 1.0 - p["conf"]
    v = r.groupBy("symbol").agg(
        F.expr(f"percentile(ret, {alpha!r})").alias("var"))
    joined = r.join(F.broadcast(v), on="symbol")
    return joined.groupBy("symbol").agg(
        F.round(F.first("var"), 9).alias("var"),
        F.round(F.avg(F.when(F.col("ret") <= F.col("var"),
                             F.col("ret"))), 6).alias("cvar"))


def t_var_sql(p):
    alpha = repr(1.0 - p["conf"])
    return f"""WITH {_ticks_cte()}, {_bars_cte(p['m'])},
    r AS (SELECT symbol,
                 coalesce(close / lag(close) OVER (PARTITION BY symbol
                   ORDER BY bts) - 1.0e0, 0.0e0) AS ret FROM bars),
    v AS (SELECT symbol, quantile_cont(ret, {alpha}) AS var FROM r
          GROUP BY symbol)
    SELECT r.symbol, round(min(var), 9) AS var,
           round(avg(CASE WHEN ret <= var THEN ret END), 6) AS cvar
    FROM r JOIN v ON r.symbol = v.symbol GROUP BY r.symbol"""


def t_chunk_spark(spark, sf_dir, p):
    from build_a_market_data_etl_strategy_backtesting_engine_spark.session import (  # noqa: E501
        load_tables,
    )
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (  # noqa: E501
        text as text_ops,
    )

    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    return text_ops.chunk_documents(
        d, chunk_tokens=p["chunk"], stride=p["stride"])


def t_chunk_sql(p):
    c, s = p["chunk"], p["stride"]
    return f"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents),
    st AS (SELECT doc_id, toks,
                 unnest(generate_series(1, greatest(len(toks), 1), {s}))
                   AS start
          FROM t)
    SELECT doc_id, CAST((start - 1) / {s} AS INTEGER) AS chunk_id,
           array_to_string(toks[start : start + {c - 1}], ' ')
             AS chunk_text,
           len(toks[start : start + {c - 1}]) AS n_tokens
    FROM st"""


def t_asof_spark(spark, sf_dir, p):
    from pyspark.sql import functions as F

    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (  # noqa: E501
        joins,
    )

    ticks = _ticks(spark, sf_dir)
    b = _bars(spark, sf_dir, p["m"]).select(
        "symbol", F.col("ts").alias("bts"), "close")
    out = joins.asof_join(
        ticks, b.withColumnRenamed("bts", "ts"), on="ts", by="symbol",
        value_cols=["close"], tolerance=p["tol"], direction="backward")
    return out.select(
        "seq", F.unix_micros("ts").alias("us"), "price",
        F.col("close").alias("bar_close"),
        F.unix_micros("ts_right").alias("bar_us"))


def t_asof_sql(p):
    tol = p["tol"]
    if tol is None:
        guard_close = "b.close"
        guard_us = "epoch_us(b.bts)"
    else:
        cond = f"epoch_us(t.ts) - epoch_us(b.bts) <= {int(tol) * 1000000}"
        guard_close = f"CASE WHEN {cond} THEN b.close END"
        guard_us = f"CASE WHEN {cond} THEN epoch_us(b.bts) END"
    return f"""WITH {_ticks_cte()}, {_bars_cte(p['m'])}
    SELECT t.seq, epoch_us(t.ts) AS us, t.price,
           {guard_close} AS bar_close, {guard_us} AS bar_us
    FROM ticks t ASOF LEFT JOIN bars b
      ON t.symbol = b.symbol AND t.ts >= b.bts"""


def t_kernel_spark(spark, sf_dir, p):
    from pyspark.sql import functions as F

    from build_a_market_data_etl_strategy_backtesting_engine_spark import (
        queries as q,
    )
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (  # noqa: E501
        backtest, signals,
    )

    b = _bars(spark, sf_dir, 60)
    px = b.withColumn("px", F.lit(100.0) + F.col("close") / F.lit(10.0))
    sig = signals.mean_reversion_signal(
        px, n=p["n"], num_std=p["k"], price_col="px")
    res = backtest.backtest_signals(
        sig, position_size=1.0, commission=q.COMMISSION,
        slippage=q.SLIPPAGE, initial_cash=q.CASH, price_col="px")
    return res.select(
        "symbol", F.unix_micros("ts").alias("bar_us"), "signal",
        "position", "trade", "returns", "strategy_returns", "costs",
        "net_returns",
        F.round(F.col("equity") / F.lit(q.CASH), 6).alias("equity_ratio"))


def t_kernel_sql(p):
    from build_a_market_data_etl_strategy_backtesting_engine_spark import (
        queries as q,
    )

    return f"""WITH {q._kernel_cte(n=p['n'], k=p['k'])}
    SELECT symbol, epoch_us(bts) AS bar_us, signal, position, trade,
           returns, strategy_returns, costs, net_returns,
           round(equity / {q._dlit(q.CASH)}, 6) AS equity_ratio
    FROM kern"""


def t_rolling_spark(spark, sf_dir, p):
    from pyspark.sql import functions as F

    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (  # noqa: E501
        signals,
    )

    b = _bars(spark, sf_dir, p["m"])
    n = p["n"]
    return b.select(
        "symbol", F.unix_micros("ts").alias("bar_us"),
        F.round(signals.rolling_mean("close", n), 8).alias("rmean"),
        F.round(signals.rolling_std("close", n), 8).alias("rstd"))


def t_rolling_sql(p):
    n = p["n"]
    return f"""WITH {_ticks_cte()}, {_bars_cte(p['m'])},
    r AS (SELECT symbol, bts, close, row_number() OVER w AS rn,
            avg(close) OVER (w ROWS BETWEEN {n - 1} PRECEDING
                             AND CURRENT ROW) AS m,
            stddev_samp(close) OVER (w ROWS BETWEEN {n - 1} PRECEDING
                                     AND CURRENT ROW) AS s
          FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY bts))
    SELECT symbol, epoch_us(bts) AS bar_us,
           round(CASE WHEN rn >= {n} THEN m END, 8) AS rmean,
           round(CASE WHEN rn >= {n} THEN s END, 8) AS rstd
    FROM r"""


def t_pctchange_spark(spark, sf_dir, p):
    from pyspark.sql import functions as F

    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (  # noqa: E501
        signals,
    )

    b = _bars(spark, sf_dir, p["m"])
    return b.select(
        "symbol", F.unix_micros("ts").alias("bar_us"),
        signals.pct_change("close", periods=p["k"]).alias("ret"))


def t_pctchange_sql(p):
    return f"""WITH {_ticks_cte()}, {_bars_cte(p['m'])}
    SELECT symbol, epoch_us(bts) AS bar_us,
           close / lag(close, {p['k']}) OVER (PARTITION BY symbol
             ORDER BY bts) - 1.0e0 AS ret
    FROM bars"""


def t_ewm_spark(spark, sf_dir, p):
    from pyspark.sql import functions as F

    from build_a_market_data_etl_strategy_backtesting_engine_spark.functions import (  # noqa: E501
        ewm,
    )

    e = ewm.ewm_mean(_bars(spark, sf_dir, p["m"]), p["span"], "close")
    return e.select("symbol", F.unix_micros("ts").alias("bar_us"),
                    F.round("ewm", 4).alias("ewm"))


def t_ewm_sql(p):
    """q20's closed form: the series stay inside the kernel's first
    block, where it is exactly this ratio."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.queries import (  # noqa: E501
        _dlit,
    )

    binv = _dlit(1.0 / (1.0 - 2.0 / (p["span"] + 1.0)))
    return f"""WITH {_ticks_cte()}, {_bars_cte(p['m'])},
    seq AS (SELECT symbol, bts, close,
                   row_number() OVER (PARTITION BY symbol ORDER BY bts) - 1
                     AS i
            FROM bars),
    e AS (SELECT symbol, bts,
                 sum(close * power({binv}, i)) OVER w
                   / sum(power({binv}, i)) OVER w AS ewm
          FROM seq WINDOW w AS (PARTITION BY symbol ORDER BY bts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT symbol, epoch_us(bts) AS bar_us, round(ewm, 4) AS ewm FROM e"""


def _decay(r):
    """A decay in [0, 1]: a bound, a value whose blocks are shorter than
    the bars of one symbol, or any value."""
    return r.choice([0.0, 1.0, r.uniform(0.0, 0.05), r.uniform(0.0, 1.0)])


def _blocks(decay):
    """Block length of the EWM kernel and its DuckDB stand-in: decay 1
    is one block, so a length no series reaches."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.functions import (  # noqa: E501
        ewm,
    )

    return ewm._block_len(decay) or 2 ** 31 - 1


def _returns_cte(p):
    return f"""WITH RECURSIVE {_ticks_cte()}, {_bars_cte(p['m'])},
    r0 AS (SELECT symbol, bts,
                  close / lag(close) OVER (PARTITION BY symbol
                    ORDER BY bts) - 1 AS r
           FROM bars),
    rr AS (SELECT symbol, bts, r,
                  row_number() OVER (PARTITION BY symbol ORDER BY bts) - 1
                    AS i
           FROM r0 WHERE r IS NOT NULL)"""


def t_ewma_spark(spark, sf_dir, p):
    from pyspark.sql import functions as F

    from build_a_market_data_etl_strategy_backtesting_engine_spark.functions import (  # noqa: E501
        ewm,
    )

    out = ewm.ewma_volatility(_bars(spark, sf_dir, p["m"]), lam=p["lam"])
    return out.select(
        "symbol", F.unix_micros("ts").alias("bar_us"),
        F.round("r", 8).alias("r"), F.round("ewma_var", 4).alias("ewma_var"),
        F.round("ewma_vol", 6).alias("ewma_vol"))


def t_ewma_sql(p):
    """q113's closed form per block of the kernel, plus the carry from
    the previous block's last row."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.queries import (  # noqa: E501
        _dlit,
    )

    lam, b = p["lam"], _blocks(p["lam"])
    inv = _dlit(1.0 / lam if lam else 0.0)
    return f"""{_returns_cte(p)},
    s AS (SELECT symbol, bts, r, i, i // {b} AS k, i % {b} AS l,
                 sum(power({inv}, i % {b}) * (r * r) *
                     CASE WHEN i = 0 THEN 1.0e0 ELSE {_dlit(1.0 - lam)} END)
                   OVER (PARTITION BY symbol, i // {b} ORDER BY i
                         ROWS UNBOUNDED PRECEDING) AS acc
          FROM rr),
    v AS (SELECT s.symbol, s.bts, s.r,
                 power({_dlit(lam)}, s.l)
                   * (s.acc + coalesce({_dlit(lam ** b)} * p.acc,
                                       -0.0e0)) AS v
          FROM s LEFT JOIN s p ON p.symbol = s.symbol AND p.k = s.k - 1
                               AND p.l = {b - 1})
    SELECT symbol, epoch_us(bts) AS bar_us, round(r, 8) AS r,
           round(v, 4) AS ewma_var, round(sqrt(v), 6) AS ewma_vol
    FROM v"""


def t_garch_spark(spark, sf_dir, p):
    from pyspark.sql import functions as F

    from build_a_market_data_etl_strategy_backtesting_engine_spark.functions import (  # noqa: E501
        ewm,
    )

    out = ewm.garch_volatility(_bars(spark, sf_dir, p["m"]),
                               alpha=p["alpha"], beta=p["beta"])
    # q113's rounding, not q142's: DuckDB's windowed sums do not add in
    # row order, so its vbar can differ from Spark's in the last ulp, and
    # intraday variances reach 1e4-1e5, where round(h, 10) asks for 15
    # significant digits
    return out.select(
        "symbol", F.unix_micros("ts").alias("bar_us"),
        F.round("r", 8).alias("r"),
        F.round("garch_var", 4).alias("garch_var"),
        F.round("garch_vol_ann", 6).alias("garch_vol_ann"))


def t_garch_sql(p):
    """q142's powers table, sample variance and closed form per block of
    the kernel, plus the carry from the previous block's last row."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.queries import (  # noqa: E501
        _dlit,
    )

    a, beta = p["alpha"], p["beta"]
    b = _blocks(beta)
    period = b if beta < 1.0 else 1
    inv = 1.0 / beta if beta else 0.0
    c = 1.0 - a - beta
    bg = "CASE WHEN s.k = 0 THEN s.bpow ELSE 0.0e0 END"
    omega = ("" if c == 0.0 else
             f"s.vbar * {_dlit(c)} * (1.0e0 - {bg}) / {_dlit(1.0 - beta)} + ")
    return f"""{_returns_cte(p)},
    pw AS (SELECT 0 AS l, 1.0e0 AS bpow, 1.0e0 AS ipow
           UNION ALL
           SELECT l + 1, bpow * {_dlit(beta)}, ipow * {_dlit(inv)}
           FROM pw WHERE l < {period - 1}),
    cs AS (SELECT symbol, i,
                  sum(r) OVER (PARTITION BY symbol ORDER BY i
                               ROWS UNBOUNDED PRECEDING) AS cs1,
                  sum(r * r) OVER (PARTITION BY symbol ORDER BY i
                                   ROWS UNBOUNDED PRECEDING) AS cs2
           FROM rr),
    v AS (SELECT symbol,
                 (arg_max(cs2, i) - arg_max(cs1, i) * arg_max(cs1, i)
                    / count(*))
                 / nullif(count(*) - 1, 0) AS vbar
          FROM cs GROUP BY symbol),
    s AS (SELECT rr.symbol, rr.bts, rr.r, rr.i // {b} AS k, rr.i % {b} AS l,
                 v.vbar, pw.bpow, pw.ipow,
                 coalesce(sum(pw.ipow * (rr.r * rr.r))
                   OVER (PARTITION BY rr.symbol, rr.i // {b} ORDER BY rr.i
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0.0e0) AS acc
          FROM rr JOIN v ON rr.symbol = v.symbol
                  JOIN pw ON rr.i % {period} = pw.l),
    h AS (SELECT s.symbol, s.bts, s.r,
                 {omega}{bg} * s.vbar
                 + {_dlit(a)} * (s.bpow * {_dlit(inv)}) * s.acc
                 + s.bpow * coalesce(
                     {_dlit(a * beta ** (period - 1))}
                       * (p.acc + p.ipow * (p.r * p.r)), -0.0e0) AS h
          FROM s LEFT JOIN s p ON p.symbol = s.symbol AND p.k = s.k - 1
                               AND p.l = {b - 1})
    SELECT symbol, epoch_us(bts) AS bar_us, round(r, 8) AS r,
           round(h, 4) AS garch_var,
           round(sqrt(h * 252e0), 6) AS garch_vol_ann
    FROM h"""


def _garch_params(r):
    beta = _decay(r)
    return {"m": r.choice(_BAR_MINUTES), "beta": beta,
            "alpha": r.uniform(0.0, 1.0 - beta)}


_BAR_MINUTES = [1, 2, 3, 5, 10, 15, 30, 60, 120]

TARGETS = {
    "ohlcv": {
        "sample": lambda r: {"m": r.choice(_BAR_MINUTES)},
        "spark": t_ohlcv_spark, "sql": t_ohlcv_sql,
    },
    "ma_cross": {
        "sample": lambda r: (lambda f: {"m": r.choice([30, 60]),
                                        "fast": f,
                                        "slow": r.randint(f + 1, 60)})(
            r.randint(2, 15)),
        "spark": t_macross_spark, "sql": t_macross_sql,
    },
    "momentum": {
        "sample": lambda r: {"m": r.choice([30, 60]),
                             "n": r.randint(2, 30),
                             "thr": round(r.uniform(0.002, 0.08), 4)},
        "spark": t_momentum_spark, "sql": t_momentum_sql,
    },
    "iqr_filter": {
        "sample": lambda r: {"k": r.choice([0.5, 0.75, 1.0, 1.5,
                                            2.0, 2.5, 3.0])},
        "spark": t_iqr_spark, "sql": t_iqr_sql,
    },
    "zscore_filter": {
        "sample": lambda r: {"k": r.choice([0.5, 1.0, 1.5, 2.0,
                                            2.5, 3.0])},
        "spark": t_zscore_spark, "sql": t_zscore_sql,
    },
    "gap_fill": {
        "sample": lambda r: {"m": r.choice([30, 60, 120]),
                             "method": r.choice(["ffill", "bfill"])},
        "spark": t_gapfill_spark, "sql": t_gapfill_sql,
    },
    "dedup": {
        "sample": lambda r: {
            "keys": r.choice([["volume", "symbol"], ["price", "symbol"],
                              ["symbol", "price", "volume"]]),
            "keep": r.choice(["first", "last"])},
        "spark": t_dedup_spark, "sql": t_dedup_sql,
    },
    "topk": {
        "sample": lambda r: {"k": r.randint(1, 10)},
        "spark": t_topk_spark, "sql": t_topk_sql,
    },
    "var_cvar": {
        "sample": lambda r: {"m": r.choice([30, 60]),
                             "conf": r.choice([0.9, 0.95, 0.975, 0.99])},
        "spark": t_var_spark, "sql": t_var_sql,
    },
    "chunking": {
        "sample": lambda r: (lambda c: {"chunk": c,
                                        "stride": r.randint(max(c // 4, 1),
                                                            c)})(
            r.randint(8, 128)),
        "spark": t_chunk_spark, "sql": t_chunk_sql,
    },
    "asof": {
        "sample": lambda r: {"m": r.choice([15, 30, 60]),
                             "tol": r.choice([None, 1800, 3600, 7200])},
        "spark": t_asof_spark, "sql": t_asof_sql,
    },
    "kernel": {
        "sample": lambda r: {"n": r.randint(5, 40),
                             "k": r.choice([0.5, 1.0, 1.5, 2.0, 2.5])},
        "spark": t_kernel_spark, "sql": t_kernel_sql,
    },
    "rolling": {
        "sample": lambda r: {"m": r.choice([30, 60]),
                             "n": r.randint(2, 40)},
        "spark": t_rolling_spark, "sql": t_rolling_sql,
    },
    "pct_change": {
        "sample": lambda r: {"m": r.choice([30, 60]),
                             "k": r.randint(1, 10)},
        "spark": t_pctchange_spark, "sql": t_pctchange_sql,
    },
    "ewm": {
        "sample": lambda r: {"m": r.choice(_BAR_MINUTES),
                             "span": r.randint(2, 200)},
        "spark": t_ewm_spark, "sql": t_ewm_sql,
    },
    "ewma": {
        "sample": lambda r: {"m": r.choice(_BAR_MINUTES), "lam": _decay(r)},
        "spark": t_ewma_spark, "sql": t_ewma_sql,
    },
    "garch": {
        "sample": _garch_params,
        "spark": t_garch_spark, "sql": t_garch_sql,
    },
}



def t_rsi_spark(spark, sf_dir, p):
    from pyspark.sql import functions as F

    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (  # noqa: E501
        signals,
    )

    b = signals.with_rsi(_bars(spark, sf_dir, p["m"]), n=p["n"])
    return b.select("symbol", F.unix_micros("ts").alias("bar_us"),
                    F.round("rsi", 8).alias("rsi"))


def t_rsi_sql(p):
    n = p["n"]
    return f"""WITH {_ticks_cte()}, {_bars_cte(p['m'])},
    d AS (SELECT symbol, bts, close, row_number() OVER w AS rn,
                 close - lag(close) OVER w AS delta
          FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY bts)),
    g AS (SELECT *,
                 CASE WHEN delta > 0.0e0 THEN delta
                      WHEN delta IS NOT NULL THEN 0.0e0 END AS gain,
                 CASE WHEN delta < 0.0e0 THEN -delta
                      WHEN delta IS NOT NULL THEN 0.0e0 END AS loss
          FROM d),
    r AS (SELECT symbol, bts,
                 CASE WHEN rn >= {n} + 1 THEN avg(gain) OVER wN END AS ag,
                 CASE WHEN rn >= {n} + 1 THEN avg(loss) OVER wN END AS al
          FROM g WINDOW wN AS (PARTITION BY symbol ORDER BY bts
                               ROWS BETWEEN {n - 1} PRECEDING
                               AND CURRENT ROW))
    SELECT symbol, epoch_us(bts) AS bar_us,
           round(CASE WHEN al = 0 AND ag = 0 THEN NULL
                      WHEN al = 0 THEN 100.0e0
                      ELSE 100.0e0 - 100.0e0 / (1.0e0 + ag / al) END, 8)
             AS rsi
    FROM r"""


def t_bollinger_spark(spark, sf_dir, p):
    from pyspark.sql import functions as F

    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (  # noqa: E501
        signals,
    )

    b = signals.with_bollinger(_bars(spark, sf_dir, p["m"]),
                               n=p["n"], k=p["k"])
    return b.select("symbol", F.unix_micros("ts").alias("bar_us"),
                    F.round("bb_mid", 8).alias("bb_mid"),
                    F.round("bb_upper", 8).alias("bb_upper"),
                    F.round("bb_lower", 8).alias("bb_lower"))


def t_bollinger_sql(p):
    from build_a_market_data_etl_strategy_backtesting_engine_spark.queries import (  # noqa: E501
        _dlit,
    )

    n, k = p["n"], _dlit(p["k"])
    return f"""WITH {_ticks_cte()}, {_bars_cte(p['m'])},
    r AS (SELECT symbol, bts, row_number() OVER w AS rn,
                 avg(close) OVER (w ROWS BETWEEN {n - 1} PRECEDING
                                  AND CURRENT ROW) AS m,
                 stddev_samp(close) OVER (w ROWS BETWEEN {n - 1} PRECEDING
                                          AND CURRENT ROW) AS s
          FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY bts))
    SELECT symbol, epoch_us(bts) AS bar_us,
           round(CASE WHEN rn >= {n} THEN m END, 8) AS bb_mid,
           round(CASE WHEN rn >= {n} THEN m + {k} * s END, 8) AS bb_upper,
           round(CASE WHEN rn >= {n} THEN m - {k} * s END, 8) AS bb_lower
    FROM r"""


def t_rollvol_spark(spark, sf_dir, p):
    from pyspark.sql import functions as F

    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (  # noqa: E501
        signals,
    )

    b = signals.with_rolling_volatility(_bars(spark, sf_dir, p["m"]),
                                        n=p["n"])
    return b.select("symbol", F.unix_micros("ts").alias("bar_us"),
                    F.round("volatility", 10).alias("vol"))


def t_rollvol_sql(p):
    n = p["n"]
    return f"""WITH {_ticks_cte()}, {_bars_cte(p['m'])},
    r AS (SELECT symbol, bts, row_number() OVER w AS rn,
                 close / lag(close) OVER w - 1.0e0 AS ret
          FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY bts)),
    v AS (SELECT symbol, bts, rn,
                 stddev_samp(ret) OVER (PARTITION BY symbol ORDER BY bts
                                        ROWS BETWEEN {n - 1} PRECEDING
                                        AND CURRENT ROW) AS s
          FROM r)
    SELECT symbol, epoch_us(bts) AS bar_us,
           round(CASE WHEN rn >= {n} + 1 THEN s END, 10) AS vol
    FROM v"""


def t_volratio_spark(spark, sf_dir, p):
    from pyspark.sql import functions as F

    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (  # noqa: E501
        signals,
    )

    b = signals.with_volume_ratio(_bars(spark, sf_dir, p["m"]), n=p["n"])
    return b.select("symbol", F.unix_micros("ts").alias("bar_us"),
                    F.round("volume_ratio", 8).alias("vr"))


def t_volratio_sql(p):
    n = p["n"]
    return f"""WITH {_ticks_cte()}, {_bars_cte(p['m'])},
    r AS (SELECT symbol, bts, volume, row_number() OVER w AS rn,
                 avg(volume) OVER (w ROWS BETWEEN {n - 1} PRECEDING
                                   AND CURRENT ROW) AS m
          FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY bts))
    SELECT symbol, epoch_us(bts) AS bar_us,
           round(CASE WHEN rn < {n} THEN NULL
                      WHEN m = 0 THEN 'nan'::DOUBLE
                      ELSE volume / m END, 8) AS vr
    FROM r"""


TARGETS.update({
    "rsi": {
        "sample": lambda r: {"m": r.choice([30, 60]),
                             "n": r.choice([5, 7, 9, 14, 21, 30])},
        "spark": t_rsi_spark, "sql": t_rsi_sql,
    },
    "bollinger": {
        "sample": lambda r: {"m": r.choice([30, 60]),
                             "n": r.randint(3, 40),
                             "k": r.choice([1.0, 1.5, 2.0, 2.5, 3.0])},
        "spark": t_bollinger_spark, "sql": t_bollinger_sql,
    },
    "rolling_vol": {
        "sample": lambda r: {"m": r.choice([30, 60]),
                             "n": r.randint(3, 40)},
        "spark": t_rollvol_spark, "sql": t_rollvol_sql,
    },
    "volume_ratio": {
        "sample": lambda r: {"m": r.choice([30, 60]),
                             "n": r.randint(2, 40)},
        "spark": t_volratio_spark, "sql": t_volratio_sql,
    },
})


# ------------------------------------------------ r8 families (VERDICT #6:
# streaming/dedup parameter coverage — the fixed pairs rehearse one
# constant per operator; these re-derive BOTH engines from random params)


def _mins_cte(h_total, k):
    """Parameterized md5 minhash CTE (the oracle-portable twin the fixed
    pairs q23/q29 use at h=8, k=5)."""
    mins = ", ".join(
        f"min(md5(sh || '|{h}')) AS m{h}" for h in range(h_total))
    return f"""
    sh AS (
      SELECT doc_id, substr(text, CAST(i AS INTEGER), {k}) AS sh
      FROM (SELECT doc_id, text,
                   unnest(generate_series(1, length(text) - {k - 1})) AS i
            FROM documents)),
    m AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id)"""


def t_lsh_spark(spark, sf_dir, p):
    from pyspark.sql import functions as F

    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (  # noqa: E501
        dedup,
    )
    from build_a_market_data_etl_strategy_backtesting_engine_spark.session import (  # noqa: E501
        load_tables,
    )

    h_total, bands, k, cap = p["h"], p["b"], p["k"], p["cap"]
    rpb = h_total // bands
    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    sh = dedup.char_shingles(d, k)
    mins = sh.groupBy("doc_id").agg(
        *[F.min(F.md5(F.concat(F.col("sh"), F.lit(f"|{h}")))).alias(f"m{h}")
          for h in range(h_total)]
    )
    banded = None
    for b in range(bands):
        part = mins.select(
            F.col("doc_id").alias("doc"), F.lit(b).alias("band"),
            F.md5(F.concat_ws(
                "|", *[f"m{h}" for h in range(b * rpb, (b + 1) * rpb)]))
            .alias("bh"))
        banded = part if banded is None else banded.unionByName(part)
    pairs = dedup.lsh_pairs_from_bands(banded, max_band_df=cap)
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.coalesce(F.sum("n_shared_bands"), F.lit(0)).cast("bigint")
        .alias("total_band_hits"),
        F.coalesce(F.min("doc_a"), F.lit(-1)).alias("min_doc_a"),
    )


def t_lsh_sql(p):
    h_total, bands, k, cap = p["h"], p["b"], p["k"], p["cap"]
    rpb = h_total // bands
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({expr}) AS bh FROM m".format(
            b=b, expr=" || '|' || ".join(
                f"m{h}" for h in range(b * rpb, (b + 1) * rpb)))
        for b in range(bands))
    cap_cte = ""
    src = "bands"
    if cap is not None:
        cap_cte = f""",
    capped AS (
      SELECT doc_id, band, bh FROM (
        SELECT doc_id, band, bh,
               count(*) OVER (PARTITION BY band, bh) AS _df
        FROM bands) WHERE _df <= {cap})"""
        src = "capped"
    return f"""
    WITH {_mins_cte(h_total, k)},
    bands AS ({band_selects}){cap_cte},
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS nsb
      FROM {src} a JOIN {src} b
        ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT count(*) AS n_pairs,
           CAST(coalesce(sum(nsb), 0) AS BIGINT) AS total_band_hits,
           coalesce(min(doc_a), -1) AS min_doc_a
    FROM pairs"""


def t_decontaminate_spark(spark, sf_dir, p):
    from pyspark.sql import functions as F

    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (  # noqa: E501
        dedup,
    )
    from build_a_market_data_etl_strategy_backtesting_engine_spark.session import (  # noqa: E501
        load_tables,
    )

    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    ev = d.filter(F.col("doc_id") % p["mod"] == 0)
    tr = d.filter(F.col("doc_id") % p["mod"] != 0)
    return dedup.decontaminate(tr, ev, n=p["n"])


def t_decontaminate_sql(p):
    n, mod = p["n"], p["mod"]
    return f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents),
    g AS (SELECT doc_id, list_distinct(list_transform(
            generate_series(1, greatest(len(toks) - {n - 1}, 1)),
            i -> array_to_string(toks[i:i+{n - 1}], ' '))) AS grams
          FROM t),
    eg AS (SELECT DISTINCT unnest(grams) AS gram FROM g
           WHERE doc_id % {mod} = 0),
    tg AS (SELECT doc_id, unnest(grams) AS gram FROM g
           WHERE doc_id % {mod} <> 0)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
    FROM tg JOIN eg USING (gram) GROUP BY doc_id"""


def t_stratified_spark(spark, sf_dir, p):
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (  # noqa: E501
        sampling,
    )
    from build_a_market_data_etl_strategy_backtesting_engine_spark.session import (  # noqa: E501
        load_tables,
    )

    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    return sampling.stratified_sample(
        d, "doc_id", "lang", p["rates"], default_rate=p["default"],
        portable=True).select("doc_id", "lang", "source")


def t_stratified_sql(p):
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (  # noqa: E501
        sampling,
    )

    nb = sampling.N_BUCKETS
    cases = " ".join(
        f"WHEN '{lang}' THEN {int(round(rate * nb))}"
        for lang, rate in sorted(p["rates"].items()))
    dflt = int(round(p["default"] * nb))
    bucket = sampling.portable_bucket_sql("doc_id")
    return f"""
    SELECT doc_id, lang, source FROM documents
    WHERE {bucket} < (CASE lang {cases} ELSE {dflt} END)"""


def t_ngram_jaccard_spark(spark, sf_dir, p):
    from pyspark.sql import functions as F

    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (  # noqa: E501
        dedup,
    )
    from build_a_market_data_etl_strategy_backtesting_engine_spark.session import (  # noqa: E501
        load_tables,
    )

    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    grams = dedup.word_ngrams(d, p["n"]).distinct()
    src = d.select("doc_id", "source")
    grams = grams.join(src, "doc_id")
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("ng"))
    a = grams.select(F.col("doc_id").alias("doc_a"), "gram",
                     F.col("source").alias("_s"))
    b = grams.select(F.col("doc_id").alias("doc_b"), "gram",
                     F.col("source").alias("_s"))
    inter = (a.join(b, ["gram", "_s"])
             .filter(F.col("doc_a") < F.col("doc_b"))
             .groupBy("_s", "doc_a", "doc_b")
             .agg(F.count(F.lit(1)).alias("ni")))
    jac = (inter
           .join(sizes.select(F.col("doc_id").alias("doc_a"),
                              F.col("ng").alias("na")), "doc_a")
           .join(sizes.select(F.col("doc_id").alias("doc_b"),
                              F.col("ng").alias("nb")), "doc_b")
           .select(F.col("_s").alias("source"),
                   (F.col("ni") / (F.col("na") + F.col("nb") - F.col("ni")))
                   .alias("j")))
    per = jac.groupBy("source").agg(
        F.sum((F.col("j") >= p["thr"]).cast("int")).cast("bigint")
        .alias("n_similar"),
        F.sum("j").alias("_sum_j"), F.max("j").alias("_max_j"))
    totals = (src.groupBy("source")
              .agg(F.count(F.lit(1)).alias("_n"))
              .filter(F.col("_n") >= 2)
              .withColumn("n_pairs",
                          (F.col("_n") * (F.col("_n") - 1) / 2)
                          .cast("long")))
    return (totals.join(per, "source", "left")
            .select("source", "n_pairs",
                    F.coalesce("n_similar", F.lit(0)).cast("bigint")
                    .alias("n_similar"),
                    F.round(F.coalesce("_sum_j", F.lit(0.0))
                            / F.col("n_pairs"), 6).alias("avg_jaccard"),
                    F.round(F.coalesce("_max_j", F.lit(0.0)), 6)
                    .alias("max_jaccard")))


def t_ngram_jaccard_sql(p):
    n, thr = p["n"], p["thr"]
    return f"""
    WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t
                  FROM documents),
    g AS (SELECT doc_id, source,
                 list_distinct(list_transform(
                   generate_series(1, greatest(len(t) - {n - 1}, 1)),
                   i -> array_to_string(t[i:i+{n - 1}], ' '))) AS grams
          FROM toks),
    ex AS (SELECT doc_id, source, unnest(grams) AS gram FROM g),
    sizes AS (SELECT doc_id, len(grams) AS ng FROM g),
    inter AS (SELECT a.source AS source, a.doc_id AS da, b.doc_id AS db,
                     count(*) AS ni
              FROM ex a JOIN ex b
                ON a.gram = b.gram AND a.source = b.source
               AND a.doc_id < b.doc_id
              GROUP BY 1, 2, 3),
    jac AS (SELECT i.source, i.ni / (sa.ng + sb.ng - i.ni) AS j
            FROM inter i JOIN sizes sa ON sa.doc_id = i.da
                         JOIN sizes sb ON sb.doc_id = i.db),
    per AS (SELECT source,
                   CAST(sum(CASE WHEN j >= {thr!r}::DOUBLE THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_similar,
                   sum(j) AS sum_j, max(j) AS max_j
            FROM jac GROUP BY source),
    tot AS (SELECT source, count(*) AS n_docs,
                   CAST(count(*) * (count(*) - 1) / 2 AS BIGINT) AS n_pairs
            FROM g GROUP BY source HAVING count(*) >= 2)
    SELECT t.source, t.n_pairs,
           coalesce(p.n_similar, 0) AS n_similar,
           round(coalesce(p.sum_j, 0.0e0) / t.n_pairs, 6) AS avg_jaccard,
           round(coalesce(p.max_j, 0.0e0), 6) AS max_jaccard
    FROM tot t LEFT JOIN per p ON p.source = t.source"""


def t_stream_enrich_spark(spark, sf_dir, p):
    from pyspark.sql import functions as F

    from build_a_market_data_etl_strategy_backtesting_engine_spark.streaming.joins import (  # noqa: E501
        streaming_asof_enrich,
        streaming_quote_enrich,
    )

    ck = _ticks(spark, sf_dir).filter(F.col("symbol") == "click")
    trades = ck.filter(F.col("seq") % p["mod"] == 0)
    quotes = (
        ck.groupBy("symbol", "ts")
        .agg(F.max("price").alias("_p"))
        .select(
            "symbol",
            (F.col("ts") - F.expr(f"INTERVAL {p['shift']} SECONDS"))
            .alias("ts"),
            (F.col("_p") - 0.01).alias("bid"),
            (F.col("_p") + 0.01).alias("ask"),
        )
    )
    # both implementations must satisfy the same oracle: the interval
    # join + election and the merge-based scale path (r8)
    impl = (streaming_asof_enrich if p["impl"] == "merge"
            else streaming_quote_enrich)
    out = impl(trades, quotes, tolerance=f"{p['tol']} seconds")
    return out.select(
        "symbol", F.unix_micros("ts").alias("ts_us"), "seq",
        "price", "volume", "bid", "ask", "mid", "spread", "quote_age_us")


def t_stream_enrich_sql(p):
    mod, shift, tol = p["mod"], p["shift"], p["tol"]
    return f"""
    WITH {_ticks_cte()},
    ck AS (SELECT * FROM ticks WHERE symbol = 'click'),
    tr AS (SELECT symbol, ts, seq, price, volume FROM ck
           WHERE seq % {mod} = 0),
    qt AS (SELECT symbol, ts - INTERVAL {shift} SECONDS AS ts,
                  max(price) - 1.0e-2 AS bid,
                  max(price) + 1.0e-2 AS ask
           FROM ck GROUP BY symbol, ts),
    j AS (SELECT t.symbol, t.ts, t.seq, t.price, t.volume,
                 q.ts AS q_ts, q.bid, q.ask
          FROM tr t ASOF LEFT JOIN qt q
            ON t.symbol = q.symbol AND q.ts <= t.ts),
    tol AS (SELECT symbol, ts, seq, price, volume,
                   CASE WHEN q_ts >= ts - INTERVAL {tol} SECONDS
                        THEN q_ts END AS q_ts,
                   CASE WHEN q_ts >= ts - INTERVAL {tol} SECONDS
                        THEN bid END AS bid,
                   CASE WHEN q_ts >= ts - INTERVAL {tol} SECONDS
                        THEN ask END AS ask
            FROM j)
    SELECT symbol, epoch_us(ts) AS ts_us, seq, price, volume, bid, ask,
           round((bid + ask) / 2.0e0, 8) AS mid,
           round(ask - bid, 8) AS spread,
           epoch_us(ts) - epoch_us(q_ts) AS quote_age_us
    FROM tol"""


def t_chunk_budget_spark(spark, sf_dir, p):
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (  # noqa: E501
        sampling,
    )
    from build_a_market_data_etl_strategy_backtesting_engine_spark.session import (  # noqa: E501
        load_tables,
    )
    from pyspark.sql import functions as F

    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    d = d.withColumn("n_tok", F.size(F.split("text", " ")))
    out = sampling.pack_token_budget(d, "n_tok", "doc_id", p["budget"])
    return out.select("doc_id", "n_tok", "bin")


def t_chunk_budget_sql(p):
    return f"""
    WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tok
               FROM documents),
    r AS (SELECT doc_id, n_tok,
                 coalesce(sum(n_tok) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS start
          FROM t)
    SELECT doc_id, CAST(n_tok AS INTEGER) AS n_tok,
           CAST(floor(start / {p["budget"]}) AS BIGINT) AS bin
    FROM r"""


def t_binom_chunked_spark(spark, sf_dir, p):
    """Chunked binomial pricer vs the DuckDB recursive-CTE oracle: the
    chunk size is a fuzz axis, so the hash-class split, parquet spill
    and unpersist sweep are all inside the compared computation."""
    from pyspark.sql import functions as F

    from build_a_market_data_etl_strategy_backtesting_engine_spark.functions import (  # noqa: E501
        derivatives as deriv,
    )
    from build_a_market_data_etl_strategy_backtesting_engine_spark.session import (  # noqa: E501
        load_tables,
    )

    t = load_tables(spark, sf_dir, ["part"])["part"].filter(
        F.col("p_partkey") <= p["n"])
    opts = t.select(
        F.col("p_partkey").alias("id"),
        F.col("p_retailprice").alias("s"),
        (F.col("p_retailprice") * p["strike"]).alias("k"),
        F.lit(0.5).alias("t_y"),
        F.lit(0.02).alias("r"),
        (0.15 + (F.col("p_partkey") % 30).cast("double") / 100.0)
        .alias("sigma"),
    )
    return deriv.binomial_american(
        spark, opts, n_steps=p["steps"], call=p["call"],
        chunk_rows=p["chunk_rows"])


def t_binom_chunked_sql(p):
    from build_a_market_data_etl_strategy_backtesting_engine_spark.functions import (  # noqa: E501
        derivatives as deriv,
    )

    opts_sql = f"""SELECT p_partkey AS id, p_retailprice AS s,
           p_retailprice * {p["strike"]} AS k, 0.5e0 AS t_y,
           2.0e-2 AS r,
           1.5e-1 + CAST(p_partkey % 30 AS DOUBLE) / 100.0e0 AS sigma
    FROM part WHERE p_partkey <= {p["n"]}"""
    return deriv.binomial_american_sql(
        opts_sql, n_steps=p["steps"], call=p["call"], dialect="duckdb")


def t_cc_star_spark(spark, sf_dir, p):
    """Connected components vs a CLOSED-FORM oracle: edges chain consecutive
    dense ranks except at every gap-th boundary, so components are the
    rank runs [m*gap, (m+1)*gap) and the cluster label is analytically
    the run head's doc_id — an oracle independent of any CC algorithm,
    with component diameter = gap (the adversarial axis for star
    rounds)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (  # noqa: E501
        dedup,
    )
    from build_a_market_data_etl_strategy_backtesting_engine_spark.session import (  # noqa: E501
        load_tables,
    )

    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    rid = (d.select("doc_id")
           .withColumn("rid", F.row_number().over(
               Window.orderBy("doc_id")) - 1))
    gap = p["gap"]
    nxt = rid.select((F.col("rid") - 1).alias("rid"),
                     F.col("doc_id").alias("doc_b"))
    edges = (rid.filter(F.pmod("rid", F.lit(gap)) != gap - 1)
             .join(nxt, "rid")
             .select(F.col("doc_id").alias("doc_a"), "doc_b"))
    labels = dedup.connected_components(edges, d.select("doc_id"))
    return labels.select("doc_id", "cluster")


def t_cc_star_sql(p):
    gap = p["gap"]
    return f"""
    WITH r AS (SELECT doc_id,
                      row_number() OVER (ORDER BY doc_id) - 1 AS rid
               FROM documents),
    heads AS (SELECT rid - (rid % {gap}) AS hrid, doc_id FROM r
              WHERE rid % {gap} = 0)
    SELECT r.doc_id, h.doc_id AS cluster
    FROM r JOIN heads h ON h.hrid = r.rid - (r.rid % {gap})"""


def t_asof_auto_spark(spark, sf_dir, p):
    """auto-dispatch boundary fuzz (r9 VERDICT #7): randomize the quote
    density (qmod x tol) AND the amplification ceiling around the
    dispatch boundary, then pin asof_enrich and BOTH implementations it
    chooses between (streaming_quote_enrich = "join",
    streaming_asof_enrich = "merge") on the same frame against one SQL
    oracle — transitively auto == join == merge, with the boundary
    crossed in both directions across seeds."""
    from pyspark.sql import functions as F

    from build_a_market_data_etl_strategy_backtesting_engine_spark.streaming.joins import (  # noqa: E501
        asof_enrich,
        streaming_asof_enrich,
        streaming_quote_enrich,
    )

    ck = _ticks(spark, sf_dir).filter(F.col("symbol") == "click")
    trades = ck.filter(F.col("seq") % p["mod"] == 0)
    quotes = (
        ck.filter(F.pmod("seq", F.lit(p["qmod"])) == 0)
        .groupBy("symbol", "ts")
        .agg(F.max("price").alias("_p"))
        .select(
            "symbol",
            (F.col("ts") - F.expr(f"INTERVAL {p['shift']} SECONDS"))
            .alias("ts"),
            (F.col("_p") - 0.01).alias("bid"),
            (F.col("_p") + 0.01).alias("ask"),
        )
    )
    tol = f"{p['tol']} seconds"
    outs = [
        asof_enrich(trades, quotes, tolerance=tol,
                    max_join_amplification=p["amp"])
        .withColumn("mode", F.lit("auto")),
        streaming_quote_enrich(trades, quotes, tolerance=tol)
        .withColumn("mode", F.lit("join")),
        streaming_asof_enrich(trades, quotes, tolerance=tol)
        .withColumn("mode", F.lit("merge")),
    ]
    u = outs[0].unionByName(outs[1]).unionByName(outs[2])
    return u.select(
        "mode", "symbol", F.unix_micros("ts").alias("ts_us"), "seq",
        "price", "volume", "bid", "ask", "mid", "spread", "quote_age_us")


def t_asof_auto_sql(p):
    mod, qmod, shift, tol = p["mod"], p["qmod"], p["shift"], p["tol"]
    return f"""
    WITH {_ticks_cte()},
    ck AS (SELECT * FROM ticks WHERE symbol = 'click'),
    tr AS (SELECT symbol, ts, seq, price, volume FROM ck
           WHERE seq % {mod} = 0),
    qt AS (SELECT symbol, ts - INTERVAL {shift} SECONDS AS ts,
                  max(price) - 1.0e-2 AS bid,
                  max(price) + 1.0e-2 AS ask
           FROM ck WHERE seq % {qmod} = 0 GROUP BY symbol, ts),
    j AS (SELECT t.symbol, t.ts, t.seq, t.price, t.volume,
                 q.ts AS q_ts, q.bid, q.ask
          FROM tr t ASOF LEFT JOIN qt q
            ON t.symbol = q.symbol AND q.ts <= t.ts),
    tol AS (SELECT symbol, ts, seq, price, volume,
                   CASE WHEN q_ts >= ts - INTERVAL {tol} SECONDS
                        THEN q_ts END AS q_ts,
                   CASE WHEN q_ts >= ts - INTERVAL {tol} SECONDS
                        THEN bid END AS bid,
                   CASE WHEN q_ts >= ts - INTERVAL {tol} SECONDS
                        THEN ask END AS ask
            FROM j)
    SELECT m.mode, symbol, epoch_us(ts) AS ts_us, seq, price, volume,
           bid, ask,
           round((bid + ask) / 2.0e0, 8) AS mid,
           round(ask - bid, 8) AS spread,
           epoch_us(ts) - epoch_us(q_ts) AS quote_age_us
    FROM tol CROSS JOIN (VALUES ('auto'), ('join'), ('merge'))
        AS m(mode)"""


TARGETS.update({
    "asof_auto": {
        "sample": lambda r: {"mod": r.choice([5, 10, 20]),
                             "qmod": r.choice([1, 2, 5]),
                             "shift": r.choice([10, 30, 90]),
                             "tol": r.choice([5, 30, 120, 600]),
                             "amp": r.choice([1.0, 4.0, 32.0, 256.0,
                                              1e6])},
        "spark": t_asof_auto_spark, "sql": t_asof_auto_sql,
    },
    "binom_chunked": {
        "sample": lambda r: {"n": r.randint(25, 70),
                             "steps": r.choice([8, 12, 16, 24]),
                             "chunk_rows": r.randint(3, 13),
                             "strike": r.choice([0.9, 1.0, 1.05, 1.2]),
                             "call": r.random() < 0.5},
        "spark": t_binom_chunked_spark, "sql": t_binom_chunked_sql,
    },
    "cc_star": {
        "sample": lambda r: {"gap": r.choice([1, 2, 3, 7, 25, 80])},
        "spark": t_cc_star_spark, "sql": t_cc_star_sql,
    },
    "lsh_banding": {
        "sample": lambda r: (lambda b: {
            "h": b * r.choice([2, 3, 4]),
            "b": b,
            "k": r.choice([3, 4, 5, 7]),
            "cap": r.choice([None, 2, 5, 20, 200])})(r.choice([2, 3, 4])),
        "spark": t_lsh_spark, "sql": t_lsh_sql,
    },
    "decontaminate": {
        "sample": lambda r: {"n": r.randint(2, 5),
                             "mod": r.choice([20, 50, 100])},
        "spark": t_decontaminate_spark, "sql": t_decontaminate_sql,
    },
    "stratified_sample": {
        "sample": lambda r: {
            "rates": {lang: r.choice([0.0, 0.05, 0.1, 0.25, 0.5, 1.0])
                      for lang in ["en", "de", "es", "fr", "zh"]},
            "default": r.choice([0.0, 0.1])},
        "spark": t_stratified_spark, "sql": t_stratified_sql,
    },
    "ngram_jaccard": {
        "sample": lambda r: {"n": r.randint(2, 5),
                             "thr": r.choice([0.01, 0.05, 0.1, 0.3])},
        "spark": t_ngram_jaccard_spark, "sql": t_ngram_jaccard_sql,
    },
    "stream_enrich": {
        "sample": lambda r: {"mod": r.choice([5, 10, 20]),
                             "shift": r.choice([10, 30, 90, 300]),
                             "tol": r.choice([30, 120, 600, 3600]),
                             "impl": r.choice(["join", "merge"])},
        "spark": t_stream_enrich_spark, "sql": t_stream_enrich_sql,
    },
    "token_packing": {
        "sample": lambda r: {"budget": r.choice([256, 1024, 4096, 16384])},
        "spark": t_chunk_budget_spark, "sql": t_chunk_budget_sql,
    },
})


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.001")
    ap.add_argument("--n", type=int, default=50)
    ap.add_argument("--seed", type=int, default=None)
    ap.add_argument("--only", default=None,
                    help="comma-separated target names")
    args = ap.parse_args()

    seed = args.seed
    if seed is None:
        # different slice each round, reproducible within one
        seed = int(os.environ.get("FUZZ_SEED", "0")) or (
            os.path.getmtime(__file__).__trunc__() % 100_000)
    rng = random.Random(seed)
    print(f"fuzz seed={seed} n={args.n} sf={args.sf_dir}")

    from build_a_market_data_etl_strategy_backtesting_engine_spark import (
        get_spark,
    )

    spark = get_spark("fuzz-sweep", shuffle_partitions=16)
    con = duck_connection(args.sf_dir)

    names = sorted(TARGETS)
    if args.only:
        names = [n for n in names if n in set(args.only.split(","))]
    fails = 0
    for i in range(args.n):
        tname = names[i % len(names)]
        t = TARGETS[tname]
        p = t["sample"](rng)
        label = f"{tname}{p}"
        try:
            rep = compare_query(
                spark, con,
                lambda s, d, _t=t, _p=p: _t["spark"](s, d, _p),
                t["sql"](p), label, args.sf_dir)
        except Exception as exc:
            rep = {"ok": False,
                   "errors": [f"EXCEPTION: {type(exc).__name__}: {exc}"]}
        status = "PASS" if rep["ok"] else "FAIL"
        print(f"[{status}] {label}")
        if not rep["ok"]:
            fails += 1
            for e in rep["errors"]:
                print(f"        {str(e)[:400]}")
    print(f"\n{args.n - fails} pass, {fails} fail (seed={seed})")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
