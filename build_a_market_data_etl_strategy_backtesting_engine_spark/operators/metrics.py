"""Performance metrics — one-row-per-symbol aggregates over backtest results.

Reference: ``/root/reference/backtesting/metrics.py`` (PerformanceMetrics,
defaults risk_free_rate=0.02, periods_per_year=252, :11-34; full set
assembled by get_all_metrics :279-301). Each metric is a guarded aggregate
expression; the whole suite evaluates as ONE hash aggregation over the
results frame (plus a windowed pre-pass for the streak metrics, which need
gaps-and-islands).

Determinism: first/last-in-time use ``min_by/max_by(value, ts)``; the streak
islands use explicit window ordering.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from build_a_market_data_etl_strategy_backtesting_engine_spark.sqlapi import (
    sql_double,
    sql_ident,
)

RISK_FREE_RATE = 0.02
PERIODS_PER_YEAR = 252


def _over(group: Sequence[str], ts_col: str, running: bool = False) -> str:
    """``OVER (PARTITION BY group ORDER BY ts [ROWS ...])`` window text;
    ``running`` adds the unbounded-preceding-to-current-row frame."""
    spec = [f"PARTITION BY {', '.join(map(sql_ident, group))}"] if group else []
    spec.append(f"ORDER BY {sql_ident(ts_col)}")
    if running:
        spec.append("ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW")
    return f"OVER ({' '.join(spec)})"


def _runmax_sql(eq: str, group: Sequence[str], ts_col: str) -> str:
    """Running maximum of the equity curve."""
    return f"max({eq}) {_over(group, ts_col, True)}"


def _drawdown_sql(eq: str, runmax: str) -> str:
    """Per-bar drawdown = (equity - running_max)/running_max
    (metrics.py:133-150, risk_monitor.py:95-106)."""
    return f"({eq} - {runmax}) / {runmax}"


def _streak_sql(r: str, group: Sequence[str], ts_col: str):
    """Gaps-and-islands streak staging, one layer per window dependency:
    ``_flag`` = sign bucket of the return, ``_grp`` = island id (running
    count of flag changes), ``_streak`` = row_number within (group,
    island); plus the two aggregates reading them."""
    lag = f"lag(_flag, 1) {_over(group, ts_col)}"
    flag = f"CASE WHEN {r} > 0 THEN 1 WHEN {r} < 0 THEN -1 ELSE 0 END AS _flag"
    grp = (f"sum(CASE WHEN ({lag} IS NULL) OR (_flag != {lag}) THEN 1 "
           f"ELSE 0 END) {_over(group, ts_col, True)} AS _grp")
    streak = f"row_number() {_over([*group, '_grp'], ts_col)} AS _streak"
    aggs = [
        "coalesce(max(CASE WHEN _flag = 1 THEN _streak END), 0)"
        " AS max_consecutive_wins",
        "coalesce(max(CASE WHEN _flag = -1 THEN _streak END), 0)"
        " AS max_consecutive_losses",
    ]
    return flag, grp, streak, aggs


def _agg(df: DataFrame, group: Sequence[str], aggs: list[str]) -> DataFrame:
    exprs = [F.expr(a) for a in aggs]
    return df.groupBy(*group).agg(*exprs) if group else df.agg(*exprs)


def compute_metrics(
    results: DataFrame,
    returns_col: str = "net_returns",
    equity_col: str = "equity",
    position_col: str = "position",
    symbol_col: str | None = "symbol",
    ts_col: str = "ts",
    risk_free_rate: float = RISK_FREE_RATE,
    periods_per_year: int = PERIODS_PER_YEAR,
    include_streaks: bool = True,
) -> DataFrame:
    """Compute the full scalar metric suite.

    Accepts either ``net_returns`` or ``equity`` (derives the other like
    metrics.py:28-34). Output: one row per symbol with columns
    total_return, cagr, volatility, sharpe_ratio, sortino_ratio, max_drawdown,
    calmar_ratio, win_rate, profit_factor, num_trades, exposure, avg_win,
    avg_loss, n_periods [, max_consecutive_wins, max_consecutive_losses].

    Every expression is SQL text, parsed JVM-side: the staging columns
    arrive in one ``selectExpr`` per window-dependency layer (each call
    re-analyzes the whole upstream lineage, guide §7.3) and the aggregates
    in one ``agg``, so a build costs about a hundred py4j round trips
    instead of the ~1,450 of a Column-API composition.
    """
    group = [symbol_col] if symbol_col else []
    cols = set(results.columns)
    has_equity = equity_col in cols
    has_position = position_col in cols
    df = results
    r, eq, pos = map(sql_ident, (returns_col, equity_col, position_col))

    if returns_col not in cols and has_equity:
        df = df.selectExpr(
            "*", f"coalesce({eq} / lag({eq}, 1) {_over(group, ts_col)} - 1,"
            f" 0.0D) AS {r}")

    # drawdown pre-pass: equity (or synthetic cumprod equity), running max
    eq_src = (eq if has_equity else
              f"exp(sum(log1p({r})) {_over(group, ts_col, True)})")
    batch1 = [f"{eq_src} AS _eq"]
    batch2 = [f"{_runmax_sql('_eq', group, ts_col)} AS _runmax"]
    batch3 = [f"{_drawdown_sql('_eq', '_runmax')} AS _dd"]

    # trade detection (metrics.py:194-206): position.diff() != 0
    if has_position:
        batch1.append(
            f"CAST({pos} - coalesce(lag({pos}, 1) {_over(group, ts_col)},"
            " 0.0D) != 0 AS INT) AS _trade_flag")
        num_trades = "sum(_trade_flag)"
        exposure = f"sum(CAST({pos} != 0 AS BIGINT)) / count(1)"
    else:
        batch1.append("CAST(NULL AS INT) AS _trade_flag")
        num_trades = f"sum(CAST({r} != 0 AS BIGINT))"
        exposure = "1.0D"

    rf = sql_double(risk_free_rate / periods_per_year)
    ann = sql_double(math.sqrt(periods_per_year))
    total_return = f"(exp(sum(log1p({r}))) - 1)"
    years = f"(count(1) / {sql_double(periods_per_year)})"
    cagr = (f"CASE WHEN {years} > 0 THEN power({total_return} + 1, "
            f"1.0D / {years}) - 1 ELSE 0.0D END")
    ex = f"({r} - {rf})"
    downside = f"stddev_samp(CASE WHEN {ex} < 0 THEN {ex} END)"
    nonzero = f"sum(CAST({r} != 0 AS BIGINT))"
    gains = f"sum(CASE WHEN {r} > 0 THEN {r} END)"
    losses = f"abs(sum(CASE WHEN {r} < 0 THEN {r} END))"
    aggs = [
        "count(1) AS n_periods",
        f"{total_return} AS total_return",
        f"{cagr} AS cagr",
        f"stddev_samp({r}) * {ann} AS volatility",
        f"CASE WHEN stddev_samp({ex}) > 0 THEN avg({ex}) / stddev_samp({ex})"
        f" * {ann} ELSE 0.0D END AS sharpe_ratio",
        f"CASE WHEN {downside} > 0 THEN avg({ex}) / {downside} * {ann}"
        " ELSE 0.0D END AS sortino_ratio",
        "min(_dd) AS max_drawdown",
        f"CASE WHEN abs(min(_dd)) > 0 THEN ({cagr}) / abs(min(_dd))"
        " ELSE 0.0D END AS calmar_ratio",
        # win_rate: wins / non-zero periods (metrics.py:166-178)
        f"CASE WHEN {nonzero} > 0 THEN sum(CAST({r} > 0 AS BIGINT)) / "
        f"{nonzero} ELSE 0.0D END AS win_rate",
        # profit_factor: gross profit / |gross loss| (metrics.py:180-192)
        f"CASE WHEN {losses} > 0 THEN {gains} / {losses} ELSE CASE WHEN "
        f"{gains} > 0 THEN CAST('Infinity' AS DOUBLE) ELSE 0.0D END END"
        " AS profit_factor",
        f"{num_trades} AS num_trades",
        f"{exposure} AS exposure",
        f"coalesce(avg(CASE WHEN {r} > 0 THEN {r} END), 0.0D) AS avg_win",
        f"coalesce(avg(CASE WHEN {r} < 0 THEN {r} END), 0.0D) AS avg_loss",
    ]
    if include_streaks:
        # Fold the gaps-and-islands streak computation into the SAME
        # single pass instead of joining consecutive_streaks() back (the
        # join formulation recomputed the entire upstream lineage - the
        # kernel, its scan, its windows - as a second plan subtree). The
        # island window partitions by (group, _grp): hash(group) already
        # satisfies that clustering, so both extra windows ride the ONE
        # existing exchange as additional sorts, and the streak maxes
        # join the main aggregation for free.
        flag, grp, streak, streak_aggs = _streak_sql(r, group, ts_col)
        batch1.append(flag)
        batch2.append(grp)
        batch3.append(streak)
        aggs += streak_aggs
    df = (df.selectExpr("*", *batch1).selectExpr("*", *batch2)
          .selectExpr("*", *batch3))
    return _agg(df, group, aggs)


def consecutive_streaks(
    results: DataFrame,
    returns_col: str = "net_returns",
    group: Sequence[str] = ("symbol",),
    ts_col: str = "ts",
) -> DataFrame:
    """Max consecutive win / loss streaks via gaps-and-islands
    (metrics.py:208-238) — the same staging as ``compute_metrics``'s
    streak columns, as a standalone aggregate."""
    group = list(group)
    flag, grp, streak, aggs = _streak_sql(sql_ident(returns_col), group, ts_col)
    df = (results.selectExpr("*", flag).selectExpr("*", grp)
          .selectExpr("*", streak))
    return _agg(df, group, aggs)


def drawdown_series(
    results: DataFrame,
    equity_col: str = "equity",
    symbol_col: str | None = "symbol",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-bar ``running_max`` and ``drawdown`` columns, with the same
    fragments ``compute_metrics`` aggregates into ``max_drawdown``."""
    group = [symbol_col] if symbol_col else []
    eq = sql_ident(equity_col)
    return results.withColumn(
        "running_max", F.expr(_runmax_sql(eq, group, ts_col))
    ).withColumn("drawdown", F.expr(_drawdown_sql(eq, "running_max")))


def summary(metrics_row: dict) -> dict:
    """Shape a collected metrics row like ``BacktestEngine.get_summary``
    (engine.py:85-99)."""
    keys = [
        "total_return", "cagr", "volatility", "sharpe_ratio", "sortino_ratio",
        "max_drawdown", "calmar_ratio", "win_rate", "profit_factor",
        "num_trades", "exposure", "avg_win", "avg_loss",
    ]
    return {k: metrics_row.get(k) for k in keys}


def drawdown_episodes(
    df: DataFrame,
    top: int = 3,
    symbol_col: str = "symbol",
    ts_col: str = "ts",
    equity_col: str = "close",
) -> DataFrame:
    """Top-``top`` deepest drawdown episodes per symbol, as a table of
    (start, end, duration, depth) — the drawdown *table* a tear-sheet
    shows, vs the per-row drawdown series of ``with_drawdown``.

    Gaps-and-islands: a row is underwater when equity < running max
    (strict — the peak row itself is not underwater); an episode is a
    maximal run of underwater rows, identified by the running count of
    non-underwater rows (island id). Depth is the episode's worst
    equity/runmax - 1. Exact-equality FP note: runmax is a max over
    copies of the input values, so the strict < compares identical
    doubles — no tolerance needed.

    Shape: one (symbol, ts) window sort shared by runmax + island id,
    one map-combinable episode agg, one top-k window over episodes (rows
    per symbol = episode count, already tiny).
    """
    w = Window.partitionBy(symbol_col).orderBy(ts_col)
    w_all = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    runmax = F.max(equity_col).over(w_all)
    base = df.select(
        symbol_col, ts_col, F.col(equity_col).alias("_eq"),
        runmax.alias("_runmax"),
    ).withColumn(
        "_under", F.col("_eq") < F.col("_runmax")
    ).withColumn(
        "_island",
        F.sum((~F.col("_under")).cast("long")).over(w_all),
    )
    eps = (
        base.where(F.col("_under"))
        .groupBy(symbol_col, "_island")
        .agg(
            F.min(ts_col).alias("start_ts"),
            F.max(ts_col).alias("end_ts"),
            F.count(F.lit(1)).alias("duration"),
            F.min(F.col("_eq") / F.col("_runmax") - 1.0).alias("depth"),
        )
    )
    rank = F.row_number().over(
        Window.partitionBy(symbol_col).orderBy(
            F.asc("depth"), F.asc("start_ts")
        )
    )
    return (
        eps.withColumn("rank", rank)
        .where(F.col("rank") <= top)
        .select(symbol_col, "rank", "start_ts", "end_ts", "duration",
                "depth")
    )


def bootstrap_sharpe_ci(
    returns: DataFrame,
    n_boot: int = 200,
    alpha: float = 0.05,
    periods_per_year: int = 252,
    ts_col: str = "ts",
    returns_col: str = "r",
) -> DataFrame:
    """Bootstrap confidence interval for the annualized Sharpe ratio —
    the statistical-significance gate a backtest report should carry
    (a Sharpe whose CI straddles 0 is noise).

    I.i.d. bootstrap (documented simplification vs block bootstrap for
    autocorrelated series): resample b draws row index
    ``j = floor(u * n)`` with the deterministic md5 uniform keyed by
    (b, i) — every engine, executor and retry replays the identical
    resamples, so the CI is reproducible and oracle-verifiable. The CI
    is the exact interpolated percentile of the B resampled Sharpes
    (the VaR percentile discipline).

    Shape at 100 TB: the fan-out is rows x B via a map-side explode,
    the index join is a hash equi-join on the row index, each resample
    reduces map-combinably. For long series, bootstrap a bar-level
    aggregate, not the tape.
    """
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators.sampling import (
        portable_uniform,
    )

    r = returns.select(
        F.col(returns_col).alias("r"),
        (
            F.row_number().over(Window.orderBy(ts_col)) - 1
        ).alias("idx"),
    )
    n_frame = r.agg(F.count(F.lit(1)).alias("n"))
    b = F.explode(
        F.sequence(F.lit(1), F.lit(int(n_boot)))
    ).alias("b")
    i = F.explode(F.sequence(F.lit(0), F.col("n") - 1)).alias("i")
    draws = (
        n_frame.select(b, "n").select("b", "n", i)
        .withColumn(
            "idx",
            F.floor(
                portable_uniform(
                    F.concat_ws("-", F.col("b"), F.col("i"))
                )
                * F.col("n")
            ).cast("long"),
        )
    )
    resampled = draws.join(r, "idx")
    ann = math.sqrt(float(periods_per_year))
    sharpes = resampled.groupBy("b").agg(
        (F.avg("r") / F.stddev_samp("r") * ann).alias("sharpe")
    )
    # exact interpolated percentiles over the B resamples
    lo, hi = alpha / 2.0, 1.0 - alpha / 2.0
    base = returns.agg(
        F.count(F.lit(1)).alias("n_obs"),
        (F.avg(returns_col) / F.stddev_samp(returns_col) * ann)
        .alias("sharpe_hat"),
    )
    ci = sharpes.agg(
        F.percentile("sharpe", F.lit(lo)).alias("ci_lo"),
        F.percentile("sharpe", F.lit(hi)).alias("ci_hi"),
        F.count(F.lit(1)).alias("n_boot"),
    )
    return base.crossJoin(F.broadcast(ci)).select(
        "n_obs", "sharpe_hat", "n_boot", "ci_lo", "ci_hi",
        (F.col("ci_lo") > 0).alias("significant"),
    )
