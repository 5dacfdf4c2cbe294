"""Exponentially-weighted moving statistics (EWM / MACD).

Spark has no native EWM window aggregate (SURVEY §7.7.2). Two implementations:

1. ``ewm_mean`` — Arrow-batched ``applyInPandas`` per symbol running pandas
   ``ewm(span).mean()``: exact pandas parity (the reference's semantics at
   ``/root/reference/backtesting/ml_strategy.py:151-155``,
   ``portfolio_optimization.py:39-41``). Per-symbol groups scale out across
   the cluster; within a symbol EWM is inherently sequential.

2. ``ewm_mean_expr`` — closed-form column expression for the adjust=True
   weighting: y_t = sum_i x_i*(1-a)^(-i) / sum_i (1-a)^(-i) over an unbounded
   running window (the (1-a)^t factor cancels in the ratio). Pure built-ins,
   stays JVM-side; numerically valid while (1-a)^(-n) stays in double range
   (n < ~700/ln(1/(1-a)) rows per partition) — fine for bar-level series,
   use the pandas path for very long tick series.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def ewm_alpha(span: int) -> float:
    return 2.0 / (span + 1.0)


def ewm_mean(
    df: DataFrame,
    span: int,
    value_col: str = "close",
    symbol_col: str = "symbol",
    ts_col: str = "ts",
    out_col: str = "ewm",
) -> DataFrame:
    """pandas-exact EWM mean (adjust=True) per symbol."""
    schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    ) + f", `{out_col}` double"

    def _run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts_col).reset_index(drop=True)
        pdf[out_col] = pdf[value_col].ewm(span=span, adjust=True).mean()
        return pdf

    return df.groupBy(symbol_col).applyInPandas(_run, schema=schema)


def ewm_mean_expr(
    value_col: str,
    span: int,
    w: Window,
) -> Column:
    """Closed-form EWM over window spec ``w`` (must be partitioned+ordered)."""
    alpha = ewm_alpha(span)
    beta_inv = 1.0 / (1.0 - alpha)
    w_cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    i = F.row_number().over(w) - 1
    u = F.pow(F.lit(beta_inv), i)
    num = F.sum(F.col(value_col) * u).over(w_cum)
    den = F.sum(u).over(w_cum)
    return num / den


def macd(
    df: DataFrame,
    fast: int = 12,
    slow: int = 26,
    signal: int = 9,
    value_col: str = "close",
    symbol_col: str = "symbol",
    ts_col: str = "ts",
) -> DataFrame:
    """MACD line/signal/histogram, pandas-exact (ml_strategy.py:151-155)."""
    schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", `macd` double, `macd_signal` double, `macd_hist` double"

    def _run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts_col).reset_index(drop=True)
        fast_e = pdf[value_col].ewm(span=fast, adjust=True).mean()
        slow_e = pdf[value_col].ewm(span=slow, adjust=True).mean()
        pdf["macd"] = fast_e - slow_e
        pdf["macd_signal"] = pdf["macd"].ewm(span=signal, adjust=True).mean()
        pdf["macd_hist"] = pdf["macd"] - pdf["macd_signal"]
        return pdf

    return df.groupBy(symbol_col).applyInPandas(_run, schema=schema)


# ------------------------------------------- RiskMetrics EWMA volatility


def unroll_row_bound(decay: float) -> int:
    """Rows per partition before ``decay^(-n)`` overflows a double, with a
    10% safety margin (ln(DBL_MAX) ≈ 709.78). The validity envelope of
    every closed-form unroll in this module: ~6,000 rows at beta=0.90,
    ~10,300 at lam=0.94. ``decay >= 1`` (the EWMA boundary / IGARCH
    parameterizations) and ``decay <= 0`` (``lam=0``, ARCH(1)) have NO
    valid unroll — bound 0, so the recursion always runs there."""
    import math

    decay = float(decay)
    if decay <= 0.0 or decay >= 1.0:
        return 0
    return int(0.9 * 709.78 / math.log(1.0 / decay))


def _fits_unroll(with_r: DataFrame, symbol_col: str, decay: float) -> bool:
    """The unroll-or-recursion choice: the closed form runs only when every
    key's row count is inside :func:`unroll_row_bound`. Checking that
    costs one eager count aggregation (1 scalar to the driver), skipped
    when the bound is 0."""
    bound = unroll_row_bound(decay)
    if bound == 0:
        return False
    row = with_r.groupBy(symbol_col).count().agg(F.max("count")).first()
    return int(row[0] or 0) <= bound


def _require_nonnegative(**params: float) -> None:
    for name, value in params.items():
        if float(value) < 0.0:
            raise ValueError(f"{name}={value}: must be >= 0")


def _returns(bars: DataFrame, close_col: str, symbol_col: str,
             ts_col: str) -> DataFrame:
    """``(symbol, ts, close, r)`` simple returns, first bar per symbol
    dropped. The input is projected to its three used columns first, so
    caller columns never collide with the staging names downstream."""
    w = Window.partitionBy(symbol_col).orderBy(ts_col)
    prev = F.lag(close_col).over(w)
    r = F.when(prev > 0, F.col(close_col) / prev - 1.0)
    return (bars.select(symbol_col, ts_col, close_col)
            .withColumn("r", r).where(F.col("r").isNotNull()))


def _key_ts_schema(df: DataFrame, symbol_col: str, ts_col: str,
                   value_fields: str) -> str:
    """applyInPandas output schema with the key/ts types taken from the
    INPUT (int symbol ids and numeric ts columns survive the switch to
    the recursion instead of hitting a hardcoded string/timestamp
    contract)."""
    sym_t = df.schema[symbol_col].dataType.simpleString()
    ts_t = df.schema[ts_col].dataType.simpleString()
    return (f"`{symbol_col}` {sym_t}, `{ts_col}` {ts_t}, "
            + value_fields)


def ewma_variance_expr(
    value_col: str,
    lam: float,
    w: Window,
) -> Column:
    """RiskMetrics EWMA variance of ``value_col`` (a returns column) as a
    closed-form window expression — the recursion
    ``v_t = lam * v_{t-1} + (1 - lam) * r_t^2`` seeded with
    ``v_1 = r_1^2``, unrolled to
    ``v_t = lam^i * (r_1^2 + (1-lam) * sum_{k>=2} lam^(-i_k) r_k^2)``
    (``i`` = 0-based row index), so it stays a pure JVM window expression
    like :func:`ewm_mean_expr`.

    Numerically valid while ``lam^(-n)`` stays in double range
    (n < ~709/ln(1/lam) ≈ 11,400 rows per partition at lam=0.94) — ample
    for bar-level series; :func:`ewma_volatility` switches to the
    recursion beyond that. ``w`` must be partitioned + ordered.
    """
    if not 0.0 < float(lam) < 1.0:
        raise ValueError(
            f"lam={lam}: the closed-form unroll needs 0 < lam < 1 — "
            "ewma_volatility runs the recursion there")
    w_cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    i = F.row_number().over(w) - 1
    u = F.pow(F.lit(1.0 / lam), i)
    r2 = F.col(value_col) * F.col(value_col)
    coeff = F.when(i == 0, 1.0).otherwise(1.0 - lam)
    s = F.sum(u * r2 * coeff).over(w_cum)
    return F.pow(F.lit(lam), i) * s


def ewma_volatility(
    bars: DataFrame,
    lam: float = 0.94,
    close_col: str = "close",
    symbol_col: str = "symbol",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-symbol RiskMetrics EWMA volatility from bar closes: simple
    returns, EWMA variance (lam = 0.94, the RiskMetrics daily decay),
    vol = sqrt(variance). Rows before the second bar carry NULLs (no
    return yet). The query itself is one (symbol, ts) window sort.

    The closed-form JVM unroll runs while rows/symbol stay inside
    :func:`unroll_row_bound` (one eager count aggregation checks that);
    past it, or at ``lam`` = 0 or 1, the sequential recursion runs via
    applyInPandas — misuse of the unroll past its overflow envelope is
    not possible (r3 VERDICT #7)."""
    _require_nonnegative(lam=lam)
    with_r = _returns(bars, close_col, symbol_col, ts_col)
    if _fits_unroll(with_r, symbol_col, lam):
        return _ewma_unroll(with_r, lam, symbol_col, ts_col)
    return _ewma_recursion(with_r, lam, symbol_col, ts_col)


def _ewma_unroll(with_r: DataFrame, lam: float, symbol_col: str,
                 ts_col: str) -> DataFrame:
    v = ewma_variance_expr(
        "r", lam, Window.partitionBy(symbol_col).orderBy(ts_col))
    return with_r.select(
        symbol_col, ts_col, "r",
        v.alias("ewma_var"),
        F.sqrt(v).alias("ewma_vol"),
    )


def _ewma_recursion(with_r: DataFrame, lam: float, symbol_col: str,
                    ts_col: str) -> DataFrame:
    lam_f = float(lam)

    def _run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts_col).reset_index(drop=True)
        v = None
        out = []
        for x in pdf["r"]:
            x = float(x)
            v = x * x if v is None else \
                lam_f * v + (1.0 - lam_f) * x * x
            out.append(v)
        pdf["ewma_var"] = out
        return pdf[[symbol_col, ts_col, "r", "ewma_var"]]

    schema = _key_ts_schema(with_r, symbol_col, ts_col,
                            "`r` double, `ewma_var` double")
    rec = with_r.select(symbol_col, ts_col, "r") \
        .groupBy(symbol_col).applyInPandas(_run, schema)
    return rec.select(
        symbol_col, ts_col, "r", "ewma_var",
        F.sqrt("ewma_var").alias("ewma_vol"),
    )


def garch_volatility(
    bars: DataFrame,
    alpha: float = 0.08,
    beta: float = 0.90,
    close_col: str = "close",
    symbol_col: str = "symbol",
    ts_col: str = "ts",
    periods_per_year: int = 252,
) -> DataFrame:
    """Per-symbol GARCH(1,1) conditional volatility from bar closes with
    variance targeting (omega pinned to the per-symbol sample variance) —
    the mean-reverting upgrade of RiskMetrics EWMA (:func:`ewma_volatility`
    is the alpha + beta = 1 boundary). One (symbol, ts) window sort plus
    one per-symbol variance agg joined back; everything else is JVM
    codegen. Emits r, h (conditional variance), and annualized vol.

    As in :func:`ewma_volatility`, the closed-form unroll runs while every
    symbol stays inside :func:`unroll_row_bound`(beta) rows (~6,000 at
    beta=0.90); past that, or at ``beta`` = 0 or 1, the applyInPandas
    recursion runs — the unroll's ``beta^(-n)`` would overflow."""
    _require_nonnegative(alpha=alpha, beta=beta)
    with_r = _returns(bars, close_col, symbol_col, ts_col)
    j = _with_vbar(with_r, symbol_col, ts_col)
    run = (_garch_unroll if _fits_unroll(with_r, symbol_col, beta)
           else _garch_recursion)
    return run(j, alpha, beta, symbol_col, ts_col, periods_per_year)


def _with_vbar(with_r: DataFrame, symbol_col: str,
               ts_col: str) -> DataFrame:
    """``with_r`` plus the per-symbol sample variance ``vbar`` of r."""
    w = Window.partitionBy(symbol_col).orderBy(ts_col)
    # vbar via ORDERED cumulative sums, not var_samp: a float var_samp is
    # a partial aggregate whose merge ORDER is nondeterministic (task
    # completion order), so its last ~2 ulps differ run-to-run AND
    # engine-to-engine — a scale sweep caught h flipping a rounding
    # boundary at sf1 on one run and not the next. Cumulative sums over
    # (symbol, ts) are computed sequentially in row order by every
    # engine's streaming window path, so s1/s2 — and everything derived
    # from them by +,*,/ — are bit-stable and oracle-replayable.
    w_cum = w.rowsBetween(Window.unboundedPreceding, 0)
    rn = F.row_number().over(w)
    cs = (with_r
          .withColumn("_cs1", F.sum("r").over(w_cum))
          .withColumn("_cs2", F.sum(F.col("r") * F.col("r")).over(w_cum))
          .withColumn("_rn", rn))
    n = F.count(F.lit(1))
    s1 = F.max_by("_cs1", "_rn")
    s2 = F.max_by("_cs2", "_rn")
    vbar = cs.groupBy(symbol_col).agg(
        ((s2 - s1 * s1 / n) / (n - F.lit(1))).alias("vbar"))
    return with_r.join(F.broadcast(vbar), symbol_col)


def _garch_recursion(j: DataFrame, alpha: float, beta: float,
                     symbol_col: str, ts_col: str,
                     periods_per_year: int) -> DataFrame:
    a_f, b_f, ppy = float(alpha), float(beta), float(periods_per_year)

    def _run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts_col).reset_index(drop=True)
        vb = float(pdf["vbar"].iloc[0])
        omega = vb * (1.0 - a_f - b_f)
        h, prev_r = vb, None
        out = []
        for x in pdf["r"]:
            if prev_r is not None:
                h = omega + a_f * prev_r * prev_r + b_f * h
            out.append(h)
            prev_r = float(x)
        pdf["garch_var"] = out
        return pdf[[symbol_col, ts_col, "r", "garch_var"]]

    schema = _key_ts_schema(j, symbol_col, ts_col,
                            "`r` double, `garch_var` double")
    rec = j.select(symbol_col, ts_col, "r", "vbar") \
        .groupBy(symbol_col).applyInPandas(_run, schema)
    return rec.select(
        symbol_col, ts_col, "r", "garch_var",
        F.sqrt(F.col("garch_var") * F.lit(ppy))
        .alias("garch_vol_ann"),
    )


def _garch_unroll(j: DataFrame, alpha: float, beta: float,
                  symbol_col: str, ts_col: str,
                  periods_per_year: int) -> DataFrame:
    # Closed-form unroll of the Bollerslev (1986) recursion
    #     h_1 = vbar;  h_t = omega + alpha * r_{t-1}^2 + beta * h_{t-1}
    # with omega = vbar * (1 - alpha - beta) (variance targeting):
    #     h_i = omega * (1 - beta^i) / (1 - beta)
    #           + beta^i * vbar
    #           + alpha * (beta^i / beta) * sum_{j<i} beta^(-j) r_j^2
    # (0-based i; the sum is an UNBOUNDED-to-1-PRECEDING running sum,
    # coalesced to 0 at i = 0 where the formula collapses to vbar; valid
    # while beta^(-n) stays in double range — the unroll_row_bound gate).
    #
    # beta^i / beta^-i come from a driver-built repeated-multiplication
    # table (bounded by the unroll's own validity envelope), NOT from
    # pow(). libm pow differs by ulps
    # across engines (JVM vs DuckDB vs libc) and a 10x scale step showed
    # one ulp of skew crossing a rounding boundary on large-variance
    # symbols; repeated float multiplication is IEEE-deterministic, so a
    # differential oracle can replay it bit-for-bit with a recursive CTE
    # (the q137 Kalman lesson: +,*,/ sequences are engine-exact, libm is
    # not). The join is a broadcast of a few-thousand-row literal dim.
    if not 0.0 < float(beta) < 1.0:
        raise ValueError(
            f"beta={beta}: the closed-form unroll needs 0 < beta < 1 "
            "(IGARCH beta=1 has no stationary unroll) — "
            "garch_volatility runs the recursion there")
    spark = j.sparkSession
    cap = int(unroll_row_bound(beta)) + 2
    inv = 1.0 / float(beta)
    pw_rows, bp, ip = [], 1.0, 1.0
    for k in range(cap):
        pw_rows.append((k, bp, ip))
        bp *= float(beta)
        ip *= inv
    pw = spark.createDataFrame(pw_rows, "i int, bpow double, ipow double")
    w = Window.partitionBy(symbol_col).orderBy(ts_col)
    i = (F.row_number().over(w) - 1).cast("int")
    r2 = F.col("r") * F.col("r")
    ji = j.withColumn("_i", i).join(
        F.broadcast(pw), F.col("_i") == F.col("i"), "left")
    w_prev = (Window.partitionBy(symbol_col).orderBy(ts_col)
              .rowsBetween(Window.unboundedPreceding, -1))
    s = F.coalesce(F.sum(F.col("ipow") * r2).over(w_prev), F.lit(0.0))
    omega = F.col("vbar") * F.lit(1.0 - float(alpha) - float(beta))
    h = (
        omega * (F.lit(1.0) - F.col("bpow")) / F.lit(1.0 - float(beta))
        + F.col("bpow") * F.col("vbar")
        + F.lit(float(alpha)) * (F.col("bpow") * F.lit(inv)) * s
    )
    return ji.select(
        symbol_col, ts_col, "r",
        h.alias("garch_var"),
        F.sqrt(h * F.lit(float(periods_per_year))).alias("garch_vol_ann"),
    )
