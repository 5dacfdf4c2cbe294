"""Exponentially-weighted moving statistics: EWM mean, MACD, RiskMetrics
EWMA and GARCH(1,1) volatility.

Spark has no native EWM window aggregate (SURVEY §7.7.2). All four run on
ONE kernel of JVM window expressions, each emitted as one ``spark.sql``
statement. pandas' ``ewm(span, adjust=True).mean()`` with decay
``w = 1 - 2/(span + 1)`` is

    y_t = sum_{j<=t} w^(t-j) x_j / sum_{j<=t} w^(t-j)

(the reference's semantics at ``ml_strategy.py:151-155`` and
``portfolio_optimization.py:39-41``). Dividing both sums by ``w^t`` gives
the closed form ``sum(x_j w^-j) / sum(w^-j)`` over a running window, but
``w^-j`` overflows a double past :func:`unroll_row_bound` rows (3,823 at
span 12). So the kernel cuts each symbol's rows into blocks of
``B = unroll_row_bound(w)`` rows:

- row ``i`` lies in block ``k = i div B`` at local index ``l = i mod B``;
- running sums over ``(symbol, k)``: ``S = sum x w^-l`` and
  ``SD = sum w^-l`` stay inside double range;
- the block carry: ``S'`` and ``SD'``, the sums at the previous block's
  last row, taken with ``last(..., true)`` over the rows up to 1 PRECEDING;
- ``y = (S + w^B S') / (SD + w^B SD')``.

The true carry also holds every older block, each scaled by a further
``w^B`` = e^-639 (the bound keeps 10% of ln(DBL_MAX)), i.e. below 1e-270 of
the previous block's share, far under the 2^-53 resolution of a double: one
carry is exact to double precision at any series length. Block 0 has no
carry and is exactly the closed form ``sum(x w^-i) / sum(w^-i)``. MACD's
three spans share one block length (one extra sort) while the slowest
span's ``w^B`` stays below 2^-60; a span past that blocks at its own bound.
NULL values carry the last mean forward, like pandas' NaN handling.

``ewma_volatility`` and ``garch_volatility`` run the same carry on their
variance recursions: a linear recurrence is an associative scan
(Blelloch 1990), so one carry per block is exact at any length too. Their
block 0 keeps the arithmetic of the closed forms that the DuckDB oracles
replay bit-for-bit. At decay 1 nothing overflows and the series is one
unblocked running sum.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from build_a_market_data_etl_strategy_backtesting_engine_spark.operators.signals import (  # noqa: E501
    _fresh,
)
from build_a_market_data_etl_strategy_backtesting_engine_spark.sqlapi import (
    layered_sql,
    sql_double,
    sql_tmpl_ident,
    with_columns_sql,
)


def ewm_alpha(span: int) -> float:
    return 2.0 / (span + 1.0)


def unroll_row_bound(decay: float) -> int:
    """Rows before ``decay^(-n)`` overflows a double, with a 10% safety
    margin (ln(DBL_MAX) ≈ 709.78): ~6,000 rows at beta=0.90, ~10,300 at
    lam=0.94. 0 for ``decay`` <= 0 or >= 1."""
    import math

    decay = float(decay)
    if decay <= 0.0 or decay >= 1.0:
        return 0
    return int(0.9 * 709.78 / math.log(1.0 / decay))


def _block_len(decay: float) -> int | None:
    """Rows per block at ``decay`` in [0, 1]: the overflow bound, at least
    1; None at decay 1, where ``decay^-l`` is 1 and one block holds the
    whole series."""
    return None if decay >= 1.0 else max(1, unroll_row_bound(decay))


def _block_lens(spans) -> dict:
    """Block length per span: the fastest span's bound, shared by every
    span whose decay^B stays below 2^-60 (one (symbol, block) sort for
    all of them); any other span blocks at its own bound."""
    for s in spans:
        if not float(s) >= 1.0:
            raise ValueError(f"span={s}: must be >= 1")
    bound = {s: _block_len(1.0 - ewm_alpha(s)) for s in spans}
    shared = min(bound.values())
    return {s: shared if (1.0 - ewm_alpha(s)) ** shared < 2.0 ** -60
            else bound[s] for s in spans}


@dataclass(frozen=True)
class _Blocks:
    """One block layout of the kernel, as quoted names: ``i`` is the
    0-based row index per ``sym``, ``k = i div blk`` its block. ``blk``
    None is one block (no ``k``)."""

    sym: str
    i: str
    k: str | None
    blk: int | None

    @property
    def local(self) -> str:
        """The row's index inside its block."""
        return self.i if self.blk is None else f"{self.i} % {self.blk}"

    @property
    def order(self) -> str:
        """The series' row order: by block, then by index."""
        return self.i if self.blk is None else f"{self.k}, {self.i}"

    def over(self, end: str = "CURRENT ROW") -> str:
        """The running frame inside one block, up to ``end``."""
        part = self.sym if self.blk is None else f"{self.sym}, {self.k}"
        return (f"OVER (PARTITION BY {part} ORDER BY {self.i}"
                f" ROWS BETWEEN UNBOUNDED PRECEDING AND {end})")

    def carry(self, v: str, scale: float) -> str:
        """``scale`` times ``v`` at the previous block's last row. -0.0 in
        block 0 (and with one block): adding it is exact for every
        double."""
        if self.blk is None:
            return "-0.0D"
        wc = (f"OVER (PARTITION BY {self.sym} ORDER BY {self.order}"
              " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)")
        return (f"coalesce({sql_double(scale)} * last(CASE WHEN"
                f" {self.local} = {self.blk - 1} THEN {v} END, true) {wc},"
                " -0.0D)")


def _ewm_sql(x: str, span: float, b: _Blocks, s: str,
             d: str) -> tuple[list[str], str]:
    """The EWM mean of value ``x`` (a quoted name): the select items of
    the block-sum layer (``s``, ``d``) and the EWM read from them in the
    next layer."""
    decay = 1.0 - ewm_alpha(span)
    # the same literal the closed form used, so block 0 is bit-identical
    p = f"power({sql_double(1.0 / decay if decay else 0.0)}, {b.local})"
    # a NULL x adds no weight (pandas skips NaN), so a sum is 0, not NULL,
    # until the first value
    sums = [f"sum(coalesce({x} * {p}, 0.0D)) {b.over()} AS {s}",
            f"sum(CASE WHEN {x} IS NOT NULL THEN {p} ELSE 0.0D END)"
            f" {b.over()} AS {d}"]
    scale = decay ** b.blk
    return sums, (f"({s} + {b.carry(s, scale)}) / nullif({d} +"
                  f" {b.carry(d, scale)}, 0.0D)")


def _kernel(df: DataFrame, symbol_col: str, ts_col: str, lens: dict,
            *bases: str):
    """Staging shared by the statistics of one statement: the layer adding
    the row index and a block column per block length, the layout of
    each key of ``lens`` (key -> block length), and ``bases`` as quoted
    ``_fresh`` names."""
    q = sql_tmpl_ident
    blks = sorted({b for b in lens.values() if b is not None})
    i, *rest = map(q, _fresh(df, "_i", *(f"_k{b}" for b in blks), *bases))
    k_of = dict(zip(blks, rest))
    sym = q(symbol_col)
    rn = f"(row_number() OVER (PARTITION BY {sym} ORDER BY {q(ts_col)}) - 1)"
    layers = [["*", f"{rn} AS {i}",
               *(f"{rn} div {b} AS {k}" for b, k in k_of.items())]]
    layout = {key: _Blocks(sym, i, k_of.get(b), b) for key, b in lens.items()}
    return layers, layout, rest[len(blks):]


def ewm_mean(
    df: DataFrame,
    span: int,
    value_col: str = "close",
    symbol_col: str = "symbol",
    ts_col: str = "ts",
    out_col: str = "ewm",
) -> DataFrame:
    """pandas ``ewm(span, adjust=True).mean()`` per symbol, on the blocked
    JVM kernel; ``out_col`` is added to the input's columns."""
    layers, blocks, (s, d) = _kernel(df, symbol_col, ts_col,
                                     _block_lens([span]), "_ewm_s", "_ewm_d")
    sums, y = _ewm_sql(sql_tmpl_ident(value_col), span, blocks[span], s, d)
    return layered_sql(df, [*layers, ["*", *sums],
                            with_columns_sql(df.columns, {out_col: y})])


def macd(
    df: DataFrame,
    fast: int = 12,
    slow: int = 26,
    signal: int = 9,
    value_col: str = "close",
    symbol_col: str = "symbol",
    ts_col: str = "ts",
) -> DataFrame:
    """MACD line/signal/histogram (ml_strategy.py:151-155): EWM(fast) -
    EWM(slow), its EWM(signal), and their difference, on the blocked JVM
    kernel as one statement."""
    layers, blocks, (fs, fd, ss, sd, m, gs, gd, g) = _kernel(
        df, symbol_col, ts_col, _block_lens([fast, slow, signal]),
        "_fast_s", "_fast_d", "_slow_s", "_slow_d", "_macd", "_sig_s",
        "_sig_d", "_sig")
    x = sql_tmpl_ident(value_col)
    f_sums, f_y = _ewm_sql(x, fast, blocks[fast], fs, fd)
    s_sums, s_y = _ewm_sql(x, slow, blocks[slow], ss, sd)
    g_sums, g_y = _ewm_sql(m, signal, blocks[signal], gs, gd)
    return layered_sql(df, [
        *layers,
        ["*", *f_sums, *s_sums],
        ["*", f"{f_y} - {s_y} AS {m}"],
        ["*", *g_sums],
        ["*", f"{g_y} AS {g}"],
        with_columns_sql(df.columns, {"macd": m, "macd_signal": g,
                                      "macd_hist": f"{m} - {g}"}),
    ])


# ------------------------------------- RiskMetrics EWMA and GARCH(1,1)


def _require_unit(**params: float) -> None:
    for name, value in params.items():
        if not 0.0 <= float(value) <= 1.0:
            raise ValueError(f"{name}={value}: must be in [0, 1]")


def _returns_sql(close_col: str, symbol_col: str, ts_col: str,
                 r: str) -> str:
    """The source relation of the volatility statements: ``(symbol, ts,
    r)`` simple returns (``r`` a quoted staging name), first bar per
    symbol dropped. Only the three used columns are read, so caller
    columns never meet the staging names."""
    q = sql_tmpl_ident
    sym, ts, close = q(symbol_col), q(ts_col), q(close_col)
    prev = f"lag({close}) OVER (PARTITION BY {sym} ORDER BY {ts})"
    return (f"(SELECT * FROM (SELECT {sym}, {ts}, CASE WHEN {prev} > 0"
            f" THEN {close} / {prev} - 1.0D END AS {r} FROM {{df}}) AS _p"
            f" WHERE {r} IS NOT NULL) AS _ret")


def ewma_volatility(
    bars: DataFrame,
    lam: float = 0.94,
    close_col: str = "close",
    symbol_col: str = "symbol",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-symbol RiskMetrics EWMA volatility from bar closes: simple
    returns, EWMA variance ``v_t = lam v_{t-1} + (1 - lam) r_t^2`` seeded
    with ``v_0 = r_0^2`` (lam = 0.94, the RiskMetrics daily decay), and
    vol = sqrt(variance); the first bar per symbol has no return and no
    row. One statement on the blocked kernel, at any series length.

    With ``x_0 = r_0^2`` and ``x_j = (1 - lam) r_j^2``, ``v_t`` is
    ``lam^l (S + lam^B S')``: ``S`` the block's running sum of
    ``lam^-l x``, ``S'`` its value at the previous block's last row. In
    block 0 that is the closed form ``lam^i sum_{j<=i} lam^-j x_j``, with
    the ``power()`` literals q113's oracle replays."""
    _require_unit(lam=lam)
    lam = float(lam)
    q = sql_tmpl_ident
    layers, blocks, (r, s) = _kernel(bars, symbol_col, ts_col,
                                     {lam: _block_len(lam)}, "_r", "_ewma_s")
    b = blocks[lam]
    x = (f"power({sql_double(1.0 / lam if lam else 0.0)}, {b.local})"
         f" * ({r} * {r}) * CASE WHEN {b.i} = 0 THEN 1.0D"
         f" ELSE {sql_double(1.0 - lam)} END")
    v = (f"power({sql_double(lam)}, {b.local})"
         f" * ({s} + {b.carry(s, lam ** (b.blk or 1))})")
    sym, ts = q(symbol_col), q(ts_col)
    return layered_sql(bars, [
        *layers,
        ["*", f"sum({x}) {b.over()} AS {s}"],
        [sym, ts, f"{r} AS r", f"{v} AS ewma_var"],
        [sym, ts, "r", "ewma_var", "sqrt(ewma_var) AS ewma_vol"],
    ], source=_returns_sql(close_col, symbol_col, ts_col, r))


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
    variance targeting (omega pinned to the per-symbol sample variance
    ``vbar``) — the mean-reverting upgrade of RiskMetrics EWMA
    (:func:`ewma_volatility` is the alpha + beta = 1 boundary). Emits r,
    the conditional variance h, and annualized vol; a symbol with one
    return has no ``vbar`` and NULL h. One statement on the blocked
    kernel, at any series length.

    The Bollerslev (1986) recursion ``h_0 = vbar``, ``h_i = omega +
    alpha r_{i-1}^2 + beta h_{i-1}``, ``omega = vbar (1 - alpha - beta)``
    is, in block 0 (0-based ``i``),

        h_i = omega (1 - beta^i) / (1 - beta) + beta^i vbar
              + alpha (beta^i / beta) sum_{j<i} beta^-j r_j^2.

    Later blocks add ``alpha beta^l beta^(B-1) T'``, ``T'`` the previous
    block's full sum, and take ``beta^i`` (< beta^B = e^-639) as 0.
    ``beta^l`` and ``beta^-l`` come from a table of B rows built in Python
    (indexed by ``l``, broadcast-joined), not from ``pow()``: libm pow
    differs by ulps across engines (JVM vs DuckDB) and a 10x scale step
    once showed one ulp crossing a rounding boundary, while repeated
    multiplication is IEEE-exact, so q142's oracle replays the table
    bit-for-bit with a recursive CTE. ``vbar`` comes from sums over the
    ordered rows, not ``var_samp``, whose partial-merge order (and so its
    last ulps) varies run to run."""
    _require_unit(alpha=alpha, beta=beta)
    a, b = float(alpha), float(beta)
    if a + b > 1.0:
        raise ValueError(f"alpha + beta = {a + b}: must be <= 1 (variance"
                         " targeting makes omega negative)")
    q = sql_tmpl_ident
    layers, blocks, (r, pl, bp, ip, s1, s2, n, vb, acc) = _kernel(
        bars, symbol_col, ts_col, {b: _block_len(b)}, "_r", "_l", "_bpow",
        "_ipow", "_s1", "_s2", "_n", "_vbar", "_acc")
    blk = blocks[b]
    inv = 1.0 / b if b else 0.0
    # at beta = 1 every power is 1: a one-row table
    period = blk.blk or 1
    rows, bpow, ipow = [], 1.0, 1.0
    for li in range(period):
        rows.append((li, bpow, ipow))
        bpow *= b
        ipow *= inv
    pw = bars.sparkSession.createDataFrame(
        rows, f"{pl} int, {bp} double, {ip} double").hint("broadcast")
    # the join needs the row index, so the index layer is its left side
    (index,) = layers
    src = (f"(SELECT {', '.join(index)} FROM"
           f" {_returns_sql(close_col, symbol_col, ts_col, r)}) AS _ix"
           f" JOIN {{pw}} ON {blk.i} % {period} = {pl}")
    r2 = f"({r} * {r})"
    whole = (f"OVER (PARTITION BY {blk.sym} ORDER BY {blk.order}"
             " ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)")
    bg = (bp if blk.blk is None
          else f"CASE WHEN {blk.k} = 0 THEN {bp} ELSE 0.0D END")
    c = 1.0 - a - b
    # omega is 0 on the line alpha + beta = 1, which holds beta = 1,
    # where 1 - beta is 0 too
    omega = ("" if c == 0.0 else f"{vb} * {sql_double(c)} * (1.0D - {bg})"
             f" / {sql_double(1.0 - b)} + ")
    carry = blk.carry(f"{acc} + {ip} * {r2}", a * b ** (period - 1))
    h = (f"{omega}{bg} * {vb} + {sql_double(a)} * ({bp} * {sql_double(inv)})"
         f" * {acc} + {bp} * {carry}")
    sym, ts = q(symbol_col), q(ts_col)
    return layered_sql(bars, [
        ["*", f"sum({r}) {whole} AS {s1}", f"sum({r2}) {whole} AS {s2}",
         f"count(1) {whole} AS {n}"],
        ["*", f"({s2} - {s1} * {s1} / {n}) / nullif({n} - 1, 0) AS {vb}",
         f"coalesce(sum({ip} * {r2}) {blk.over('1 PRECEDING')}, 0.0D)"
         f" AS {acc}"],
        [sym, ts, f"{r} AS r", f"{h} AS garch_var"],
        [sym, ts, "r", "garch_var",
         f"sqrt(garch_var * {sql_double(float(periods_per_year))})"
         " AS garch_vol_ann"],
    ], source=src, pw=pw)
