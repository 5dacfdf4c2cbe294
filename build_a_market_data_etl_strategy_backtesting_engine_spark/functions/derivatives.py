"""Black-Scholes pricing + Greeks as pure column expressions.

Reference: ``/root/reference/backtesting/derivatives.py`` — d1/d2 (:68-95),
call (:97-123), put (:125-151), Greeks (:153-210), strategy combinators
(:224-362), futures math (:365-448). All are scalar math; here each is a
Spark Column expression (JVM-side, codegen'd — no UDF), so pricing a billion
option rows is a single projection.

Each builder has a twin ``*_sql`` producing the byte-identical ANSI formula
(same operation order) so the DuckDB oracle can price the same rows; the
normal CDF is the shared A&S approximation from ``mathx``. The iterative
pricers (implied vol, binomial American) are per-row ``aggregate`` folds in
Spark; their DuckDB twins run the same step texts as recursive CTEs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from build_a_market_data_etl_strategy_backtesting_engine_spark.functions.mathx import (
    norm_cdf,
    norm_cdf_sql,
    norm_pdf,
    norm_pdf_sql,
)


def d1(s: Column, k: Column, t: Column, sigma: Column, r: Column) -> Column:
    """(ln(S/K) + (r + sigma^2/2) * T) / (sigma * sqrt(T))
    (derivatives.py:68-82)."""
    return (F.log(s / k) + (r + sigma * sigma / 2.0) * t) / (sigma * F.sqrt(t))


def d2(d1_col: Column, t: Column, sigma: Column) -> Column:
    """d1 - sigma * sqrt(T) (derivatives.py:84-95)."""
    return d1_col - sigma * F.sqrt(t)


def bs_call(s: Column, k: Column, t: Column, sigma: Column, r: Column) -> Column:
    """C = S*N(d1) - K*e^{-rT}*N(d2) (derivatives.py:97-123)."""
    _d1 = d1(s, k, t, sigma, r)
    _d2 = d2(_d1, t, sigma)
    return s * norm_cdf(_d1) - k * F.exp(-r * t) * norm_cdf(_d2)


def bs_put(s: Column, k: Column, t: Column, sigma: Column, r: Column) -> Column:
    """P = K*e^{-rT}*N(-d2) - S*N(-d1) (derivatives.py:125-151)."""
    _d1 = d1(s, k, t, sigma, r)
    _d2 = d2(_d1, t, sigma)
    return k * F.exp(-r * t) * norm_cdf(-_d2) - s * norm_cdf(-_d1)


def bs_delta(s, k, t, sigma, r, call: bool = True) -> Column:
    """call: N(d1); put: N(d1) - 1 (derivatives.py:153-167)."""
    nd1 = norm_cdf(d1(s, k, t, sigma, r))
    return nd1 if call else nd1 - 1.0


def bs_gamma(s, k, t, sigma, r) -> Column:
    """pdf(d1) / (S * sigma * sqrt(T)) (derivatives.py:169-178)."""
    return norm_pdf(d1(s, k, t, sigma, r)) / (s * sigma * F.sqrt(t))


def bs_vega(s, k, t, sigma, r) -> Column:
    """S * pdf(d1) * sqrt(T) / 100 (per 1% vol move, derivatives.py:180-189)."""
    return s * norm_pdf(d1(s, k, t, sigma, r)) * F.sqrt(t) / 100.0


def bs_theta(s, k, t, sigma, r, call: bool = True) -> Column:
    """Per-day theta (derivatives.py:191-205)."""
    _d1 = d1(s, k, t, sigma, r)
    _d2 = d2(_d1, t, sigma)
    decay = -(s * norm_pdf(_d1) * sigma) / (2.0 * F.sqrt(t))
    if call:
        return (decay - r * k * F.exp(-r * t) * norm_cdf(_d2)) / 365.0
    return (decay + r * k * F.exp(-r * t) * norm_cdf(-_d2)) / 365.0


def bs_rho(s, k, t, sigma, r, call: bool = True) -> Column:
    """K*T*e^{-rT}*N(+/-d2)/100 (derivatives.py:207-210)."""
    _d2 = d2(d1(s, k, t, sigma, r), t, sigma)
    if call:
        return k * t * F.exp(-r * t) * norm_cdf(_d2) / 100.0
    return -k * t * F.exp(-r * t) * norm_cdf(-_d2) / 100.0


# --------------------------------------------- option strategy combinators
# Each returns an ordered dict of named Column expressions — compose with
# ``df.select(*[c.alias(n) for n, c in strat.items()])`` or ``df.withColumns``.
# Semantics mirror /root/reference/backtesting/derivatives.py:224-362
# (OptionStrategy): premiums priced with the same BS columns, P&L identities
# preserved (max_profit == net_credit for the condor, total_cost ==
# call_premium + put_premium for the straddle, etc.).

def covered_call(s: Column, k: Column, t: Column, sigma: Column, r: Column,
                 shares: float = 100.0) -> dict[str, Column]:
    """Long stock + short call (derivatives.py:224-251)."""
    c = bs_call(s, k, t, sigma, r)
    n = F.lit(float(shares))
    return {
        "stock_value": s * n,
        "call_premium_received": c * n,
        "max_profit": (k - s) * n + c * n,
        "breakeven": s - c,
        "max_loss": s * n - c * n,
    }


def protective_put(s: Column, k: Column, t: Column, sigma: Column, r: Column,
                   shares: float = 100.0) -> dict[str, Column]:
    """Long stock + long put (derivatives.py:253-283); unlimited upside ->
    max_profit = +infinity, matching the reference's float('inf')."""
    p = bs_put(s, k, t, sigma, r)
    n = F.lit(float(shares))
    return {
        "stock_value": s * n,
        "put_premium_paid": p * n,
        "max_loss": (s - k) * n + p * n,
        "breakeven": s + p,
        "max_profit": F.lit(float("inf")),
    }


def straddle(s: Column, k: Column, t: Column, sigma: Column, r: Column,
             contracts: float = 1.0) -> dict[str, Column]:
    """Long call + long put, same strike (derivatives.py:285-322)."""
    c = bs_call(s, k, t, sigma, r)
    p = bs_put(s, k, t, sigma, r)
    mult = F.lit(float(contracts) * 100.0)
    return {
        "call_premium": c * mult,
        "put_premium": p * mult,
        "total_cost": (c + p) * mult,
        "upper_breakeven": k + (c + p),
        "lower_breakeven": k - (c + p),
        "max_loss": (c + p) * mult,
    }


def iron_condor(s: Column, lower_put_k: Column, upper_put_k: Column,
                lower_call_k: Column, upper_call_k: Column,
                t: Column, sigma: Column, r: Column,
                contracts: float = 1.0) -> dict[str, Column]:
    """Buy low put / sell high put / sell low call / buy high call
    (derivatives.py:324-362)."""
    lp = bs_put(s, lower_put_k, t, sigma, r)
    up = bs_put(s, upper_put_k, t, sigma, r)
    lc = bs_call(s, lower_call_k, t, sigma, r)
    uc = bs_call(s, upper_call_k, t, sigma, r)
    mult = F.lit(float(contracts) * 100.0)
    net_credit = (-lp + up + lc - uc) * mult
    per_contract = net_credit / mult
    return {
        "net_credit": net_credit,
        "max_profit": net_credit,
        "max_loss": ((upper_put_k - lower_put_k) - per_contract) * mult,
        "lower_breakeven": upper_put_k - per_contract,
        "upper_breakeven": lower_call_k + per_contract,
    }


# ------------------------------------------------------------- futures math
def futures_pnl(entry: Column, current: Column, contracts: Column,
                multiplier: Column, long: bool = True) -> Column:
    """(current - entry) * contracts * multiplier, sign by side
    (derivatives.py:389-411)."""
    pnl = (current - entry) * contracts * multiplier
    return pnl if long else -pnl


def futures_margin(price: Column, contract_size: Column,
                   quantity: Column, margin_rate: float = 0.10) -> Column:
    """Initial margin = price * contract_size * |quantity| * margin_rate
    (derivatives.py:365-388, FuturesCalculator.calculate_margin)."""
    return price * contract_size * F.abs(quantity) * F.lit(float(margin_rate))


def futures_basis(futures_price: Column, spot: Column) -> Column:
    """basis = futures - spot (derivatives.py:413-427)."""
    return futures_price - spot


def cost_of_carry(spot: Column, r: Column, storage: Column, t: Column) -> Column:
    """F = S * e^{(r + storage) * T} (derivatives.py:429-448)."""
    return spot * F.exp((r + storage) * t)


# --------------------------------------------------------------- SQL twins
def d1_sql(s: str, k: str, t: str, sigma: str, r: str) -> str:
    return (f"((ln(({s}) / ({k})) + (({r}) + ({sigma}) * ({sigma}) / 2.0) * ({t}))"
            f" / (({sigma}) * sqrt({t})))")


def d2_sql(d1s: str, t: str, sigma: str) -> str:
    return f"({d1s} - ({sigma}) * sqrt({t}))"


def bs_call_sql(s: str, k: str, t: str, sigma: str, r: str) -> str:
    _d1 = d1_sql(s, k, t, sigma, r)
    _d2 = d2_sql(_d1, t, sigma)
    return (f"(({s}) * {norm_cdf_sql(_d1)} - ({k}) * exp(-({r}) * ({t}))"
            f" * {norm_cdf_sql(_d2)})")


def bs_put_sql(s: str, k: str, t: str, sigma: str, r: str) -> str:
    _d1 = d1_sql(s, k, t, sigma, r)
    _d2 = d2_sql(_d1, t, sigma)
    return (f"(({k}) * exp(-({r}) * ({t})) * {norm_cdf_sql(f'-{_d2}')}"
            f" - ({s}) * {norm_cdf_sql(f'-{_d1}')})")


def bs_gamma_sql(s: str, k: str, t: str, sigma: str, r: str) -> str:
    _d1 = d1_sql(s, k, t, sigma, r)
    return f"({norm_pdf_sql(_d1)} / (({s}) * ({sigma}) * sqrt({t})))"


def mark_to_market(
    positions: "DataFrame",
    prices: "DataFrame",
    symbol_col: str = "symbol",
) -> "DataFrame":
    """Portfolio mark-to-market (derivatives.py:523-566): the reference's
    driver-side loop becomes join(positions, latest prices) + one pricing
    projection.

    ``positions``: (symbol, kind in {'stock','call','put'}, quantity,
    strike, t_years, sigma, rate); ``prices``: (symbol, spot) — broadcast
    (one row per symbol). Output adds ``unit_value`` and ``value``.
    """
    from pyspark.sql import functions as F

    joined = positions.join(F.broadcast(prices), on=symbol_col, how="left")
    s, k = F.col("spot"), F.col("strike")
    t, sig, r = F.col("t_years"), F.col("sigma"), F.col("rate")
    unit = (
        F.when(F.col("kind") == "call", bs_call(s, k, t, sig, r))
        .when(F.col("kind") == "put", bs_put(s, k, t, sig, r))
        .otherwise(s)
    )
    return joined.withColumn("unit_value", unit).withColumn(
        "value", F.col("quantity") * F.col("unit_value")
    )


# --------------------------------------------------------- implied vol

def _bisect_step_sql(lo: str, hi: str, call: bool) -> tuple[str, str]:
    """One bisection step on the bracket [``lo``, ``hi``] over the columns
    (s, k, t_y, r, price): the texts of its midpoint and of the test that
    moves the bracket up to [mid, hi] (else down to [lo, mid]). BS price
    is monotone increasing in sigma, so the test is a model price at the
    midpoint below the market price."""
    px = bs_call_sql if call else bs_put_sql
    mid = f"({lo} + {hi}) / 2e0"
    return mid, f"{px('s', 'k', 't_y', f'({mid})', 'r')} < price"


def implied_vol_bisect_sql(
    opts_sql: str,
    iters: int = 48,
    lo: float = 1e-4,
    hi: float = 4.0,
    call: bool = True,
) -> str:
    """DuckDB text of :func:`implied_vol`: the same bisection as a
    recursive CTE, one row per option per step, with the step text of
    :func:`_bisect_step_sql`.

    ``opts_sql`` must yield (id, s, k, t_y, r, price). ``iters`` halvings
    of [lo, hi] pin sigma to (hi-lo)/2^iters (~1.4e-14 at the defaults),
    far below the 6-decimal output rounding and robust to cross-engine
    libm ulp differences (bisection re-brackets each engine's own root).
    The BS formula is the same A&S-erf portable text as the pricing
    oracles (functions/mathx.py).
    """
    mid, up = _bisect_step_sql("lo", "hi", call)
    return f"""
    WITH RECURSIVE opts AS ({opts_sql}),
    b(id, s, k, t_y, r, price, lo, hi, it) AS (
      SELECT id, s, k, t_y, r, price,
             CAST({lo:.1e} AS DOUBLE), CAST({hi:.1e} AS DOUBLE), 0
      FROM opts
      UNION ALL
      SELECT id, s, k, t_y, r, price,
             CASE WHEN {up} THEN {mid} ELSE lo END,
             CASE WHEN {up} THEN hi ELSE {mid} END,
             it + 1
      FROM b WHERE it < {iters}
    )
    SELECT id, round((lo + hi) / 2e0, 6) AS iv
    FROM b WHERE it = {iters}
    """


def implied_vol(
    spark,
    opts: "DataFrame",
    iters: int = 48,
    call: bool = True,
) -> "DataFrame":
    """Implied volatility of each row of ``opts`` (id, s, k, t_y, r,
    price) by ``iters`` bisection steps on sigma in [1e-4, 4], as (id,
    iv) rounded to 6 decimals.

    One lazy projection: Spark's ``aggregate`` folds the (lo, hi) bracket
    over ``sequence(1, iters)`` inside each row, so building starts no
    job and touches no session state. The input is spread round-robin
    over the default parallelism first, because the fold runs on the
    partitions it is given (q108 reads ``part`` as one partition)."""
    if int(iters) < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    mid, up = _bisect_step_sql("b.lo", "b.hi", call)
    fold = (
        f"aggregate(sequence(1, {int(iters)}),"
        f" named_struct('lo', CAST(1.0e-04 AS DOUBLE),"
        f" 'hi', CAST(4.0e+00 AS DOUBLE)),"
        f" (b, it) -> CASE WHEN {up}"
        f" THEN named_struct('lo', {mid}, 'hi', b.hi)"
        f" ELSE named_struct('lo', b.lo, 'hi', {mid}) END,"
        f" b -> round((b.lo + b.hi) / 2e0, 6))"
    )
    return opts.repartition(spark.sparkContext.defaultParallelism).select(
        "id", F.expr(fold).alias("iv"))


# ---------------------------------------------- binomial American pricer

def _crr_sql(n: int, call: bool, at) -> tuple[dict[str, str], str, str]:
    """Cox-Ross-Rubinstein texts for an ``n``-step tree: the per-option
    constants (sig, disc, p) over the columns (t_y, r, sigma), then per
    node ``i``, over (s, k) and those constants, the payoff at expiry and
    the value at step ``step - 1`` from the array ``vals`` of step
    ``step``: ``v = max(payoff, disc * (p*v_up + (1-p)*v_down))``.
    ``at(j)`` spells the element of ``vals`` at the 0-based node ``j``.

    Node spot at (step, i) is ``s * exp(sig*(2i - step))`` with
    sig = sigma*sqrt(dt): u = 1/d, so the exponent is just (2i - step),
    no pow chains."""
    dt = f"(t_y / {n}.0e0)"
    sig = f"(sigma * sqrt({dt}))"
    consts = {
        "sig": sig,
        "disc": f"exp(-r * {dt})",
        # p = (exp(r*dt) - d) / (u - d), u = exp(sig), d = exp(-sig)
        "p": f"((exp(r * {dt}) - exp(-{sig})) / (exp({sig}) - exp(-{sig})))",
    }

    def payoff(spot):
        return (f"greatest({spot} - k, 0.0e0)" if call
                else f"greatest(k - {spot}, 0.0e0)")

    dbl = "CAST(i AS DOUBLE)"
    spot_term = f"(s * exp(sig * (2.0e0 * {dbl} - {n}.0e0)))"
    spot_step = f"(s * exp(sig * (2.0e0 * {dbl} - CAST(step - 1 AS DOUBLE))))"
    cont = f"(disc * (p * {at('i + 1')} + (1.0e0 - p) * {at('i')}))"
    return consts, payoff(spot_term), f"greatest({payoff(spot_step)}, {cont})"


def binomial_american_sql(
    opts_sql: str,
    n_steps: int = 64,
    call: bool = False,
) -> str:
    """DuckDB text of :func:`binomial_american`: the same backward
    induction as a recursive CTE carrying the value array, one row per
    option per step, with the texts of :func:`_crr_sql` (DuckDB lists are
    1-based).

    ``opts_sql`` must yield (id, s, k, t_y, r, sigma)."""
    n = int(n_steps)
    consts, leaf, node = _crr_sql(n, call, lambda j: f"vals[{j} + 1]")
    arr = "list_transform(generate_series(0, {hi}), i -> {body})"
    return f"""
    WITH RECURSIVE opts AS ({opts_sql}),
    b(id, s, k, sig, disc, p, step, vals) AS (
      SELECT id, s, k, sig, disc, p, {n}, {arr.format(hi=n, body=leaf)}
      FROM (SELECT id, s, k,
                   {", ".join(f"{v} AS {c}" for c, v in consts.items())}
            FROM opts)
      UNION ALL
      SELECT id, s, k, sig, disc, p, step - 1,
             {arr.format(hi="step - 1", body=node)}
      FROM b WHERE step > 0
    )
    SELECT id, round(vals[1], 4) AS price
    FROM b WHERE step = 0
    """


def binomial_american(
    spark,
    opts: "DataFrame",
    n_steps: int = 64,
    call: bool = False,
) -> "DataFrame":
    """CRR American option price of each row of ``opts`` (id, s, k, t_y,
    r, sigma) on an ``n_steps`` tree with early exercise at every node,
    as (id, price) rounded to 4 decimals.

    One lazy plan: the per-option constants are one projection, and
    Spark's ``aggregate`` folds the node-value array back over
    ``sequence(n_steps, 1, -1)`` inside each row, so one array per row is
    in flight, building starts no job and touches no session state.
    Between the two, the rows are spread round-robin over the default
    parallelism, because the fold runs on the partitions it is given
    (q120 reads ``part`` as one partition)."""
    n = int(n_steps)
    if n < 1:
        raise ValueError(f"n_steps must be >= 1, got {n_steps}")
    consts, leaf, node = _crr_sql(n, call, lambda j: f"vals[{j}]")
    fold = (
        f"round(aggregate(sequence({n}, 1, -1),"
        f" transform(sequence(0, {n}), i -> {leaf}),"
        f" (vals, step) -> transform(sequence(0, step - 1), i -> {node}))[0],"
        f" 4)"
    )
    return (
        opts.select("id", "s", "k",
                    *[F.expr(v).alias(c) for c, v in consts.items()])
        .repartition(spark.sparkContext.defaultParallelism)
        .select("id", F.expr(fold).alias("price"))
    )


# ------------------------------------------------ Monte Carlo pricing

def mc_european(
    opts: "DataFrame",
    n_paths: int = 256,
    call: bool = True,
) -> "DataFrame":
    """Distributed Monte Carlo European option pricing under GBM with a
    DETERMINISTIC, partition-invariant RNG: each path's standard normal
    is Box-Muller over two md5 uniforms keyed by (option id, path id),
    so every executor, retry, and engine draws the identical number
    (the same discipline as the mock tick generator's xxhash64
    Box-Muller — here the md5 portable twin so the oracle can replay
    it verbatim).

    ``opts`` yields (id, s, k, t_y, r, sigma). Terminal price
    ``S_T = s * exp((r - sigma^2/2) t + sigma sqrt(t) z)``; the price is
    the discounted mean payoff over ``n_paths``. Convergence to
    Black-Scholes is a pytest property; cross-engine equality is exact
    (same draws) modulo libm ulp absorbed by edge rounding.

    Shape at 100 TB: the path fan-out is a map-side explode (rows x
    n_paths stays bounded by choosing n_paths per use), the estimate is
    ONE map-combinable avg — no shuffle beyond the final per-id agg.
    """
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators.sampling import (
        portable_uniform,
    )
    import math as _m

    path = F.explode(
        F.sequence(F.lit(1), F.lit(int(n_paths)))
    ).alias("path")
    fanned = opts.select("id", "s", "k", "t_y", "r", "sigma", path)
    key = F.concat_ws("-", F.col("id"), F.col("path"))
    u1 = portable_uniform(F.concat(key, F.lit("a")))
    u2 = portable_uniform(F.concat(key, F.lit("b")))
    z = F.sqrt(-2.0 * F.log(u1)) * F.cos(2.0 * _m.pi * u2)
    st = F.col("s") * F.exp(
        (F.col("r") - F.col("sigma") * F.col("sigma") / 2) * F.col("t_y")
        + F.col("sigma") * F.sqrt(F.col("t_y")) * z
    )
    pay = F.greatest(st - F.col("k"), F.lit(0.0)) if call else \
        F.greatest(F.col("k") - st, F.lit(0.0))
    disc = F.exp(-F.col("r") * F.col("t_y"))
    return (
        fanned.select("id", (disc * pay).alias("dpay"))
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_paths"),
            F.avg("dpay").alias("mc_price"),
        )
    )


def mc_european_sql(
    opts_sql: str,
    n_paths: int = 256,
    call: bool = True,
) -> str:
    """DuckDB twin of :func:`mc_european` — identical draw keys and
    arithmetic, so the comparison is exact replay, not convergence."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators.sampling import (
        portable_uniform_sql,
    )
    import math as _m

    key = "(CAST(id AS VARCHAR) || '-' || CAST(path AS VARCHAR))"
    u1 = portable_uniform_sql(f"({key} || 'a')")
    u2 = portable_uniform_sql(f"({key} || 'b')")
    z = f"(sqrt(-2.0e0 * ln({u1})) * cos(2e0 * {_m.pi!r}e0 * {u2}))"
    # NOTE: pi spelled as a full-precision e-notation literal (plain
    # decimals parse as DECIMAL in DuckDB), same double on both engines
    st = (f"(s * exp((r - sigma * sigma / 2e0) * t_y"
          f" + sigma * sqrt(t_y) * {z}))")
    pay = (f"greatest({st} - k, 0.0e0)" if call
           else f"greatest(k - {st}, 0.0e0)")
    return f"""
    WITH opts AS ({opts_sql}),
    fanned AS (SELECT opts.*, path
               FROM opts, unnest(generate_series(1, {int(n_paths)}))
                 AS u(path))
    SELECT id, count(*) AS n_paths,
           round(avg(exp(-r * t_y) * {pay}), 6) AS mc_price
    FROM fanned GROUP BY id
    """


# ------------------------- Longstaff-Schwartz American Monte Carlo


def _cramer3(n, sm, sm2, sm3, sm4, sy, smy, sm2y):
    """Cramer's-rule solve of the 3x3 normal equations for the quadratic
    LSMC basis (1, m, m^2). Explicit cofactor expansion, NOT a library
    solve: the SQL oracle spells the IDENTICAL formulas, so both engines
    run the same IEEE operation sequence (lsmc_american_sql mirrors this
    text term for term)."""
    det = (
        n * (sm2 * sm4 - sm3 * sm3)
        - sm * (sm * sm4 - sm3 * sm2)
        + sm2 * (sm * sm3 - sm2 * sm2)
    )
    d0 = (
        sy * (sm2 * sm4 - sm3 * sm3)
        - sm * (smy * sm4 - sm3 * sm2y)
        + sm2 * (smy * sm3 - sm2 * sm2y)
    )
    d1 = (
        n * (smy * sm4 - sm3 * sm2y)
        - sy * (sm * sm4 - sm3 * sm2)
        + sm2 * (sm * sm2y - smy * sm2)
    )
    d2 = (
        n * (sm2 * sm2y - smy * sm3)
        - sm * (sm * sm2y - smy * sm2)
        + sy * (sm * sm3 - sm2 * sm2)
    )
    return det, d0, d1, d2


_CRAMER_SQL = {
    "det": ("(n * (sm2 * sm4 - sm3 * sm3) - sm * (sm * sm4 - sm3 * sm2)"
            " + sm2 * (sm * sm3 - sm2 * sm2))"),
    "d0": ("(sy * (sm2 * sm4 - sm3 * sm3) - sm * (smy * sm4 - sm3 * sm2y)"
           " + sm2 * (smy * sm3 - sm2 * sm2y))"),
    "d1": ("(n * (smy * sm4 - sm3 * sm2y) - sy * (sm * sm4 - sm3 * sm2)"
           " + sm2 * (sm * sm2y - smy * sm2))"),
    "d2": ("(n * (sm2 * sm2y - smy * sm3) - sm * (sm * sm2y - smy * sm2)"
           " + sy * (sm * sm3 - sm2 * sm2))"),
}


def lsmc_american(
    spark,
    sigma: float,
    s0: float = 100.0,
    k: float = 100.0,
    r: float = 0.05,
    t_y: float = 0.5,
    n_steps: int = 8,
    n_paths: int = 2000,
):
    """Longstaff-Schwartz (2001) American put pricing by Monte Carlo:
    GBM paths with the deterministic md5 Box-Muller RNG (same discipline
    as :func:`mc_european`), then backward induction — at each exercise
    date, regress the discounted continuation value of in-the-money paths
    on the quadratic moneyness basis (1, m, m^2) and exercise where the
    immediate payoff beats the fitted continuation.

    Spark shape: paths are ROWS (the distributed axis — scale n_paths,
    not executors-per-path); the price path array is ONE map-side
    expression; each of the n_steps-1 induction rounds is one
    map-combinable 8-scalar agg (the normal-equation sums) with the
    3x3 solve on the driver via :func:`_cramer3` — the k-sized driver
    boundary of every iterative operator here (BPE, Lloyd's). The basis
    uses MONEYNESS m = S/s0, not raw S: the raw-moment matrix at S~100
    is condition-1e10 and would amplify cross-engine 1e-15 sum noise
    into decision flips.

    Reference parity: black_scholes.py prices European only; LSMC is the
    beyond-reference American extension. Regression-on-paths follows the
    published algorithm (Longstaff & Schwartz, Rev. Fin. Studies 2001).
    """
    import math as _m

    from pyspark.sql import functions as F

    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators.sampling import (
        portable_uniform,
    )

    sigma = float(sigma)
    dt = float(t_y) / n_steps
    drift = (r - sigma * sigma / 2.0) * dt
    vol = sigma * _m.sqrt(dt)

    def z(j):
        key = F.concat_ws("-", F.lit("lsmc"), F.col("path"), j)
        u1 = portable_uniform(F.concat(key, F.lit("a")))
        u2 = portable_uniform(F.concat(key, F.lit("b")))
        return F.sqrt(-2.0 * F.log(u1)) * F.cos(2.0 * _m.pi * u2)

    idx = F.sequence(F.lit(1), F.lit(int(n_steps)))
    incs = F.transform(idx, lambda j: F.lit(drift) + F.lit(vol) * z(j))
    s_arr = F.transform(
        idx,
        lambda j: F.lit(float(s0)) * F.exp(
            F.aggregate(
                F.slice(F.col("incs"), F.lit(1), j),
                F.lit(0.0), lambda acc, x: acc + x,
            )
        ),
    )
    paths = (
        spark.range(1, int(n_paths) + 1)
        .select(F.col("id").alias("path"))
        .withColumn("incs", incs)
        .select("path", s_arr.alias("s"))
        .cache()
    )
    df = paths.select(
        "path", "s",
        F.greatest(F.lit(float(k)) - F.element_at("s", int(n_steps)),
                   F.lit(0.0)).alias("cf"),
        F.lit(int(n_steps)).alias("tau"),
    )
    for t in range(int(n_steps) - 1, 0, -1):
        x = F.element_at("s", t)
        m = x / F.lit(float(s0))
        pay = F.greatest(F.lit(float(k)) - x, F.lit(0.0))
        y = F.col("cf") * F.exp(
            F.lit(-r * dt) * (F.col("tau") - F.lit(t)).cast("double")
        )
        m2, m3 = m * m, (m * m) * m
        row = df.where(pay > 0).agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(m).alias("sm"), F.sum(m2).alias("sm2"),
            F.sum(m3).alias("sm3"), F.sum(m3 * m).alias("sm4"),
            F.sum(y).alias("sy"), F.sum(m * y).alias("smy"),
            F.sum(m2 * y).alias("sm2y"),
        ).first()
        if row["n"] is None or row["n"] < 3:
            continue
        det, d0, d1, d2 = _cramer3(
            row["n"], row["sm"], row["sm2"], row["sm3"], row["sm4"],
            row["sy"], row["smy"], row["sm2y"],
        )
        if det == 0.0:
            continue
        b0, b1, b2 = d0 / det, d1 / det, d2 / det
        cont = F.lit(b0) + F.lit(b1) * m + F.lit(b2) * (m * m)
        cond = (pay > 0) & (pay > cont)
        df = df.withColumns({
            "cf": F.when(cond, pay).otherwise(F.col("cf")),
            "tau": F.when(cond, F.lit(t)).otherwise(F.col("tau")),
        })
    out = df.agg(
        F.count(F.lit(1)).alias("n_paths"),
        F.avg(
            F.col("cf") * F.exp(F.lit(-r * dt) * F.col("tau").cast("double"))
        ).alias("price"),
        F.avg(
            (F.col("tau") < int(n_steps)).cast("double")
        ).alias("early_frac"),
    )
    # materialize the 1-row result so the paths cache (~n_paths*n_steps
    # doubles of executor storage) is released before returning instead
    # of pinned for the life of the session
    rows = out.collect()
    paths.unpersist()
    return spark.createDataFrame(rows, out.schema)


def lsmc_american_sql(
    sigma_ctes: str,
    s0: float = 100.0,
    k: float = 100.0,
    r: float = 0.05,
    t_y: float = 0.5,
    n_steps: int = 8,
    n_paths: int = 2000,
) -> str:
    """DuckDB twin of :func:`lsmc_american`: identical draws, identical
    Cramer formulas (``_CRAMER_SQL`` is the SQL spelling of
    :func:`_cramer3`), with every backward-induction round a chained
    MATERIALIZED CTE (plain CTEs are inlined and double the plan per
    round). ``sigma_ctes`` must end with a 1-row CTE ``sig(sigma)``."""
    import math as _m

    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators.sampling import (
        portable_uniform_sql,
    )

    def _d(x: float) -> str:
        s = repr(float(x))
        return s if "e" in s or "E" in s else s + "e0"

    dt = float(t_y) / n_steps
    key = ("('lsmc-' || CAST(path AS VARCHAR) || '-' || "
           "CAST(j AS VARCHAR))")
    u1 = portable_uniform_sql(f"({key} || 'a')")
    u2 = portable_uniform_sql(f"({key} || 'b')")
    z = (f"(sqrt(-2.0e0 * ln({u1})) * "
         f"cos(2e0 * {_m.pi!r}e0 * {u2}))")
    drift = f"(({_d(r)} - sig.sigma * sig.sigma / 2e0) * {_d(dt)})"
    vol = f"(sig.sigma * sqrt({_d(dt)}))"
    parts = [
        sigma_ctes,
        f"p0 AS MATERIALIZED (SELECT path, "
        f"list_transform(generate_series(1, {int(n_steps)}), "
        f"j -> {drift} + {vol} * {z}) AS incs "
        f"FROM (SELECT unnest(generate_series(1, {int(n_paths)})) "
        f"AS path), sig)",
        f"ps AS MATERIALIZED (SELECT path, "
        f"list_transform(generate_series(1, {int(n_steps)}), "
        f"j -> {_d(s0)} * exp(list_sum(incs[1:j]))) AS s FROM p0)",
        f"cf{int(n_steps)} AS MATERIALIZED (SELECT path, s, "
        f"greatest({_d(k)} - s[{int(n_steps)}], 0e0) AS cf, "
        f"{int(n_steps)} AS tau FROM ps)",
    ]
    for t in range(int(n_steps) - 1, 0, -1):
        nxt = f"cf{t + 1}"
        parts += [
            f"reg{t} AS MATERIALIZED (SELECT "
            f"CAST(count(*) AS DOUBLE) AS n, sum(m) AS sm, "
            f"sum(m * m) AS sm2, sum((m * m) * m) AS sm3, "
            f"sum(((m * m) * m) * m) AS sm4, sum(y) AS sy, "
            f"sum(m * y) AS smy, sum((m * m) * y) AS sm2y FROM "
            f"(SELECT s[{t}] / {_d(s0)} AS m, cf * "
            f"exp({_d(-r * dt)} * CAST(tau - {t} AS DOUBLE)) AS y "
            f"FROM {nxt} WHERE greatest({_d(k)} - s[{t}], 0e0) > 0e0))",
            f"bet{t} AS MATERIALIZED (SELECT n, "
            f"{_CRAMER_SQL['det']} AS det, {_CRAMER_SQL['d0']} AS d0, "
            f"{_CRAMER_SQL['d1']} AS d1, {_CRAMER_SQL['d2']} AS d2 "
            f"FROM reg{t})",
            f"cf{t} AS MATERIALIZED (SELECT path, s, "
            f"CASE WHEN b.n >= 3e0 AND b.det <> 0e0 AND pay > 0e0 "
            f"AND pay > (b.d0 / b.det + (b.d1 / b.det) * m "
            f"+ (b.d2 / b.det) * (m * m)) THEN pay ELSE cf END AS cf, "
            f"CASE WHEN b.n >= 3e0 AND b.det <> 0e0 AND pay > 0e0 "
            f"AND pay > (b.d0 / b.det + (b.d1 / b.det) * m "
            f"+ (b.d2 / b.det) * (m * m)) THEN {t} ELSE tau END AS tau "
            f"FROM (SELECT path, s, cf, tau, "
            f"greatest({_d(k)} - s[{t}], 0e0) AS pay, "
            f"s[{t}] / {_d(s0)} AS m FROM {nxt}), bet{t} b)",
        ]
    final = (
        f"SELECT CAST(count(*) AS BIGINT) AS n_paths, "
        f"round(avg(cf * exp({_d(-r * dt)} * CAST(tau AS DOUBLE))), 6) "
        f"AS price, round(avg(CASE WHEN tau < {int(n_steps)} "
        f"THEN 1.0e0 ELSE 0.0e0 END), 6) AS early_frac FROM cf1"
    )
    return ",\n".join(parts) + "\n" + final
