"""Workload ``backtest_sweep``: the interactive research loop.

Closed loop, one client. A stored bar table (40 symbols x 500 daily bars)
is read by every request; a request builds one strategy's signals, runs
the vectorized backtest (or the event-driven engine) and collects the
per-symbol metric suite. A cycle runs one parameter set of each strategy
kind, in a seeded order. Each kind has two parameter sets; the seed picks
the one a kind starts with and the next cycle takes the other, so two
cycles run every set once and every run times the same mix. The first
cycle runs in the fresh session (``cold_op_s``) and is repeated by the
first timed cycle; the number of timed cycles is set by ``--seconds``.

Kinds: mean_reversion, ma_cross, momentum and RSI signals
(``operators.signals``), MACD (``functions.ewm``, a pandas UDF), and the
event-driven engine (``operators.orderbook``, a pandas UDF).

Checks: one row per symbol; a repeated config returns identical rows;
ma_cross and momentum results equal a NumPy recomputation.
"""

from __future__ import annotations

import math
import statistics
import sys
import time
import traceback

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen, harness, oracle, trace
from perfbench.stats import describe

KINDS = ("mean_reversion", "ma_cross", "momentum", "rsi", "macd",
         "event_driven")
UDF_KINDS = ("macd", "event_driven")
GRID = {
    "mean_reversion": ({"n": 10, "num_std": 1.5}, {"n": 30, "num_std": 2.0}),
    "ma_cross": ({"fast": 5, "slow": 20}, {"fast": 20, "slow": 100}),
    "momentum": ({"lookback": 10, "threshold": 0.0},
                 {"lookback": 60, "threshold": 0.05}),
    "rsi": ({"n": 7}, {"n": 21}),
    "macd": ({"fast": 12, "slow": 26, "signal": 9},
             {"fast": 5, "slow": 35, "signal": 5}),
    "event_driven": ({"fast": 5, "slow": 20}, {"fast": 20, "slow": 100}),
}
RSI_BAND = (30.0, 70.0)
# A warm cycle (six requests) on 4 cores, with the checks between them.
# ``--seconds`` is turned into a cycle count with it once, so every run,
# whatever its speed, times the same positions on the warm-up curve.
NOMINAL_CYCLE_S = 10.0


def timed_cycles(seconds: float) -> int:
    return max(1, round(seconds / NOMINAL_CYCLE_S))


def cycle(seed: int, c: int) -> list[tuple[str, int]]:
    """Cycle ``c``'s requests as ``(kind, index into GRID[kind])``: every
    kind once, its parameter set rotating from a seeded start, in a seeded
    order."""
    rng = np.random.default_rng([seed, 4])
    first = [int(rng.integers(len(GRID[k]))) for k in KINDS]
    order = np.random.default_rng([seed, 5, c]).permutation(len(KINDS))
    return [(KINDS[i], (first[i] + c) % len(GRID[KINDS[i]])) for i in order]


def _row_key(row) -> tuple:
    """Row values with NaN made comparable, for the repeat check."""
    return tuple("nan" if isinstance(v, float) and math.isnan(v) else v
                 for v in row)


def _reference(bars_path: str, kind: str, cfg: dict) -> dict:
    """NumPy (total_return, num_trades) per symbol for ma_cross/momentum."""
    t = pq.read_table(bars_path, columns=["symbol", "close"]).to_pandas()
    out = {}
    for sym, g in t.groupby("symbol", sort=False):
        close = g["close"].to_numpy()
        if kind == "ma_cross":
            sig = oracle.signal_ma_cross(close, cfg["fast"], cfg["slow"])
        else:
            sig = oracle.signal_momentum(close, cfg["lookback"],
                                         cfg["threshold"])
        out[sym] = oracle.backtest_summary(close, sig)
    return out


def run(ctx: harness.Context) -> harness.Result:
    from pyspark.sql import functions as F

    from build_a_market_data_etl_strategy_backtesting_engine_spark.functions import (
        ewm,
    )
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
        backtest,
        metrics,
        orderbook,
        signals,
    )

    res = harness.Result()
    inputs, manifest, hit = gen.cached(harness.WORK, "bars", ctx.seed,
                                       gen.BARS, gen.write_bars)
    bars_path = f"{inputs}/bars.parquet"
    n_symbols = gen.BARS["n_symbols"][0]
    harness.prepare_env(ctx.run_dir)
    spark = harness.start_session(ctx.run_dir)
    tracer = trace.Tracer(spark, ctx.trace)
    span = tracer.span

    def request(kind: str, cfg: dict, req: str):
        """Returns (wall, collected rows, plan prefixes)."""
        t = time.perf_counter()
        with span("op", req):
            with span("build:sources", req):
                b = spark.read.parquet(bars_path)
            if kind == "macd":
                with span("build:functions.ewm", req):
                    m = ewm.macd(b, **cfg)
                    h = F.col("macd_hist")
                    sig = m.withColumn(
                        "signal", F.when(h > 0, 1).when(h < 0, -1).otherwise(0))
            else:
                with span("build:operators.signals", req):
                    if kind == "mean_reversion":
                        sig = signals.mean_reversion_signal(b, **cfg)
                    elif kind == "momentum":
                        sig = signals.momentum_signal(b, **cfg)
                    elif kind == "rsi":
                        r = F.col("rsi")
                        sig = signals.with_rsi(b, **cfg).withColumn(
                            "signal", F.when(r < RSI_BAND[0], 1)
                            .when(r > RSI_BAND[1], -1).otherwise(0))
                    else:  # ma_cross, and the event-driven engine's input
                        sig = signals.ma_cross_signal(b, **cfg)
            if kind == "event_driven":
                with span("build:operators.orderbook", req):
                    bt = orderbook.event_driven_backtest(sig,
                                                         n_symbols=n_symbols)
            else:
                with span("build:operators.backtest", req):
                    bt = backtest.backtest_signals(sig)
            with span("build:operators.metrics", req):
                out = metrics.compute_metrics(bt)
            if tracer.active:
                with span("plan:catalyst", req):
                    out._jdf.queryExecution().executedPlan()
            with span("exec:collect", req):
                rows = out.collect()
        return time.perf_counter() - t, rows, (b, sig, bt)

    seen: dict[tuple, list] = {}
    refs: dict[tuple, dict] = {}

    def verify(key: tuple, req: str, rows) -> None:
        """One row per symbol, identical rows for a repeated config, and
        the NumPy recomputation for ma_cross and momentum."""
        kind, cfg = key[0], GRID[key[0]][key[1]]
        ok = (len(rows) == n_symbols
              and len({r["symbol"] for r in rows}) == n_symbols)
        keys = sorted(_row_key(r) for r in rows)
        ok = ok and seen.setdefault(key, keys) == keys
        if kind in ("ma_cross", "momentum"):
            if key not in refs:
                refs[key] = _reference(bars_path, kind, cfg)
            for r in rows:
                tr, trades = refs[key].get(r["symbol"], (math.nan, -1))
                ok = ok and r["num_trades"] == trades and math.isclose(
                    r["total_return"], tr, rel_tol=1e-9, abs_tol=1e-12)
        res.check(ok, f"request {req} ({kind} {cfg})")

    def checked(key: tuple, req: str):
        try:
            wall, rows, prefixes = request(key[0], GRID[key[0]][key[1]], req)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            res.check(False, f"request {req} ({key[0]}) raised")
            return None, None
        verify(key, req, rows)
        return wall, prefixes

    setup_s = time.perf_counter() - ctx.t0
    # The cold cycle: each config once in the fresh session, as a research
    # session starts. It pays JIT warm-up, code generation for every
    # config and the start of the Python workers, so timed cycles measure
    # the loop that follows; as one sum it is steadier than one request.
    with tracer.off():
        cold = sum(checked(key, f"cold{j}")[0] or 0.0
                   for j, key in enumerate(cycle(ctx.seed, 0)))
    lat = {k: [] for k in KINDS}
    traced, probes = [], []

    def traced_request(key: tuple, req: str) -> None:
        n0 = len(tracer.spans)
        wall, prefixes = checked(key, f"t{req}")
        if wall is not None:
            traced.append(n0)
            probes.append((key[0], _probe(tracer, prefixes, f"p{req}")))

    # a traced run times one cycle, each request paired with a traced twin
    cycles = 1 if tracer.enabled else timed_cycles(ctx.seconds)
    for c in range(cycles):
        for j, key in enumerate(cycle(ctx.seed, c)):
            # traced runs alternate which of the pair goes first, so the
            # overhead estimate does not favour the second, warmer request
            if tracer.enabled and j % 2:
                traced_request(key, f"{c}r{j}")
            with tracer.off():
                wall, _ = checked(key, f"c{c}r{j}")
            if wall is not None:
                lat[key[0]].append(wall)
            if tracer.enabled and not j % 2:
                traced_request(key, f"{c}r{j}")

    every = [x for k in KINDS for x in lat[k]]
    udf = [x for k in UDF_KINDS for x in lat[k]]
    rate = len(every) / sum(every) if every else 0.0
    res.e2e = harness.end_to_end(setup_s, cold, every, rate)
    res.lines = [
        f"input: {manifest['facts']['rows']} daily bars, {n_symbols} symbols "
        f"({'cached' if hit else 'generated'}); {cycles} timed cycle(s), "
        "first: " + ", ".join(f"{k} {GRID[k][g]}" for k, g in cycle(ctx.seed, 0)),
        f"{'setup_s':<28} {setup_s:.4f} s",
        f"{'backtest_cold_cycle_s':<28} {cold:.4f} s",
    ]
    if every:
        res.lines += [
            describe("backtest_s (p90 asked)", every),
            describe("backtest_udf_s", udf),
            f"{'backtest_requests_per_s':<28} {rate:.4f} 1/s",
        ] + [describe(f"  {k}", lat[k]) for k in KINDS if lat[k]]
    if tracer.enabled and traced:
        res.layers = _layers(spark, tracer, traced, probes, every)
    tracer.close()
    if tracer.enabled:
        tracer.dump(harness.trace_path(ctx))
    harness.stop_session(spark)
    return res


def _probe(tracer, prefixes, req: str) -> list[float]:
    """Noop-materialise the scan, signal and backtest prefixes."""
    times = []
    for name, df in zip(("scan", "signal", "backtest"), prefixes):
        t = time.perf_counter()
        with tracer.span(f"probe:{name}", req):
            df.write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t)
    return times


def _layers(spark, tracer, ops, probes, untraced) -> dict:
    spans = tracer.spans
    rest = trace.fetch_rest(spark.sparkContext)
    out = trace.build_metrics(spans, trace.group_jobs(rest["jobs"]))
    out.update(trace.spark_metrics(rest, spans, ops, harness.cores()))
    exec_s: dict[str, list[float]] = {}
    plan = []
    for op, (kind, (scan, sig, bt)) in zip(ops, probes):
        kids = {s["name"]: trace.duration(s) for s in spans
                if s["parent"] == op}
        sig_layer = "functions.ewm" if kind == "macd" else "operators.signals"
        bt_layer = ("operators.orderbook" if kind == "event_driven"
                    else "operators.backtest")
        for layer, v in (("sources", scan), (sig_layer, sig - scan),
                         (bt_layer, bt - sig),
                         ("operators.metrics", kids["exec:collect"] - bt)):
            exec_s.setdefault(layer, []).append(v)
        plan.append(kids["plan:catalyst"])
    walls = [trace.duration(spans[i]) for i in ops]
    out.update({f"{layer}.exec_s": statistics.fmean(v)
                for layer, v in exec_s.items()})
    out.update({
        "catalyst.plan_s": statistics.fmean(plan),
        "trace.op_wall_s": statistics.fmean(walls),
        "trace.unattributed_s": statistics.fmean(
            trace.unattributed(spans, i) for i in ops),
        "trace.overhead_s": statistics.median(walls) - statistics.median(untraced),
    })
    return out
