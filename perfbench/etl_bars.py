"""Workload ``etl_bars``: the paper's batch pipeline.

Seeded raw ticks (parquet) -> ``cleaner.clean_pipeline`` (dedup, price
validation, exact IQR fence) -> ``bars.ticks_to_ohlcv("1min",
tiebreaker="seq")`` -> parquet write of the bars. The first pass runs in
the fresh session (``cold_op_s``); after untimed warm-up passes, a fixed
number of warm passes, set by ``--seconds``, are timed. Every written
output is compared with a DuckDB recomputation.

Traced runs add, per iteration, an untraced pass (the overhead baseline)
and three noop-materialised prefixes of the same plan (scan, clean, bars),
whose differences give each layer's execution time.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback

from perfbench import gen, harness, oracle, trace
from perfbench.stats import describe

# Passes after the cold one keep getting faster for many passes while the
# JIT compiles the hot paths (on 4 cores, passes 3-7 fell 2.8 -> 1.6 s);
# untimed passes move the timed ones to the flatter part of that curve.
WARMUP_PASSES = 6
# A warm pass on 4 cores, with its check. ``--seconds`` is turned into a
# pass count with it once, so every run, whatever its speed, times the
# same positions on the warm-up curve.
NOMINAL_PASS_S = 2.9


def timed_passes(seconds: float, traced: bool) -> int:
    """Warm passes a run times; a traced iteration (a traced pass, its
    untraced twin and three noop prefixes) costs about three passes."""
    n = round(seconds / NOMINAL_PASS_S)
    return max(2, round(n / 3)) if traced else max(1, n)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run(ctx: harness.Context) -> harness.Result:
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
        bars,
        cleaner,
    )

    res = harness.Result()
    inputs, manifest, hit = gen.cached(harness.WORK, "ticks", ctx.seed,
                                       gen.TICKS, gen.write_ticks)
    tick_dir = os.path.join(inputs, "ticks")
    n_ticks = manifest["facts"]["rows"]
    out_dir = os.path.join(ctx.run_dir, "bars")
    harness.prepare_env(ctx.run_dir)
    spark = harness.start_session(ctx.run_dir)
    tracer = trace.Tracer(spark, ctx.trace)
    span = tracer.span

    def etl_pass(req: str):
        """One pass; returns (wall seconds, the three plan prefixes)."""
        t = time.perf_counter()
        with span("op", req):
            with span("build:sources", req):
                raw = spark.read.parquet(tick_dir)
            with span("build:operators.cleaner", req):
                clean = cleaner.clean_pipeline(raw)
            with span("build:operators.bars", req):
                out = bars.ticks_to_ohlcv(clean, "1min", tiebreaker="seq")
            if tracer.active:
                with span("plan:catalyst", req):
                    out._jdf.queryExecution().executedPlan()
            with span("exec:write", req):
                out.write.mode("overwrite").parquet(out_dir)
        return time.perf_counter() - t, (raw, clean, out)

    expected = None

    def checked_pass(req: str):
        nonlocal expected
        try:
            wall, prefixes = etl_pass(req)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            res.check(False, f"pass {req} raised")
            return None, None
        if expected is None:
            expected = oracle.expected_bars(tick_dir)
        bad = oracle.bar_mismatches(expected, out_dir)
        res.check(bad == 0, f"pass {req}: {bad} bars differ from DuckDB")
        return wall, prefixes

    setup_s = time.perf_counter() - ctx.t0
    with tracer.off():
        cold, _ = checked_pass("cold")
        for i in range(WARMUP_PASSES):
            checked_pass(f"warmup{i}")
    warm, traced, probes = [], [], []

    def traced_pass(i: int) -> None:
        n0 = len(tracer.spans)
        wall, prefixes = checked_pass(f"t{i}")
        if wall is None:
            return
        traced.append(n0)
        times = []
        for name, df in zip(("scan", "clean", "bars"), prefixes):
            t = time.perf_counter()
            with span(f"probe:{name}", f"p{i}"):
                _noop(df)
            times.append(time.perf_counter() - t)
        probes.append(times)

    for i in range(timed_passes(ctx.seconds, tracer.enabled)):
        # traced runs alternate which of the pair goes first, so the
        # overhead estimate does not favour the second, warmer pass
        if tracer.enabled and i % 2:
            traced_pass(i)
        with tracer.off():
            wall, _ = checked_pass(f"w{i}")
        if wall is not None:
            warm.append(wall)
        if tracer.enabled and not i % 2:
            traced_pass(i)

    rate = n_ticks * len(warm) / sum(warm) if warm else 0.0
    res.e2e = harness.end_to_end(setup_s, cold, warm, rate)
    res.lines = [
        f"input: {n_ticks} ticks in {gen.TICKS['n_files'][0]} parquet files "
        f"({'cached' if hit else 'generated'})",
        f"{'setup_s':<28} {setup_s:.4f} s",
        f"{'etl_cold_pass_s':<28} {cold or 0.0:.4f} s",
    ]
    if warm:
        res.lines += [describe("etl_pass_s", warm),
                      f"{'etl_ticks_per_s':<28} {rate:.1f} 1/s"]
    if tracer.enabled and traced:
        res.layers = _layers(spark, tracer, traced, probes, warm)
    tracer.close()
    if tracer.enabled:
        tracer.dump(harness.trace_path(ctx))
    harness.stop_session(spark)
    return res


def _layers(spark, tracer, ops, probes, warm) -> dict:
    spans = tracer.spans
    rest = trace.fetch_rest(spark.sparkContext)
    out = trace.build_metrics(spans, trace.group_jobs(rest["jobs"]))
    out.update(trace.spark_metrics(rest, spans, ops, harness.cores()))

    def child(op, name):
        return next(trace.duration(s) for s in spans
                    if s["parent"] == op and s["name"] == name)

    scan, clean, bar = (statistics.fmean(p[k] for p in probes) for k in range(3))
    walls = [trace.duration(spans[i]) for i in ops]
    out.update({
        "sources.exec_s": scan,
        "operators.cleaner.exec_s": clean - scan,
        "operators.bars.exec_s": bar - clean,
        "sink.write_s": statistics.fmean(child(i, "exec:write") for i in ops) - bar,
        "catalyst.plan_s": statistics.fmean(child(i, "plan:catalyst") for i in ops),
        "trace.op_wall_s": statistics.fmean(walls),
        "trace.unattributed_s": statistics.fmean(
            trace.unattributed(spans, i) for i in ops),
        "trace.overhead_s": statistics.median(walls) - statistics.median(warm),
    })
    return out
