#!/usr/bin/env python3
"""Benchmark harness: headline engine queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Comparison protocol per BASELINE.md: the honest comparable at this scale is
per-row throughput of (1) clean + tick->OHLCV, (2) vectorized backtest kernel
+ metrics — the reference's two headline workloads — plus the relational and
corpus-pipeline queries that define our wider surface. Each query is fully
materialized through a noop sink (no collect bottleneck, no sink IO).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from build_a_market_data_etl_strategy_backtesting_engine_spark import (  # noqa: E402
    get_spark,
    queries as q,
)
from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (  # noqa: E402
    backtest,
    bars,
    cleaner,
    metrics as metrics_ops,
    signals,
)
from build_a_market_data_etl_strategy_backtesting_engine_spark.session import (  # noqa: E402
    events_as_ticks,
    load_tables,
)


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def bench_clean_ohlcv(spark, sf_dir):
    """Reference workload 1: clean (dedup+validate+IQR) + tick->1min OHLCV."""
    ticks = events_as_ticks(load_tables(spark, sf_dir, ["events"])["events"])
    clean = cleaner.clean_pipeline(ticks, dedup_subset=["symbol", "ts"],
                                   outlier_method="iqr", outlier_k=3.0)
    _materialize(bars.ticks_to_ohlcv(clean, "1min", tiebreaker="seq"))


def bench_backtest_metrics(spark, sf_dir):
    """Reference workload 2: 15min bars -> mean-reversion -> kernel -> metrics."""
    ticks = events_as_ticks(load_tables(spark, sf_dir, ["events"])["events"])
    b = bars.ticks_to_ohlcv(ticks, "15min")
    px = b.withColumn("px", F.lit(100.0) + F.col("close") / F.lit(10.0))
    sig = signals.mean_reversion_signal(px, n=20, num_std=1.5, price_col="px")
    res = backtest.backtest_signals(sig, price_col="px", initial_cash=100_000.0)
    _materialize(metrics_ops.compute_metrics(res))


def bench_minhash_production(spark, sf_dir):
    """Near-dup candidate pipeline on the PRODUCTION hash path (xxhash64
    signatures -> LSH banding) WITH the stop-band cap — the 100TB dedup
    route always caps hot bands (the scale-rehearsal corpus is hot-banded
    by construction: every doc has ~10 near-copies per chained decade, so
    the uncapped within-band pair join is quadratic in the copy count —
    215 s vs 31 s at sf10). The md5 twin only exists for cross-engine
    oracle checks; uncapped pair semantics are oracle-checked by q29,
    cap semantics by q157."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import dedup

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    sigs = dedup.minhash_signatures(docs, num_hashes=16, k=5)
    _materialize(dedup.lsh_candidate_pairs(sigs, num_hashes=16, bands=4,
                                           max_band_df=200))


def bench_event_driven(spark, sf_dir):
    """Sequential per-symbol applyInPandas engine — the reference's 10x-
    slower path (500ms vs 50ms claim); here symbols run in parallel."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import orderbook

    ticks = events_as_ticks(load_tables(spark, sf_dir, ["events"])["events"])
    b = bars.ticks_to_ohlcv(ticks, "15min")
    px = b.withColumn("close", F.lit(100.0) + F.col("close") / F.lit(10.0))
    sig = signals.momentum_signal(px, lookback=10, threshold=0.01)
    _materialize(orderbook.event_driven_backtest(sig, initial_cash=500_000.0))


def bench_from_query(name):
    fn = q.spark_queries()[name]

    def run(spark, sf_dir):
        _materialize(fn(spark, sf_dir))

    run.__name__ = name
    return run


def bench_asof_join(spark, sf_dir):
    """Every tick joined to its most recent 1H bar via union-and-ffill —
    one shuffle, no inequality join."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import joins

    ticks = events_as_ticks(load_tables(spark, sf_dir, ["events"])["events"])
    b = bars.ticks_to_ohlcv(ticks, "1H").select("symbol", "ts", "close")
    _materialize(joins.asof_join(ticks, b, value_cols=["close"]))


def bench_asof_nearest(spark, sf_dir):
    """Nearest-direction as-of (r4): backward + forward fills off ONE
    exchange, per-row distance choice — all JVM-side."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import joins

    ticks = events_as_ticks(load_tables(spark, sf_dir, ["events"])["events"])
    b = bars.ticks_to_ohlcv(ticks, "1H").select("symbol", "ts", "close")
    _materialize(joins.asof_join(ticks, b, value_cols=["close"],
                                 direction="nearest"))


def _jvm_gc_ms(spark) -> int:
    """Cumulative JVM GC milliseconds across all collectors (local mode:
    the one JVM doing all the work). Deltas around a workload attribute
    slow runs to GC pressure vs box load vs the plan itself."""
    beans = (spark.sparkContext._jvm.java.lang.management
             .ManagementFactory.getGarbageCollectorMXBeans())
    return sum(beans.get(i).getCollectionTime()
               for i in range(beans.size()))


def _load1() -> float:
    return round(os.getloadavg()[0], 2)


#: pre-run 1-min loadavg above this marks the run contaminated. On the
#: 32-CPU bench box an idle reading is <1; the r8 repetition experiment
#: showed a ~4 loadavg tail inflating every workload ~25% uniformly.
LOAD1_CONTAMINATION_THRESHOLD = 2.0

#: Reference all-threads calibration constant (r11 VERDICT #4): the
#: committed r11 idle-baseline sha256 throughput of THIS build box
#: (SCALING.md bench-provenance section). normalized_total rescales a
#: run's total to this box state so cross-round comparisons need no
#: hand arithmetic. NOTE the direction: a slower box state (smaller
#: cal_run) INFLATES wall totals, so normalizing multiplies by
#: cal_run / CAL_REF (r11 VERDICT #4 wrote the inverse ratio — that
#: would double the penalty instead of removing it).
CAL_REF_ALL_MB_S = 26258.0


def normalized_total(total: float, calibration: dict) -> float | None:
    """``total`` rescaled to the reference box state, or None when the
    calibration sample is missing/zero. First-order model: every
    workload's wall scales ~1/box_speed (the r9->r10 ~22% uniform shift
    and the r11 34% same-day swing both moved ALL workloads together,
    including untouched pure-JVM paths)."""
    cal = (calibration or {}).get("sha256_mb_per_s_all") or 0.0
    if cal <= 0:
        return None
    return round(total * cal / CAL_REF_ALL_MB_S, 3)


def _contaminated(load1_start: float) -> bool:
    return load1_start > LOAD1_CONTAMINATION_THRESHOLD


#: self-deferral target — below the contamination threshold so a run
#: that starts right at the target has headroom before the flag trips.
LOAD1_IDLE_TARGET = 1.5
DEFER_MAX_S = 180.0
DEFER_POLL_S = 5.0


def defer_until_idle(max_wait_s: float = DEFER_MAX_S,
                     target: float = LOAD1_IDLE_TARGET,
                     poll_s: float = DEFER_POLL_S,
                     loadavg=None, sleep=time.sleep) -> dict:
    """Bounded pre-run deferral (r9 VERDICT #2): poll the 1-min loadavg
    until it drops below ``target`` or ``max_wait_s`` elapses, so the
    COMMITTED bench artifact is the cross-round-comparable one instead of
    only a NOTES idle rep. Returns a provenance dict recording what was
    waited and whether the box ever went idle — a gave-up run still
    executes (and still self-flags contaminated downstream); deferral
    changes when we measure, never whether.

    ``loadavg``/``sleep`` are injectable for the mocked-loadavg test."""
    load = loadavg if loadavg is not None else (
        lambda: os.getloadavg()[0])
    start = load()
    cur = start
    waited = 0.0
    while cur > target and waited < max_wait_s:
        step = min(poll_s, max_wait_s - waited)
        sleep(step)
        waited += step
        cur = load()
    return {
        "load1_initial": round(start, 2),
        "load1_final": round(cur, 2),
        "waited_s": round(waited, 1),
        "gave_up": cur > target,
    }


def box_calibration(reps: int = 4, mb: int = 64, hasher=None) -> dict:
    """Fixed pure-CPU box-speed constant (r10 VERDICT #3): SHA-256 over a
    deterministic buffer, measured single-thread and all-threads, recorded
    in every bench's provenance. The r9->r10 idle-to-idle total shifted
    ~22% uniformly across ALL workloads — including pure-JVM paths the
    diff never touched — which the judge attributed to the BOX (reboot /
    frequency state), not the engine; without a calibration constant that
    attribution cannot be made from committed artifacts. sha256 is
    C-speed, deterministic, releases the GIL on large buffers (so the
    all-threads figure really exercises every core), and has no JIT or
    allocator warm-up to confound it.

    ``hasher`` is injectable for the ordering test."""
    import concurrent.futures as cf
    import hashlib

    make = hasher if hasher is not None else hashlib.sha256
    buf = bytes(range(256)) * (mb * 4096)  # mb MiB, deterministic

    def one():
        h = make()
        for _ in range(reps):
            h.update(buf)
        return h

    one()  # untimed: page the buffer in
    t0 = time.perf_counter()
    one()
    single_s = time.perf_counter() - t0
    n = os.cpu_count() or 1
    with cf.ThreadPoolExecutor(n) as ex:
        t0 = time.perf_counter()
        list(ex.map(lambda _i: one(), range(n)))
        multi_s = time.perf_counter() - t0
    total_mb = reps * mb
    out = {
        "sha256_mb_per_s_1t": round(total_mb / single_s, 1),
        "sha256_mb_per_s_all": round(n * total_mb / multi_s, 1),
        "threads": n,
    }
    out.update(_memcpy_calibration(reps=reps, mb=mb))
    return out


def _memcpy_calibration(reps: int = 4, mb: int = 64) -> dict:
    """Second, ADDITIVE calibration probe (r12 VERDICT #2): bulk memory
    copy via NumPy (releases the GIL, so the all-threads figure measures
    real memory bandwidth under contention). sha256 is compute-bound and
    demonstrably under-corrects box-state shifts that hit bandwidth or
    SMT/host contention (r12: sha256 moved -3.3% while untouched
    pure-compute paths moved -14..-22%); two probes with different
    bottlenecks make the normalization claim falsifiable from committed
    artifacts. Never used to rescale anything — provenance only."""
    import concurrent.futures as cf

    import numpy as np

    # How the two figures relate: 1t is one thread's copy bandwidth; all
    # is the aggregate n * bytes / wall with every thread copying its own
    # pair at once. A copy is memory-bound, so all ~= min(n * 1t, the
    # box's memory bandwidth): expect 1t <= all <= n * 1t. A figure BELOW
    # 1t means the threads contended on something other than the bus
    # (page faults, SMT siblings, a noisy neighbour) — which is why every
    # buffer is faulted in before its timed pass.
    n = os.cpu_count() or 1
    # cap the all-thread footprint (n pairs of src + dst) at 2 GiB
    mb = max(1, min(mb, 2048 // (2 * n)))
    words = mb * 131072  # mb MiB of float64
    src = np.arange(words, dtype=np.float64)
    dst = np.empty_like(src)

    def one():
        for _ in range(reps):
            np.copyto(dst, src)

    one()  # untimed: fault the pages in
    t0 = time.perf_counter()
    one()
    single_s = time.perf_counter() - t0
    del src, dst
    bufs = [(np.arange(words, dtype=np.float64),
             np.empty(words, dtype=np.float64)) for _ in range(n)]

    def prefault(i):
        s, d = bufs[i]
        np.copyto(d, s)

    def one_i(i):
        s, d = bufs[i]
        for _ in range(reps):
            np.copyto(d, s)

    with cf.ThreadPoolExecutor(n) as ex:
        list(ex.map(prefault, range(n)))  # untimed, first touch per thread
        t0 = time.perf_counter()
        list(ex.map(one_i, range(n)))
        multi_s = time.perf_counter() - t0
    bufs.clear()
    total_mb = reps * mb
    return {
        "memcpy_mb_per_s_1t": round(total_mb / single_s, 1),
        "memcpy_mb_per_s_all": round(n * total_mb / multi_s, 1),
    }


def _prewarm_python_workers(spark, cpus: int) -> None:
    """Untimed warm-up of the Python-worker pool (r12 VERDICT #3): fork
    one worker per core and pay its `import pandas/pyarrow` cost BEFORE
    the timed region, so queries_cold measures each plan's own cold cost
    (codegen, AQE, broadcast) instead of session-global worker spin-up —
    event_driven's 3.8 s "cold" was ~2.7 s of worker forking that every
    Python-path workload shares. `spark.python.worker.reuse` (default
    true) keeps the warmed pool alive for the timed passes. The timed
    region and the warm methodology are byte-identical; this joins the
    existing untimed warm-up passes (parquet footers, codegen)."""
    n = max(2 * cpus, 2)
    df = spark.range(0, n, 1, n).selectExpr("id", "id % 7 AS g")
    _materialize(df.mapInPandas(lambda it: it, "id long, g long"))
    _materialize(df.groupBy("g").applyInPandas(
        lambda p: p, "id long, g long"))


def preflight(defer=None, load1=None, calibrate=None):
    """Everything that must happen BEFORE any Spark work, in this exact
    order: (1) bounded idle deferral; (2) the contamination-gate loadavg
    sample; (3) the pure-CPU calibration. The ordering is load-bearing —
    sampling load1 after the session spin-up gates on the bench's own
    heat (r10 VERDICT #2), and calibrating after Spark starts contends
    with executor threads. Injectable for the ordering test."""
    deferral = (defer or defer_until_idle)()
    load_start = (load1 or _load1)()
    calibration = (calibrate or box_calibration)()
    return deferral, load_start, calibration


BENCHES = {
    "clean_ohlcv": bench_clean_ohlcv,
    "backtest_metrics": bench_backtest_metrics,
    "asof_join": bench_asof_join,
    "asof_nearest": bench_asof_nearest,
    "pricing_summary": bench_from_query("q01_pricing_summary"),
    "star_join": bench_from_query("q02_revenue_by_nation"),
    "metrics_suite": bench_from_query("q17_metrics_suite"),
    "minhash_lsh": bench_minhash_production,
    "event_driven": bench_event_driven,
    "embedding_topk": bench_from_query("q24_embedding_topk"),
    "black_scholes": bench_from_query("q26_black_scholes"),
    "corpus_curation": bench_from_query("q66_corpus_curation"),
}


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # self-defer BEFORE any Spark work so ambient load (another round's
    # leftover job, a CI neighbor) can clear; bounded so the driver's
    # bench step never hangs
    # Preflight order is load-bearing (r10 VERDICT #2): deferral, THEN
    # the contamination-gate sample, THEN calibration — all before any
    # Spark work, so the gate reads ambient load, not the bench's own
    # 32-core spin-up heat (old placement pushed 1.43 -> 3.89 and
    # re-flagged a successfully-deferred run contaminated).
    deferral, load_start, calibration = preflight()
    if deferral["waited_s"] > 0:
        print(f"bench: deferred {deferral['waited_s']}s for load1 "
              f"{deferral['load1_initial']} -> {deferral['load1_final']}"
              f"{' (gave up)' if deferral['gave_up'] else ''}",
              file=sys.stderr)
    spark = get_spark("bench", master=f"local[{cpus}]")
    # Warm-up: parquet footers + one untimed pass of the first workload so
    # the timed numbers measure steady-state execution, not whole-stage
    # codegen compilation and shuffle-infra spin-up. (Per-row throughput at
    # steady state is the BASELINE-comparable quantity.)
    load_tables(spark, sf_dir)
    spark.sql("SELECT count(*) FROM events").collect()
    bench_clean_ohlcv(spark, sf_dir)
    bench_backtest_metrics(spark, sf_dir)
    _prewarm_python_workers(spark, int(cpus))
    load_post_warmup = _load1()

    n_events = spark.sql("SELECT count(*) FROM events").first()[0]
    # input cardinality per workload, for the rows/sec comparison the
    # BASELINE protocol asks for (reference claims 10k ticks/s ETL).
    workload_rows = {"clean_ohlcv": n_events, "backtest_metrics": n_events,
                     "event_driven": n_events}

    # Two passes per workload: the first pays per-plan overhead (codegen
    # compilation, broadcast build, AQE re-planning), the second is the
    # steady-state number a long-running cluster job would see. Report warm
    # as the headline (that's the 100TB-relevant asymptote), cold alongside.
    timings = {}
    cold = {}
    med3 = {}
    warm_reps = {}
    throughput = {}
    gc_ms = {}
    load1 = {}
    for name, fn in BENCHES.items():
        t0 = time.perf_counter()
        fn(spark, sf_dir)
        cold[name] = round(time.perf_counter() - t0, 3)
        g0 = _jvm_gc_ms(spark)
        t0 = time.perf_counter()
        fn(spark, sf_dir)
        dt = time.perf_counter() - t0
        gc_ms[name] = _jvm_gc_ms(spark) - g0
        load1[name] = _load1()
        timings[name] = round(dt, 3)
        # ADDITIVE warm stability (r12 VERDICT #2): two more in-process
        # warm reps; queries_med3 = median of the 3. The headline
        # `queries` entry stays the FIRST warm rep (methodology
        # unchanged); the median is the noise-robust cross-round figure
        # on a box whose multithread throughput can swing 2x within
        # minutes (host contention, measured r13).
        reps = [dt]
        for _ in range(2):
            t0 = time.perf_counter()
            fn(spark, sf_dir)
            reps.append(time.perf_counter() - t0)
        med3[name] = round(sorted(reps)[1], 3)
        warm_reps[name] = [round(r, 3) for r in reps]
        if name in workload_rows and dt > 0:
            throughput[name] = round(workload_rows[name] / dt)

    # headline total is the 12-workload figure BENCH_r04/r05 used
    # (cross-round comparable)
    total = round(sum(timings.values()), 3)
    total_med3 = round(sum(med3.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf = float(sf)
    except ValueError:
        pass
    contaminated = _contaminated(load_start)
    if contaminated:
        print(f"WARNING: load1_start={load_start} > "
              f"{LOAD1_CONTAMINATION_THRESHOLD} on this {os.cpu_count()}-"
              f"CPU box — ambient load inflates every workload ~25% "
              f"(measured r8); this run is marked contaminated and must "
              f"not be compared across rounds", file=sys.stderr)
    print(json.dumps({
        "metric": "headline_queries_total",
        "value": total,
        # total rescaled to the r11 reference box state (r11 VERDICT #4)
        # so cross-round deltas read off committed artifacts directly;
        # see normalized_total() for the direction of the ratio
        "normalized_total": normalized_total(total, calibration),
        "cal_ref_all_mb_s": CAL_REF_ALL_MB_S,
        "unit": "sec",
        # ADDITIVE (r12 VERDICT #2): median-of-3 warm reps per workload
        # and its total/normalization — the noise-robust figures; the
        # existing fields keep their first-warm-rep methodology exactly
        "total_med3": total_med3,
        "normalized_total_med3": normalized_total(total_med3, calibration),
        "queries": timings,
        "queries_med3": med3,
        "queries_cold": cold,
        "rows_per_sec": throughput,
        "sf": sf,
        # run provenance: a warm number taken on a loaded box (load1 >>
        # ncpus-idle baseline) or during a GC storm is not comparable
        # across rounds — r6->r7 six workloads swung +-30% with zero code
        # change. gc_ms is the JVM GC delta DURING each warm pass;
        # load1 the 1-min loadavg right after it.
        "provenance": {
            "ncpus": os.cpu_count(),
            "load1_start": load_start,
            # the bench's own spin-up heat: loadavg right after the
            # session + warm-up passes; NOT used for the contamination
            # gate (r10 VERDICT #2 — the gate reads ambient load only)
            "load1_post_warmup": load_post_warmup,
            "load1_after": load1,
            # fixed pure-CPU constant for cross-round box-speed
            # normalization (r10 VERDICT #3)
            "calibration": calibration,
            # raw per-rep warm timings behind queries_med3 (additive)
            "warm_reps": warm_reps,
            "gc_ms_warm": gc_ms,
            # self-arbitrated (r8 VERDICT #6): True when the pre-run
            # loadavg exceeds the idle threshold, so the cross-round
            # comparison rule is enforced by the tool, not by whoever
            # reads SCALING.md
            "contaminated": contaminated,
            # bounded pre-run idle wait (r9 VERDICT #2): what the tool
            # waited for the box to go idle before the first workload
            "deferral": deferral,
        },
        "config": {
            "spark": spark.version,
            "master": f"local[{cpus}]",
            "shuffle_partitions":
                spark.conf.get("spark.sql.shuffle.partitions"),
            "aqe": spark.conf.get("spark.sql.adaptive.enabled"),
        },
    }))
    spark.stop()


if __name__ == "__main__":
    main()
