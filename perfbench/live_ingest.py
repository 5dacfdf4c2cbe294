"""Workload ``live_ingest``: streaming ingest of a live tick feed.

Open loop. A generator thread drops JSON-lines tick files into a landing
directory on a fixed schedule (``gen.FEED``), stamping each tick with its
creation time; a few frames per file are malformed. The query is
``spark.readStream.text`` -> ``sources.normalizer.normalize_trades`` ->
``streaming.pipeline.start_bar_stage`` on a 1 s processing-time trigger.

- The first micro-batch (one warm-up file) is ``cold_op_s``; the generator
  starts once it has committed.
- Phase 1 offers ``rate_per_s`` for the run's seconds. Latency per
  micro-batch is commit time minus the newest tick's stamp, from
  ``StreamingQueryProgress``.
- Phase 2 drains a pre-landed backlog at ``max_files_per_trigger`` with an
  available-now trigger (``op_rate_per_s``).

Checks: finalized bars have no duplicate ``(symbol, ts)`` and each bar's
``n_ticks`` equals the valid ticks generated for that symbol and minute.

The socket source is not used: each of its micro-batches ships inside the
task binary (see perfbench/README.md).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time
import traceback
from collections import Counter

from perfbench import gen, harness, trace
from perfbench.stats import batch_latency_s, describe, parse_instant

TRIGGER = {"processingTime": "1 second"}
DRAIN_TIMEOUT_S = 90


class Feed(threading.Thread):
    """Writes landing files on schedule until stopped; records, per file,
    the valid ticks it carries and how late it was written."""

    def __init__(self, seed: int, p: dict, land: str, tmp: str, first: int,
                 after_ms: int):
        super().__init__(name="perfbench-feed", daemon=True)
        self.seed, self.p, self.land, self.tmp = seed, p, land, tmp
        self.index, self.after_ms = first, after_ms
        self.stop_event = threading.Event()
        self.valid: list = []
        self.landed: list[tuple[float, int]] = []  # (wall time, files so far)
        self.lag_max_s = 0.0
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            start = time.time()
            k = 0
            while not self.stop_event.is_set():
                due = start + (k + 1) * self.p["file_interval_s"]
                if self.stop_event.wait(max(0.0, due - time.time())):
                    break
                self.lag_max_s = max(self.lag_max_s, time.time() - due)
                self.write_file()
                k += 1
        except BaseException as e:  # reported by the main thread
            self.error = e

    def write_file(self) -> None:
        now_ms = int(time.time() * 1000)
        text, valid = gen.feed_file(self.seed, self.p, self.index,
                                    self.after_ms, now_ms)
        name = f"f{self.index:06d}.json"
        tmp = os.path.join(self.tmp, name)
        with open(tmp, "w") as f:
            f.write(text)
        os.rename(tmp, os.path.join(self.land, name))
        self.valid += valid
        self.index += 1
        self.after_ms = now_ms
        self.landed.append((time.time(), len(self.landed) + 1))


def _bars_ok(spark, path: str, valid) -> tuple[bool, str]:
    """Finalized bars: unique keys, and n_ticks equal to generated ticks."""
    rows = spark.read.parquet(path).selectExpr(
        "symbol", "unix_millis(ts) AS ms", "n_ticks").collect()
    keys = Counter((r["symbol"], r["ms"]) for r in rows)
    if any(c > 1 for c in keys.values()):
        return False, "duplicate (symbol, ts) bars"
    want = Counter((s, t - t % 60_000) for s, t in valid)
    got = {(r["symbol"], r["ms"]): r["n_ticks"] for r in rows}
    bad = [k for k, n in got.items() if want.get(k) != n]
    if bad or not got:
        return False, f"{len(bad)} of {len(got)} bars disagree with the feed"
    return True, f"{len(got)} bars, {sum(got.values())} ticks"


def run(ctx: harness.Context) -> harness.Result:
    from build_a_market_data_etl_strategy_backtesting_engine_spark.sources import (
        normalizer,
    )
    from build_a_market_data_etl_strategy_backtesting_engine_spark.streaming import (
        pipeline,
    )

    res = harness.Result()
    p = gen.values(gen.FEED)
    inputs, manifest, hit = gen.cached(harness.WORK, "feed", ctx.seed,
                                       gen.FEED, gen.write_backlog)
    with open(os.path.join(inputs, "backlog_valid.json")) as f:
        backlog_valid = json.load(f)
    land = harness.fresh_dir(os.path.join(ctx.run_dir, "land"))
    tmp = harness.fresh_dir(os.path.join(ctx.run_dir, "tmp"))
    harness.prepare_env(ctx.run_dir)
    spark = harness.start_session(ctx.run_dir)
    tracer = trace.Tracer(spark, ctx.trace)
    span = tracer.span

    def start(req: str, source: str, workdir: str, trigger: dict,
              max_files: int | None = None):
        with span("op", req):
            with span("build:sources", req):
                reader = spark.readStream
                if max_files:
                    reader = reader.option("maxFilesPerTrigger", max_files)
                raw = reader.text(source)
            with span("build:sources.normalizer", req):
                ticks = normalizer.normalize_trades(raw)
            with span("build:streaming.pipeline", req):
                return pipeline.start_bar_stage(ticks, workdir, trigger=trigger)

    setup_s = time.perf_counter() - ctx.t0
    feed = Feed(ctx.seed, p, land, tmp, first=0,
                after_ms=int(time.time() * 1000) - 500)
    feed.write_file()  # warm-up file for the cold first micro-batch
    t = time.perf_counter()
    live_dir = os.path.join(ctx.run_dir, "live")
    q = start("live", land, live_dir, TRIGGER)
    while q.lastProgress is None and q.isActive:
        time.sleep(0.02)
    cold = time.perf_counter() - t
    progress, lat = [], []
    try:
        feed.start()
        time.sleep(ctx.seconds)
        feed.stop_event.set()
        feed.join(timeout=60)
        if feed.error is not None:
            raise feed.error
        q.processAllAvailable()
        progress = [json.loads(e.json) for e in q.recentProgress]
    except Exception:
        traceback.print_exc(file=sys.stderr)
        res.check(False, "live query failed")
    finally:
        feed.stop_event.set()
        feed.join(timeout=60)
        q.stop()
    for e in progress[1:]:
        v = batch_latency_s(e)
        if v is not None:
            lat.append(v)
    if progress:
        ok, why = _bars_ok(spark, os.path.join(live_dir, "bars"), feed.valid)
        res.check(ok, f"live bars: {why}")
        res.lines.append(f"live bars: {why}")

    drain = None
    t = time.perf_counter()
    try:
        drain_dir = os.path.join(ctx.run_dir, "drain")
        q2 = start("drain", os.path.join(inputs, "backlog"), drain_dir,
                   {"availableNow": True}, p["max_files_per_trigger"])
        if not q2.awaitTermination(DRAIN_TIMEOUT_S):
            q2.stop()
            raise TimeoutError(f"backlog not drained in {DRAIN_TIMEOUT_S} s")
        drain = time.perf_counter() - t
        ok, why = _bars_ok(spark, os.path.join(drain_dir, "bars"),
                           backlog_valid)
        res.check(ok, f"drain bars: {why}")
        res.lines.append(f"drain bars: {why}")
    except Exception:
        traceback.print_exc(file=sys.stderr)
        res.check(False, "drain query failed")

    res.e2e = harness.end_to_end(
        setup_s, cold, lat, len(backlog_valid) / drain if drain else 0.0)
    res.lines += [
        f"offered {p['rate_per_s']} ticks/s for {ctx.seconds:g} s: "
        f"{len(feed.valid)} valid ticks in {len(feed.landed)} files; "
        f"generator lag max {feed.lag_max_s:.3f} s",
        f"{'setup_s':<28} {setup_s:.4f} s",
        f"{'ingest_first_batch_s':<28} {cold:.4f} s",
    ]
    if lat:
        res.lines.append(describe("ingest_latency_s (p90 asked)", lat))
    if drain:
        res.lines.append(f"{'ingest_drain_ticks_per_s':<28} "
                         f"{len(backlog_valid) / drain:.1f} 1/s "
                         f"({len(backlog_valid)} ticks in {drain:.3f} s)")
    if tracer.enabled:
        res.layers = _layers(spark, tracer, progress, feed, p)
        tracer.dump(harness.trace_path(ctx))
    tracer.close()
    harness.stop_session(spark)
    return res


def _layers(spark, tracer, progress, feed, p) -> dict:
    spans = tracer.spans
    rest = trace.fetch_rest(spark.sparkContext)
    out = trace.build_metrics(spans, trace.group_jobs(rest["jobs"]))
    batches = [e for e in progress[1:] if e["numInputRows"]]
    if not batches:
        return out
    run_ids = {e["runId"] for e in batches}
    t = trace.stage_totals(rest["jobs"], rest["stages"], run_ids)
    n = len(batches)
    out.update({f"spark.{k}": v / n for k, v in t.items()})
    wall = sum(e["durationMs"]["triggerExecution"] for e in batches) / 1e3
    out["spark.idle_core_share"] = (
        1.0 - t.get("executor_run_s", 0.0) / (wall * harness.cores()))

    def mean(f):
        return statistics.fmean(f(e) for e in batches)

    per_file = int(p["rate_per_s"] * p["file_interval_s"]) + p["malformed_per_file"]
    consumed, backlog = 0, 0
    for e in progress[1:]:
        consumed += e["numInputRows"]
        at = parse_instant(e["timestamp"])
        landed = max((n for w, n in feed.landed if w <= at), default=0)
        backlog = max(backlog, landed + 1 - consumed // per_file)
    st = [e["stateOperators"][0] for e in batches]
    out.update({
        "streaming.latest_offset_ms": mean(lambda e: e["durationMs"].get("latestOffset", 0)),
        "streaming.query_planning_ms": mean(lambda e: e["durationMs"].get("queryPlanning", 0)),
        "streaming.add_batch_ms": mean(lambda e: e["durationMs"].get("addBatch", 0)),
        "streaming.wal_commit_ms": mean(lambda e: e["durationMs"].get("walCommit", 0)),
        "streaming.commit_offsets_ms": mean(lambda e: e["durationMs"].get("commitOffsets", 0)),
        "streaming.batches": float(n),
        "streaming.state_rows": statistics.fmean(s["numRowsTotal"] for s in st),
        "streaming.state_mb": statistics.fmean(s["memoryUsedBytes"] for s in st) / 2**20,
        "streaming.state_commit_ms": statistics.fmean(s["commitTimeMs"] for s in st),
        "streaming.dropped_late_rows": float(sum(s["numRowsDroppedByWatermark"] for s in st)),
        "streaming.backlog_files_max": float(backlog),
        "gen.lag_max_s": feed.lag_max_s,
        "trace.op_wall_s": wall / n,
    })
    return out
