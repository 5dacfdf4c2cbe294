"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_bars --seed 1 --seconds 20 --trace 0

``--workload all`` runs every workload listed in BENCHMARK.json, each in
its own process. Human-readable lines come first; the last line of
standard output is one JSON object ``{"correct", "attempted", "failed",
"metrics"}`` holding the end-to-end metrics (``--trace 0``) or the
per-layer metrics (``--trace 1``). Exits 2 without a result when the
engine package is not next to this directory.
"""

from __future__ import annotations

import os
import time


def _since_process_start() -> float:
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


T0 = time.perf_counter() - _since_process_start()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

WORKLOADS = ("etl_bars", "backtest_sweep", "live_ingest")

#: End-to-end metrics every workload reports under the same names. What
#: each one measures per workload is in perfbench/README.md.
END_TO_END = (
    ("setup_s", "s"),
    ("cold_op_s", "s"),
    ("op_p50_s", "s"),
    ("op_rate_per_s", "1/s"),
    ("peak_rss_mb", "MB"),
)


def _args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _run_all(args) -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        names = [w["name"] for w in json.load(f)["workloads"]]
    combined = {}
    for name in names:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = out.stdout.strip().splitlines()
        for line in lines[:-1]:
            print(line)
        if out.returncode != 0 or not lines:
            print(f"perfbench: {name} exited {out.returncode}", file=sys.stderr)
            return out.returncode or 1
        combined[name] = json.loads(lines[-1])
    print(json.dumps({
        "correct": all(r["correct"] for r in combined.values()),
        "attempted": sum(r["attempted"] for r in combined.values()),
        "failed": sum(r["failed"] for r in combined.values()),
        "metrics": {f"{w}.{k}": v for w, r in combined.items()
                    for k, v in r["metrics"].items()},
    }))
    return 0


def main(argv=None) -> int:
    args = _args(argv)
    from perfbench import harness

    harness.fit_driver_memory()
    try:
        importlib.import_module(
            "build_a_market_data_etl_strategy_backtesting_engine_spark")
    except ImportError as e:
        print(f"perfbench: engine package not importable: {e}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return _run_all(args)

    from perfbench.trace import PER_LAYER, STREAM_LAYER

    ctx = harness.Context(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        trace=bool(args.trace), t0=T0,
        run_dir=harness.fresh_dir(os.path.join(
            harness.WORK, "runs", f"{args.workload}-{os.getpid()}")))
    mod = importlib.import_module(f"perfbench.{args.workload}")
    res = mod.run(ctx)

    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"local[{harness.cores()}]  driver heap {harness.driver_memory()}")
    for line in res.lines:
        print("  " + line)
    print(f"  {'peak_rss_mb':<28} {res.e2e.get('peak_rss_mb', 0.0):.1f} MB")
    frac = res.failed / res.attempted if res.attempted else 1.0
    print(f"  {'failed_frac':<28} {frac:.4f} ({res.failed}/{res.attempted})")
    if args.trace:
        names = PER_LAYER + (STREAM_LAYER if args.workload == "live_ingest"
                             else ())
        metrics = {n: {"value": float(res.layers.get(n, 0.0)), "unit": u}
                   for n, u in names}
        for n, m in metrics.items():
            print(f"  {n:<36} {m['value']:.6g} {m['unit']}")
    else:
        metrics = {n: {"value": float(res.e2e.get(n, 0.0)), "unit": u}
                   for n, u in END_TO_END}
    print(json.dumps({
        "correct": res.attempted > 0 and res.failed == 0,
        "attempted": max(res.attempted, 1),
        "failed": res.failed if res.attempted else 1,
        "metrics": metrics,
    }))
    shutil.rmtree(ctx.run_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
