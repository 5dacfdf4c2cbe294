"""Session lifecycle and process measurements shared by the workloads."""

from __future__ import annotations

import os
import resource
import shutil
import statistics
import subprocess
import sys
from dataclasses import dataclass, field

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(REPO, ".bench_work")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """Driver heap fitted to the machine: a sixteenth of RAM, 1-4 GiB. An
    explicit ``SPARK_GRAFT_DRIVER_MEM`` wins."""
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(max(ram_mb // 16, 1024), 4096)}m"


def fit_driver_memory() -> None:
    """Export the fitted heap as ``SPARK_GRAFT_DRIVER_MEM``. The engine
    reads it when its session module is imported, so call this first."""
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_memory()


def prepare_env(run_dir: str) -> None:
    """Keep Spark's scratch files inside the checkout and let Python
    workers import the package. Must run before the JVM starts."""
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = REPO + (os.pathsep + path if path else "")


def start_session(run_dir: str):
    """The engine's own session builder at ``local[nproc]``."""
    from build_a_market_data_etl_strategy_backtesting_engine_spark.session import (
        get_spark,
    )

    return get_spark(
        app_name="perfbench",
        master=f"local[{cores()}]",
        extra_conf={"spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse")},
    )


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_rss_mb() -> float:
    """Peak resident memory of this Python process plus its JVM."""
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    pid = jvm_pid()
    return own + (_vm_hwm_mb(pid) if pid else 0.0)


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Py4JError:  # the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def end_to_end(setup_s: float, cold: float | None, ops: list[float],
               rate: float) -> dict:
    """The gated metrics, by their JSON names."""
    return {
        "setup_s": setup_s,
        "cold_op_s": cold or 0.0,
        "op_p50_s": statistics.median(ops) if ops else 0.0,
        "op_rate_per_s": rate,
        "peak_rss_mb": peak_rss_mb(),
    }


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def trace_path(ctx) -> str:
    """Where a traced run writes its spans when it ends."""
    d = os.path.join(WORK, "traces")
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, f"{ctx.workload}-seed{ctx.seed}-{os.getpid()}.json")


@dataclass
class Context:
    """What a workload gets from the command line."""
    workload: str
    seed: int
    seconds: float
    trace: bool
    t0: float  # perf_counter() reading at process start
    run_dir: str = ""


@dataclass
class Result:
    """What a workload hands back: end-to-end metrics by JSON name, the
    human-readable report, operation counts and the per-layer metrics."""
    e2e: dict = field(default_factory=dict)
    lines: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    layers: dict = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        """Count one operation; an incorrect one counts as failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: incorrect output: {what}", file=sys.stderr,
                  flush=True)

