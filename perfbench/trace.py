"""Tracing from outside the engine: spans around the benchmark's calls into
each package module, py4j round trips per span, Spark job groups per span,
and the local status REST API read once at the end of a run.

Nothing here patches the package. The py4j counter wraps ``send_command``
on this process's gateway client instance, and only in traced runs.
"""

from __future__ import annotations

import json
import threading
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager

from perfbench.stats import parse_quantity

# Package modules whose builders the gated workloads call, in pipeline
# order. ``sources`` is the batch parquet scan (``spark.read``), attributed
# to the package's sources layer.
BUILD_LAYERS = (
    "sources", "operators.cleaner", "operators.bars", "operators.signals",
    "functions.ewm", "operators.backtest", "operators.metrics",
    "operators.orderbook",
)
# Builders only ``live_ingest`` calls.
STREAM_BUILD_LAYERS = ("sources.normalizer", "streaming.pipeline")
EXEC_LAYERS = (
    "sources", "operators.cleaner", "operators.bars", "operators.signals",
    "functions.ewm", "operators.backtest", "operators.metrics",
    "operators.orderbook",
)
SPARK = (
    ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"), ("spark.gc_s", "s"),
    ("spark.shuffle_write_mb", "MB"), ("spark.shuffle_read_mb", "MB"),
    ("spark.spill_mb", "MB"), ("spark.input_mb", "MB"),
    ("spark.output_mb", "MB"), ("spark.python_udf_s", "s"),
    ("spark.python_init_s", "s"), ("spark.idle_core_share", "share"),
)
STREAMING = (
    ("streaming.latest_offset_ms", "ms"), ("streaming.query_planning_ms", "ms"),
    ("streaming.add_batch_ms", "ms"), ("streaming.wal_commit_ms", "ms"),
    ("streaming.commit_offsets_ms", "ms"), ("streaming.batches", "count"),
    ("streaming.state_rows", "count"), ("streaming.state_mb", "MB"),
    ("streaming.state_commit_ms", "ms"),
    ("streaming.dropped_late_rows", "count"),
    ("streaming.backlog_files_max", "count"), ("gen.lag_max_s", "s"),
)
TRACE = (
    ("catalyst.plan_s", "s"), ("sink.write_s", "s"),
    ("trace.op_wall_s", "s"), ("trace.unattributed_s", "s"),
    ("trace.overhead_s", "s"),
)



def _build(layers) -> list:
    return ([(f"{l}.build_s", "s") for l in layers]
            + [(f"{l}.py4j_calls", "count") for l in layers]
            + [(f"{l}.build_jobs", "count") for l in layers])


#: Every per-layer metric a traced run of a gated workload reports, in
#: report order (BENCHMARK.json's ``per_layer``). Values are means per
#: traced operation (ETL pass or backtest request); a layer a workload
#: never calls reports 0.
PER_LAYER = tuple(
    _build(BUILD_LAYERS) + [(f"{l}.exec_s", "s") for l in EXEC_LAYERS]
    + list(TRACE) + list(SPARK)
)
#: What a traced ``live_ingest`` run reports on top of ``PER_LAYER``,
#: means per micro-batch. Not in BENCHMARK.json: no gated workload calls
#: these layers.
STREAM_LAYER = tuple(_build(STREAM_BUILD_LAYERS) + list(STREAMING))

_MEMORY_RELEASE = "m\nd\n"


class Py4jCounter:
    """Counts py4j commands the tracing thread sends to the JVM.

    py4j's own memory-release commands are left out: they are sent when
    Python garbage-collects a proxy, so their count drifts between
    identical requests."""

    def __init__(self, client):
        self.n = 0
        self._thread = threading.get_ident()
        self._client = client
        self._orig = client.send_command

        def send_command(command, *args, **kwargs):
            if (threading.get_ident() == self._thread
                    and not command.startswith(_MEMORY_RELEASE)):
                self.n += 1
            return self._orig(command, *args, **kwargs)

        client.send_command = send_command

    def close(self) -> None:
        self._client.send_command = self._orig


class Tracer:
    """Spans ``{name, req, start, end, parent, group, py4j_calls}`` kept in
    memory. With ``enabled=False`` (and inside ``off()``) ``span`` records
    nothing and touches no Spark state, so untraced runs pay nothing."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.active = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = spark.sparkContext
        self._calls = (Py4jCounter(self._sc._gateway._gateway_client)
                       if enabled else None)

    @contextmanager
    def off(self):
        """Run the body untraced, e.g. the baseline for tracing overhead."""
        was, self.active = self.active, False
        try:
            yield
        finally:
            self.active = was

    @contextmanager
    def span(self, name: str, req: str):
        if not self.active:
            yield None
            return
        group = f"{req}|{name}"
        self._sc.setJobGroup(group, name)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "req": req, "parent": parent, "group": group}
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        c0, t0 = self._calls.n, time.perf_counter()
        try:
            yield rec
        finally:
            rec["start"], rec["end"] = t0, time.perf_counter()
            rec["py4j_calls"] = self._calls.n - c0
            self._stack.pop()
            if parent is None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            else:
                p = self.spans[parent]
                self._sc.setJobGroup(p["group"], p["name"])

    def close(self) -> None:
        if self._calls is not None:
            self._calls.close()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def unattributed(spans: list[dict], index: int) -> float:
    """Part of a span's duration that none of its child spans cover."""
    kids = [s for s in spans if s["parent"] == index]
    return duration(spans[index]) - sum(duration(s) for s in kids)


def fetch_rest(sc) -> dict:
    """Jobs, stages and SQL executions from the local status REST API,
    after the listener bus has delivered every event."""
    from py4j.protocol import Py4JError

    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
    except Py4JError:  # private API; fall back to a grace period
        time.sleep(2.0)
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(path):
        with urllib.request.urlopen(f"{base}/{path}", timeout=60) as r:
            return json.load(r)

    return {"jobs": get("jobs"), "stages": get("stages"),
            "sql": get("sql?details=true&planDescription=false"
                       "&offset=0&length=1000000")}


def group_jobs(jobs: list[dict]) -> dict[str, list[dict]]:
    out = defaultdict(list)
    for j in jobs:
        if j.get("jobGroup"):
            out[j["jobGroup"]].append(j)
    return out


def stage_totals(jobs: list[dict], stages: list[dict], groups) -> dict:
    """Sum stage metrics over the jobs whose group is in ``groups``.

    A stage is charged to the lowest-numbered job listing it, so a stage
    reused (skipped) by a later job is counted once; skipped stage
    attempts carry no work and are ignored."""
    groups = set(groups)
    owner: dict[int, int] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in j["stageIds"]:
            owner.setdefault(sid, j["jobId"])
    mine = {j["jobId"] for j in jobs if j.get("jobGroup") in groups}
    t = defaultdict(float)
    t["jobs"] = len(mine)
    for s in stages:
        if owner.get(s["stageId"]) not in mine or s["status"] == "SKIPPED":
            continue
        t["stages"] += 1
        t["tasks"] += s["numCompleteTasks"] + s["numFailedTasks"]
        t["executor_run_s"] += s["executorRunTime"] / 1e3
        t["executor_cpu_s"] += s["executorCpuTime"] / 1e9
        t["gc_s"] += s["jvmGcTime"] / 1e3
        t["shuffle_write_mb"] += s["shuffleWriteBytes"] / 2**20
        t["shuffle_read_mb"] += s["shuffleReadBytes"] / 2**20
        t["spill_mb"] += s["diskBytesSpilled"] / 2**20
        t["input_mb"] += s["inputBytes"] / 2**20
        t["output_mb"] += s["outputBytes"] / 2**20
    return dict(t)


def python_worker_times(sql: list[dict], job_ids) -> tuple[float, float]:
    """(run, initialize) seconds of Python workers summed over the SQL
    nodes of executions that ran any of ``job_ids``."""
    job_ids = set(job_ids)
    run = init = 0.0
    for e in sql:
        ran = set(e.get("successJobIds", []) + e.get("failedJobIds", [])
                  + e.get("runningJobIds", []))
        if not ran & job_ids:
            continue
        for node in e.get("nodes", []):
            for m in node.get("metrics", []):
                if m["name"] == "time to run Python workers":
                    run += parse_quantity(m["value"])
                elif m["name"] == "time to initialize Python workers":
                    init += parse_quantity(m["value"])
    return run, init


def build_metrics(spans: list[dict], jobs_by_group: dict) -> dict:
    """Per-layer driver build: mean seconds, py4j calls and Spark jobs of
    the ``build:<layer>`` spans, over the traced operations that call
    that layer."""
    per = defaultdict(lambda: defaultdict(lambda: [0.0, 0, 0]))
    for s in spans:
        if s["name"].startswith("build:"):
            acc = per[s["name"][6:]][s["req"]]
            acc[0] += duration(s)
            acc[1] += s["py4j_calls"]
            acc[2] += len(jobs_by_group.get(s["group"], ()))
    out = {}
    for layer, reqs in per.items():
        n = len(reqs)
        out[f"{layer}.build_s"] = sum(v[0] for v in reqs.values()) / n
        out[f"{layer}.py4j_calls"] = sum(v[1] for v in reqs.values()) / n
        out[f"{layer}.build_jobs"] = sum(v[2] for v in reqs.values()) / n
    return out


def root(spans: list[dict], i: int) -> int:
    while spans[i]["parent"] is not None:
        i = spans[i]["parent"]
    return i


def spark_metrics(rest: dict, spans: list[dict], ops: list[int],
                  cores: int) -> dict:
    """Spark execution totals per traced operation, over the job groups of
    the operation spans ``ops`` (indices into ``spans``) and every span
    inside them."""
    top = set(ops)
    groups = {s["group"] for i, s in enumerate(spans) if root(spans, i) in top}
    t = stage_totals(rest["jobs"], rest["stages"], groups)
    job_ids = {j["jobId"] for j in rest["jobs"] if j.get("jobGroup") in groups}
    run, init = python_worker_times(rest["sql"], job_ids)
    n = max(len(ops), 1)
    wall = sum(duration(spans[i]) for i in ops)
    out = {f"spark.{k}": v / n for k, v in t.items()}
    out["spark.python_udf_s"] = run / n
    out["spark.python_init_s"] = init / n
    out["spark.idle_core_share"] = (
        1.0 - t.get("executor_run_s", 0.0) / (wall * cores) if wall else 0.0)
    return out
