"""Attribution of Spark stages, SQL nodes and py4j calls to spans."""

import threading

from perfbench import trace


def _stage(sid, status="COMPLETE", run_ms=100, shuffle_w=0, **kw):
    s = {"stageId": sid, "status": status, "numCompleteTasks": 4,
         "numFailedTasks": 0, "executorRunTime": run_ms,
         "executorCpuTime": run_ms * 10**6 // 2, "jvmGcTime": 5,
         "shuffleWriteBytes": shuffle_w, "shuffleReadBytes": 0,
         "diskBytesSpilled": 0, "inputBytes": 0, "outputBytes": 0}
    s.update(kw)
    return s


JOBS = [
    {"jobId": 0, "jobGroup": "t0|build:operators.cleaner", "stageIds": [0]},
    {"jobId": 1, "jobGroup": "t0|exec:write", "stageIds": [1, 2]},
    # reuses stage 1's shuffle: listed again, must not count twice
    {"jobId": 2, "jobGroup": "t0|exec:write", "stageIds": [1, 3]},
    {"jobId": 3, "jobGroup": "p0|probe:scan", "stageIds": [4]},
    {"jobId": 4, "stageIds": [5]},
]
STAGES = [_stage(0, run_ms=50), _stage(1, shuffle_w=2**20),
          _stage(2, run_ms=300), _stage(3, run_ms=200),
          _stage(3, status="SKIPPED", run_ms=0), _stage(4, run_ms=999),
          _stage(5, run_ms=999)]


def test_stage_totals_by_job_group():
    t = trace.stage_totals(JOBS, STAGES, {"t0|build:operators.cleaner",
                                          "t0|exec:write"})
    assert t["jobs"] == 3
    assert t["stages"] == 4
    assert t["tasks"] == 16
    assert abs(t["executor_run_s"] - 0.65) < 1e-9
    assert abs(t["shuffle_write_mb"] - 1.0) < 1e-9
    assert trace.stage_totals(JOBS, STAGES, {"p0|probe:scan"})[
        "executor_run_s"] == 0.999


def test_python_worker_times_follow_job_ids():
    sql = [{"successJobIds": [1], "nodes": [{"nodeName": "FlatMapGroupsInPandas",
            "metrics": [{"name": "time to run Python workers", "value": "564 ms"},
                        {"name": "time to initialize Python workers",
                         "value": "1.5 s"}]}]},
           {"successJobIds": [3], "nodes": [{"nodeName": "FlatMapGroupsInPandas",
            "metrics": [{"name": "time to run Python workers", "value": "9 s"}]}]}]
    run, init = trace.python_worker_times(sql, {0, 1, 2})
    assert abs(run - 0.564) < 1e-9 and init == 1.5


def _spans():
    return [
        {"name": "op", "req": "t0", "parent": None, "group": "t0|op",
         "start": 0.0, "end": 10.0, "py4j_calls": 120},
        {"name": "build:operators.cleaner", "req": "t0", "parent": 0,
         "group": "t0|build:operators.cleaner", "start": 0.0, "end": 1.0,
         "py4j_calls": 80},
        {"name": "exec:write", "req": "t0", "parent": 0,
         "group": "t0|exec:write", "start": 1.5, "end": 9.5, "py4j_calls": 30},
        {"name": "probe:scan", "req": "p0", "parent": None,
         "group": "p0|probe:scan", "start": 10.0, "end": 11.0, "py4j_calls": 9},
    ]


def test_build_metrics_and_unattributed_time():
    spans = _spans()
    m = trace.build_metrics(spans, trace.group_jobs(JOBS))
    assert m == {"operators.cleaner.build_s": 1.0,
                 "operators.cleaner.py4j_calls": 80.0,
                 "operators.cleaner.build_jobs": 1.0}
    assert trace.unattributed(spans, 0) == 1.0


def test_spark_metrics_cover_only_traced_operations():
    m = trace.spark_metrics({"jobs": JOBS, "stages": STAGES, "sql": []},
                            _spans(), [0], cores=4)
    assert m["spark.jobs"] == 3 and m["spark.stages"] == 4
    assert abs(m["spark.idle_core_share"] - (1 - 0.65 / 40)) < 1e-9


class _Client:
    def __init__(self):
        self.sent = []

    def send_command(self, command, retry=True):
        self.sent.append(command)
        return "ok"


def test_py4j_counter_skips_memory_release_and_other_threads():
    client = _Client()
    counter = trace.Py4jCounter(client)
    client.send_command("c\no0\nfoo\ne\n")
    client.send_command("m\nd\no12\ne\n")
    t = threading.Thread(target=client.send_command, args=("c\no1\nbar\ne\n",))
    t.start()
    t.join(timeout=10)
    assert not t.is_alive()
    assert counter.n == 1 and len(client.sent) == 3
    counter.close()
    client.send_command("c\no0\nfoo\ne\n")
    assert counter.n == 1
