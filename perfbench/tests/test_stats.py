"""Percentile rule, quantity parsing and micro-batch latency."""

import math

import pytest

from perfbench import stats

# A StreamingQueryProgress event recorded from the live_ingest query.
PROGRESS = {
    "batchId": 7, "timestamp": "2026-10-16T23:26:47.653Z",
    "numInputRows": 35007,
    "durationMs": {"addBatch": 3360, "commitOffsets": 48, "getBatch": 15,
                   "latestOffset": 77, "queryPlanning": 53,
                   "triggerExecution": 3611, "walCommit": 51},
    "eventTime": {"avg": "2026-10-16T23:26:45.768Z",
                  "max": "2026-10-16T23:26:47.518Z",
                  "min": "2026-10-16T23:26:44.019Z",
                  "watermark": "2026-10-16T23:26:44.018Z"},
}


@pytest.mark.parametrize("n,q", [(1, None), (19, None), (20, None),
                                 (39, None), (40, 0.75), (99, 0.75),
                                 (100, 0.9), (200, 0.95), (1000, 0.99)])
def test_tail_quantile_leaves_ten_samples_beyond(n, q):
    assert stats.tail_quantile(n) == q


def test_summarize_reports_tail_only_when_supported():
    assert "tail" not in stats.summarize(list(range(39)))
    s = stats.summarize([float(i) for i in range(100)])
    assert s["n"] == 100 and s["p50"] == 49.5
    assert s["tail_q"] == 0.9 and math.isclose(s["tail"], 89.1)


def test_quantile_matches_linear_interpolation():
    assert stats.quantile([3.0, 1.0, 2.0, 4.0], 0.5) == 2.5
    assert stats.quantile([5.0], 0.9) == 5.0


@pytest.mark.parametrize("text,value", [
    ("564 ms", 0.564), ("1.5 s", 1.5), ("2.0 m", 120.0),
    ("1015.3 KiB", 1015.3 * 1024), ("20,000", 20000.0),
    ("total (min, med, max (stageId: taskId))\n1.2 s (0 ms, 0.3 s, 0.6 s "
     "(stage 3.0: task 7))", 1.2),
])
def test_parse_quantity(text, value):
    assert math.isclose(stats.parse_quantity(text), value)


def test_batch_latency_from_recorded_progress():
    # commit = 47.653 s + 3.611 s; newest tick stamped 47.518 s
    assert math.isclose(stats.batch_latency_s(PROGRESS), 3.746, abs_tol=1e-6)


def test_batch_latency_skips_empty_batches():
    empty = {**PROGRESS, "numInputRows": 0, "eventTime": {}}
    assert stats.batch_latency_s(empty) is None
