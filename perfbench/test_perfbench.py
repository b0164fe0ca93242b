"""Self-tests of the benchmark.

    python3 -m pytest perfbench -q

The unit tests need no Spark.  ``test_smoke`` runs every workload in
``spec.json`` end to end at minimal size (about half a minute each).
"""

from __future__ import annotations

import json
import math
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import tracing  # noqa: E402


def test_tail_percentile_keeps_ten_samples_beyond():
    assert tracing.tail_percentile(range(1, 101)) == (90, 90)
    assert tracing.tail_percentile(range(1, 21)) == (50, 10)
    assert tracing.tail_percentile(range(1, 1001)) == (99, 990)
    # 10 samples: no percentile has ten beyond it.
    assert tracing.tail_percentile(range(1, 11)) is None
    for n in (11, 23, 57, 250):
        p, _ = tracing.tail_percentile(range(1, n + 1))

        def beyond(q):
            return n - math.ceil(n * q / 100)

        assert beyond(p) >= 10 and (p == 99 or beyond(p + 1) < 10)


def test_driver_gap_is_wall_minus_union_of_job_spans():
    jobs = [(1.0, 2.0), (1.5, 3.0), (5.0, 6.0), (9.5, 12.0)]
    # union inside [0, 10]: [1, 3] + [5, 6] + [9.5, 10] = 3.5
    assert tracing.covered(jobs, 0.0, 10.0) == pytest.approx(3.5)
    assert tracing.driver_gap(0.0, 10.0, jobs) == pytest.approx(6.5)
    assert tracing.driver_gap(0.0, 10.0, []) == pytest.approx(10.0)


def test_self_time_subtracts_children_once():
    t = tracing.Trace("r")
    root = t.add("pass", 0.0, 10.0)
    q = t.add("query", 1.0, 9.0, root)
    t.add("spark.job", 2.0, 5.0, q)
    t.add("spark.job", 4.0, 6.0, q)  # overlaps the first job
    assert t.self_time(root) == pytest.approx(2.0)
    assert t.self_time(q) == pytest.approx(4.0)
    by = t.self_times_by_name(root)
    assert by == pytest.approx({"pass": 2.0, "query": 4.0, "spark.job": 5.0})


PROGRESS = [
    {
        "batchId": 0,
        "timestamp": "2026-01-01T00:00:01.000Z",
        "numInputRows": 1000,
        "durationMs": {
            "latestOffset": 10, "walCommit": 20, "getBatch": 0,
            "queryPlanning": 30, "addBatch": 400, "commitOffsets": 25,
            "triggerExecution": 500,
        },
    },
    {
        "batchId": 1,
        "timestamp": "2026-01-01T00:00:01.500Z",
        "numInputRows": 500,
        "durationMs": {"addBatch": 200, "triggerExecution": 250},
    },
    {
        "batchId": 2,
        "timestamp": "2026-01-01T00:00:01.750Z",
        "numInputRows": 0,
        "durationMs": {"triggerExecution": 5},
    },
]


def test_lag_and_backlog_from_progress():
    t0 = tracing.parse_ts("2026-01-01T00:00:00.000Z")
    rate = 1000.0
    # batch 0 ends at 1.5 s; its newest event is #999, made at 0.999 s.
    # batch 1 ends at 1.75 s; newest #1499, made at 1.499 s.
    assert tracing.batch_lags_ms(PROGRESS, t0, rate) == pytest.approx([501.0, 251.0])
    # at 1.0 s 1000 events exist, none consumed; at 1.5 s 1500 exist and
    # 1000 are consumed; at 1.75 s 1750 exist and 1500 are consumed.
    assert tracing.batch_backlogs(PROGRESS, t0, rate) == [1000, 500, 250]


def test_batch_spans_account_for_trigger_time():
    t = tracing.Trace("r")
    start = tracing.parse_ts(PROGRESS[0]["timestamp"])
    b = tracing.add_batch_spans(t, PROGRESS[0], None, sink=(start + 0.07, start + 0.4))
    names = [s.name for s in t.spans]
    assert names[:1] == ["stream.batch"] and "sink" in names
    # Epoch-second floats resolve about a microsecond.
    assert t.spans[b].duration == pytest.approx(0.5, abs=1e-5)
    # 485 ms of the 500 ms trigger are in durationMs phases.
    assert t.self_time(b) == pytest.approx(0.015, abs=1e-5)
    assert sum(t.self_times_by_name(b).values()) == pytest.approx(0.5, abs=1e-5)


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    root = HERE.parent
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=root, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


SPEC = json.loads((HERE / "spec.json").read_text())
BENCH = json.loads((HERE.parent / "BENCHMARK.json").read_text())


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(SPEC["workloads"]))
def test_smoke(workload, trace):
    report, result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    assert report["metrics"]["failed_frac"] == {"value": 0.0, "unit": "ratio"}
    report_metrics = {"setup_s", "pass_s", "lag_p50_ms", "lag_tail_ms", "peak_rss_mb", "failed_frac"}
    if SPEC["workloads"][workload]["kind"] == "stream":
        report_metrics.add("events_per_s")
    assert report_metrics <= set(report["metrics"])
    if trace:
        assert set(report["per_layer"]) == set(SPEC["per_layer"])
        assert report["accounting"]["within_tolerance"]
