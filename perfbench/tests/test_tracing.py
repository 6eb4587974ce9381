"""Tests of the benchmark's tracing: the event-log parser and span
arithmetic on a small hand-written log, and the repeatability of the
shuffle counters on a real traced run.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import tracing  # noqa: E402
from tracing import Span  # noqa: E402


def _task(stage, launch, run_ms, *, reason="Success", shuffle=(0, 0), spill=(0, 0), out=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Stage Attempt ID": 0,
        "Task End Reason": {"Reason": reason},
        "Task Info": {"Launch Time": launch},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Memory Bytes Spilled": spill[0],
            "Disk Bytes Spilled": spill[1],
            "Shuffle Write Metrics": {
                "Shuffle Bytes Written": shuffle[0],
                "Shuffle Records Written": shuffle[1],
            },
            "Output Metrics": {"Bytes Written": out},
        },
    }


# Times in the log are epoch milliseconds; spans use epoch seconds.
EVENTS = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    # job 0, tagged with span 1, one stage
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1_000_000,
     "Stage IDs": [0], "Properties": {tracing.SPAN_KEY: "1"}},
    {"Event": "SparkListenerStageSubmitted",
     "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0, "Submission Time": 1_000_200}},
    _task(0, 1_000_500, 400, shuffle=(100, 10), spill=(5, 7)),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1_001_000},
    # job 1, untagged (a plain pool thread), lists stage 0 again as a
    # skipped parent: that stage still belongs to job 0
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1_002_000,
     "Stage IDs": [1, 0], "Properties": {}},
    {"Event": "SparkListenerStageSubmitted",
     "Stage Info": {"Stage ID": 1, "Stage Attempt ID": 0, "Submission Time": 1_002_000}},
    _task(1, 1_002_100, 200, reason="ExceptionFailure"),
    _task(1, 1_002_100, 100, out=50),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1_002_500},
]

SPANS = [
    Span(0, "root", "iteration", None, 999.0, 1004.0),
    Span(1, "feature_store", "FeatureTable.merge", 0, 999.5, 1001.5),
    Span(2, "ml.training", "score_batch", 0, 1001.8, 1003.0),
    Span(3, "ml.training", "build_training_set", 2, 1002.2, 1002.4),
]


@pytest.fixture()
def jobs(tmp_path):
    log = tmp_path / "local-1"
    log.write_text("\n".join(json.dumps(e) for e in EVENTS) + "\n")
    return tracing.parse_event_log(log)


def test_parser_sums_tasks_per_job(jobs):
    j0, j1 = jobs
    assert (j0.tag, j0.stages, j0.tasks) == (1, {0}, 1)
    assert j0.exec_s == pytest.approx(0.4)
    assert j0.wait_s == pytest.approx(0.3)
    assert (j0.shuffle_bytes, j0.shuffle_records, j0.spill_bytes) == (100, 10, 12)
    assert (j1.tag, j1.stages, j1.tasks, j1.failed_tasks) == (None, {1}, 2, 1)
    assert j1.exec_s == pytest.approx(0.3)
    assert j1.output_bytes == 50


def test_attribution_prefers_tag_then_innermost_open_span(jobs):
    # job 1 was submitted at 1002.0, inside span 2 and before span 3 opened
    assert tracing.attribute(SPANS, jobs) == {0: 1, 1: 2}
    attributed, total, lost = tracing.coverage(SPANS, jobs)
    assert attributed == pytest.approx(total) and total == pytest.approx(0.7)
    assert lost == []


def test_self_and_driver_time_arithmetic(jobs):
    m = tracing.layer_metrics(SPANS, jobs, root=0)
    assert set(m) == set(tracing.metric_names())
    # span 1: 2.0 s, job 0 runs 1.0 s of it
    assert m["feature_store.calls"] == 1
    assert m["feature_store.self_s"] == pytest.approx(2.0)
    assert m["feature_store.driver_s"] == pytest.approx(1.0)
    assert m["feature_store.exec_s"] == pytest.approx(0.4)
    assert m["feature_store.wait_s"] == pytest.approx(0.3)
    assert m["feature_store.spill_bytes"] == 12
    # span 2: 1.2 s minus its child's 0.2 s; job 1 covers 0.3 s of the
    # remaining 1.0 s. Span 3 runs no job: all 0.2 s are driver time.
    assert m["ml.training.calls"] == 2
    assert m["ml.training.self_s"] == pytest.approx(1.2)
    assert m["ml.training.driver_s"] == pytest.approx(0.9)
    assert m["ml.training.failed_tasks"] == 1
    assert m["ml.training.output_bytes"] == 50
    # the root: 5 s, jobs run during 1.5 s of it
    assert (m["all.jobs"], m["all.stages"], m["all.tasks"]) == (2, 2, 3)
    assert m["all.exec_s"] == pytest.approx(0.7)
    assert m["all.driver_s"] == pytest.approx(3.5)
    assert (m["all.shuffle_bytes"], m["all.shuffle_records"]) == (100, 10)
    assert m["all.untagged_exec_share"] == pytest.approx(0.3 / 0.7)
    assert m["operators.graph.exec_s"] == 0


def test_layer_table_matches_benchmark_json():
    spec = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())
    declared = [(m["name"], m["unit"]) for m in spec["per_layer"]]
    names = tracing.metric_names()
    assert len(set(names)) == 107
    assert declared == [(n, tracing.unit(n.rsplit(".", 1)[1])) for n in names]


def _spark_available() -> bool:
    try:
        import pyspark  # noqa: F401
    except ImportError:
        return False
    return True


@pytest.mark.skipif(not _spark_available(), reason="pyspark is not installed")
def test_shuffle_counts_repeat_across_traced_runs():
    import run

    names = ["topk_commodities", "anomaly_mad", "batch_windows"]
    tracer = tracing.Tracer()
    first = run.execute("ops", seed=1, seconds=1, tracer=tracer, names=names)
    tracer.spans.clear()
    second = run.execute("ops", seed=1, seconds=1, tracer=tracer, names=names)
    for result in (first, second):
        assert result["correct"], result
    for key in ("all.shuffle_bytes", "all.shuffle_records"):
        assert first["metrics"][key]["value"] > 0
        assert first["metrics"][key] == second["metrics"][key]
