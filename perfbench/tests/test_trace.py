"""Pins the per-span record schema and how event-log events fold into spans."""

from __future__ import annotations

import json
import os

import pytest

from perfbench import run
from perfbench.trace import RECORD_SCHEMA, Span, Tracer, fold, read_event_log

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Times in epoch seconds; the event log speaks epoch milliseconds.
T0 = 1_700_000_000.0


def _ms(t: float) -> int:
    return int(round((T0 + t) * 1000))


def _task(stage: int, launch: float, finish: float, accum=()):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Stage Attempt ID": 0,
        "Task Info": {
            "Launch Time": _ms(launch),
            "Finish Time": _ms(finish),
            "Failed": False,
            "Killed": False,
            "Accumulables": [{"ID": i, "Update": str(v)} for i, v in accum],
        },
        "Task Metrics": {
            "Executor Run Time": int((finish - launch) * 1000),
            "Executor CPU Time": int((finish - launch) * 0.5e9),
            "JVM GC Time": 10,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 100},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 40},
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 0,
        },
    }


def _events():
    plan = {
        "nodeName": "WholeStageCodegen",
        "metrics": [],
        "children": [{
            "nodeName": "ArrowEvalPython",
            "metrics": [
                {"name": "time to run Python workers", "accumulatorId": 91, "metricType": "timing"},
                {"name": "data sent to Python workers", "accumulatorId": 92, "metricType": "size"},
                {"name": "number of output rows", "accumulatorId": 93, "metricType": "sum"},
            ],
            "children": [],
        }],
    }
    return [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 0, "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": _ms(1.0)},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0, "Submission Time": _ms(1.0)}},
        _task(0, 1.5, 3.0, accum=[(91, 1200), (92, 4096), (93, 50)]),
        _task(0, 2.0, 4.0, accum=[(91, 800), (92, 1024), (93, 30)]),
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": _ms(7.0)},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 1, "Stage Attempt ID": 0, "Submission Time": _ms(7.0)}},
        _task(1, 7.0, 8.0),
    ]


def _spans():
    return [
        Span("stemmer.stem_text_udf", "op1", "op", T0 + 0.0, T0 + 5.0, rows=80),
        Span("models.transform", "op1", "op", T0 + 6.0, T0 + 9.0),
        Span("op", "op1", "", T0 + 0.0, T0 + 10.0),
    ]


def test_record_schema_is_pinned():
    assert RECORD_SCHEMA == {
        "name": "str", "op": "str", "parent": "str",
        "start_s": "s", "end_s": "s", "wall_s": "s",
        "jobs": "count", "stages": "count", "tasks": "count",
        "task_run_s": "s", "task_cpu_s": "s", "gc_s": "s",
        "sched_wait_s": "s", "idle_s": "s", "slot_util": "ratio",
        "shuffle_read_bytes": "bytes", "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
        "failed_tasks": "count",
        "python_run_s": "s", "python_bytes_sent": "bytes", "python_rows": "count",
        "rows": "count",
    }
    for rec in fold(_spans(), _events(), cores=4):
        assert list(rec) == list(RECORD_SCHEMA)


def test_fold_assigns_events_by_window():
    stem, transform, op = fold(_spans(), _events(), cores=4)
    assert (stem["jobs"], stem["stages"], stem["tasks"]) == (1, 1, 2)
    assert stem["wall_s"] == pytest.approx(5.0)
    assert stem["task_run_s"] == pytest.approx(3.5)
    assert stem["task_cpu_s"] == pytest.approx(1.75)
    assert stem["gc_s"] == pytest.approx(0.02)
    # launch minus stage submission: 0.5 + 1.0
    assert stem["sched_wait_s"] == pytest.approx(1.5)
    # tasks cover [1.5, 4.0] of the [0, 5] window
    assert stem["idle_s"] == pytest.approx(2.5)
    assert stem["slot_util"] == pytest.approx(3.5 / (5.0 * 4))
    assert stem["shuffle_read_bytes"] == 200 and stem["shuffle_write_bytes"] == 80
    assert stem["python_run_s"] == pytest.approx(2.0)
    assert stem["python_bytes_sent"] == 5120
    assert stem["python_rows"] == 80
    assert stem["rows"] == 80
    assert (transform["jobs"], transform["tasks"], transform["python_run_s"]) == (1, 1, 0)
    # a parent's window holds its children's events
    assert (op["jobs"], op["tasks"]) == (2, 3)


def test_spans_of_one_operation_share_its_id():
    tracer = Tracer(enabled=True)
    for op in ("op1", "op2"):
        tracer.op = op
        with tracer.span("op"):
            with tracer.span("harness.fit_models"):
                pass
            with tracer.span("harness.write_median_predictions"):
                pass
    by_op = {}
    for sp in tracer.spans:
        by_op.setdefault(sp.op, []).append(sp)
    assert sorted(by_op) == ["op1", "op2"]
    for spans in by_op.values():
        assert [s.name for s in spans] == ["harness.fit_models", "harness.write_median_predictions", "op"]
        assert [s.parent for s in spans] == ["op", "op", ""]
        assert all(s.start_s <= s.end_s for s in spans)


def test_disabled_tracer_records_nothing():
    tracer = Tracer(enabled=False)
    with tracer.span("op"):
        pass
    assert tracer.spans == []


def test_read_event_log_reads_every_file(tmp_path):
    events = _events()
    sub = tmp_path / "eventlog_v2_app"
    sub.mkdir()
    (sub / "events_1_app").write_text("\n".join(json.dumps(e) for e in events[:3]) + "\n")
    (sub / "events_2_app").write_text("\n".join(json.dumps(e) for e in events[3:]) + "\n")
    (sub / "appstatus_app").write_text("")
    assert read_event_log(str(tmp_path)) == events


def test_benchmark_json_matches_the_metrics_the_runner_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
