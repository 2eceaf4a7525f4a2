"""Benchmark spans, folded with Spark's event log into per-layer records.

A traced run keeps every span in memory (name, start, end, parent and
the id of the operation it belongs to) and writes them out when the
run ends. Spark writes its event log into a directory of the run's
own; after the session stops, :func:`fold` reads it with stdlib
``json`` and assigns each job, stage and task to every span whose time
window holds it, so a parent's record includes its children's:

- a job by its submission time;
- a task by its launch time (its stage's submission is the start of
  its scheduling wait);
- an SQL metric update by the task that reported it.

Windows, not job groups or call sites, identify a span: job groups do
not follow the harness's thread pool, and every Python action reports
the same call site. The benchmark's own spans never overlap except by
nesting, so a window is unambiguous.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

# One folded record per span: field -> unit. Times are seconds, sizes
# bytes; ``slot_util`` is task-seconds / (wall x cores).
RECORD_SCHEMA: dict[str, str] = {
    "name": "str",
    "op": "str",
    "parent": "str",
    "start_s": "s",
    "end_s": "s",
    "wall_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "task_run_s": "s",
    "task_cpu_s": "s",
    "gc_s": "s",
    "sched_wait_s": "s",
    "idle_s": "s",
    "slot_util": "ratio",
    "shuffle_read_bytes": "bytes",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "failed_tasks": "count",
    "python_run_s": "s",
    "python_bytes_sent": "bytes",
    "python_rows": "count",
    "rows": "count",
}

# ArrowEvalPython SQL metrics (by display name) -> record field.
_PYTHON_METRICS = {
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "python_bytes_sent",
    "number of output rows": "python_rows",
}


@dataclass
class Span:
    name: str
    op: str
    parent: str
    start_s: float
    end_s: float
    rows: int | None = None


class Tracer:
    """Records nested spans; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op = "setup"
        self.counts: dict[str, float] = {}
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        """Time the block as span ``name`` of the current operation.

        The block may set ``.rows`` on the yielded span.
        """
        if not self.enabled:
            yield Span(name, self.op, "", 0.0, 0.0)
            return
        span = Span(name, self.op, self._stack[-1] if self._stack else "", time.time(), 0.0)
        self._stack.append(name)
        try:
            yield span
        finally:
            self._stack.pop()
            span.end_s = time.time()
            self.spans.append(span)


def read_event_log(log_dir: str) -> list[dict]:
    """Every event in every (uncompressed) event-log file under ``log_dir``."""
    events = []
    for root, _dirs, files in os.walk(log_dir):
        for fname in sorted(files):
            if fname.startswith(".") or fname.endswith(".crc"):
                continue
            with open(os.path.join(root, fname), encoding="utf-8") as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _plan_metric_ids(plan: dict, out: dict[int, tuple[str, str]]) -> None:
    """Map the accumulator ids of ArrowEvalPython metrics in ``plan``."""
    if "ArrowEvalPython" in plan.get("nodeName", ""):
        for m in plan.get("metrics", []):
            field = _PYTHON_METRICS.get(m.get("name"))
            if field:
                out[m["accumulatorId"]] = (field, m.get("metricType"))
    for child in plan.get("children", []):
        _plan_metric_ids(child, out)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _parse(events: list[dict]):
    stage_submit: dict[tuple[int, int], float] = {}
    jobs: list[float] = []
    tasks: list[dict] = []
    python_ids: dict[int, tuple[str, str]] = {}
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            jobs.append(ev["Submission Time"] / 1000.0)
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            if "Submission Time" in info:
                stage_submit[(info["Stage ID"], info["Stage Attempt ID"])] = info["Submission Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            info, metrics = ev["Task Info"], ev.get("Task Metrics") or {}
            sr = metrics.get("Shuffle Read Metrics") or {}
            sw = metrics.get("Shuffle Write Metrics") or {}
            tasks.append({
                "stage": (ev["Stage ID"], ev["Stage Attempt ID"]),
                "launch": info["Launch Time"] / 1000.0,
                "finish": info["Finish Time"] / 1000.0,
                "failed": bool(info.get("Failed") or info.get("Killed")),
                "run_s": metrics.get("Executor Run Time", 0) / 1000.0,
                "cpu_s": metrics.get("Executor CPU Time", 0) / 1e9,
                "gc_s": metrics.get("JVM GC Time", 0) / 1000.0,
                "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                "spill_bytes": metrics.get("Memory Bytes Spilled", 0) + metrics.get("Disk Bytes Spilled", 0),
                "accum": {a["ID"]: _num(a.get("Update")) for a in info.get("Accumulables", []) if "Update" in a},
            })
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _plan_metric_ids(ev.get("sparkPlanInfo", {}), python_ids)
    return jobs, stage_submit, tasks, python_ids


def _busy(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    busy, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                busy += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        busy += cur_hi - cur_lo
    return busy


def fold(spans: list[Span], events: list[dict], cores: int) -> list[dict]:
    """One record (see RECORD_SCHEMA) per span."""
    jobs, stage_submit, tasks, python_ids = _parse(events)
    records = []
    for sp in spans:
        lo, hi = sp.start_s, sp.end_s
        mine = [t for t in tasks if lo <= t["launch"] <= hi]
        wall = hi - lo
        rec = dict.fromkeys(RECORD_SCHEMA, 0)
        rec.update(name=sp.name, op=sp.op, parent=sp.parent, start_s=lo, end_s=hi, wall_s=wall)
        rec["jobs"] = sum(1 for j in jobs if lo <= j <= hi)
        rec["stages"] = len({t["stage"] for t in mine})
        rec["tasks"] = len(mine)
        rec["task_run_s"] = sum(t["run_s"] for t in mine)
        rec["task_cpu_s"] = sum(t["cpu_s"] for t in mine)
        for key in ("gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            rec[key] = sum(t[key] for t in mine)
        rec["failed_tasks"] = sum(t["failed"] for t in mine)
        rec["sched_wait_s"] = sum(
            max(0.0, t["launch"] - stage_submit.get(t["stage"], t["launch"])) for t in mine
        )
        task_s = sum(t["finish"] - t["launch"] for t in mine)
        rec["idle_s"] = wall - _busy([(t["launch"], t["finish"]) for t in mine], lo, hi)
        rec["slot_util"] = task_s / (wall * cores) if wall > 0 else 0.0
        for t in mine:
            for acc_id, value in t["accum"].items():
                hit = python_ids.get(acc_id)
                if hit:
                    field, metric_type = hit
                    scale = {"timing": 1e-3, "nsTiming": 1e-9}.get(metric_type, 1.0)
                    rec[field] += value * scale
        rec["rows"] = sp.rows or 0
        records.append(rec)
    return records


def write_records(path: str, records: list[dict]) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        for rec in records:
            fh.write(json.dumps(rec, sort_keys=True) + "\n")
