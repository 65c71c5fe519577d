"""Offline reducer for Spark's JSON event log (written uncompressed and
unrolled by the traced run) to per-window ``spark.*`` and
``pipeline.*`` numbers.

A window is one entry execution of one pass: ``(key, start, end)`` in
epoch seconds. A job belongs to the window its description tag
``<entry>:<pass>`` names, else to the window its submission time falls
in (streaming jobs carry the query's own description).
"""

from __future__ import annotations

import glob
import json
import os
import statistics

#: Plan-node name fragments of the operators that run Python workers.
_PYTHON_NODES = ("Python", "Pandas", "Arrow")
_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"
_ROWS = "number of output rows"

#: reduced field -> unit
FIELDS = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "failed_tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "input_mb": "MB",
    "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "task_skew": "ratio",
    "driver_gap_s": "s",
    "python_rows": "count",
    "python_mb": "MB",
}


def _events(log_dir: str):
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(path):
            files = sorted(glob.glob(os.path.join(path, "events_*")))
        else:
            files = [path]
        for fp in files:
            with open(fp) as f:
                for line in f:
                    yield json.loads(line)


def _python_accumulators(plan: dict, out: dict[int, str]) -> None:
    if any(k in plan.get("nodeName", "") for k in _PYTHON_NODES):
        for m in plan.get("metrics", ()):
            if m["name"] in (_PY_SENT, _PY_RETURNED, _ROWS):
                out[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", ()):
        _python_accumulators(child, out)


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def reduce(log_dir: str, windows: list[tuple[str, float, float]]) -> dict[str, dict]:
    """Per-window totals of :data:`FIELDS` (``task_skew`` is the worst
    stage's max/median task run time, over stages of >= 2 tasks)."""
    by_key = {k: (s, e) for k, s, e in windows}
    out = {k: dict.fromkeys(FIELDS, 0.0) for k in by_key}
    stage_key: dict[int, str] = {}
    job_key: dict[int, str] = {}
    job_span: dict[int, list[float]] = {}
    stage_runs: dict[int, list[float]] = {}
    py_acc: dict[int, str] = {}

    def window_of(t: float) -> str | None:
        for k, (s, e) in by_key.items():
            if s <= t <= e:
                return k
        return None

    for ev in _events(log_dir):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            t = ev["Submission Time"] / 1000
            desc = (ev.get("Properties") or {}).get("spark.job.description", "")
            key = desc if desc in by_key else window_of(t)
            if key is None:
                continue
            job_key[ev["Job ID"]] = key
            job_span[ev["Job ID"]] = [t, t]
            out[key]["jobs"] += 1
            for sid in ev["Stage IDs"]:
                stage_key[sid] = key
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_span:
            job_span[ev["Job ID"]][1] = ev["Completion Time"] / 1000
        elif kind == "SparkListenerStageCompleted":
            key = stage_key.get(ev["Stage Info"]["Stage ID"])
            if key is not None:
                out[key]["stages"] += 1
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _python_accumulators(ev.get("sparkPlanInfo", {}), py_acc)
        elif kind == "SparkListenerTaskEnd":
            key = stage_key.get(ev["Stage ID"])
            if key is None:
                continue
            w, m = out[key], ev.get("Task Metrics") or {}
            w["tasks"] += 1
            if ev["Task End Reason"]["Reason"] != "Success":
                w["failed_tasks"] += 1
            run_ms = m.get("Executor Run Time", 0)
            stage_runs.setdefault(ev["Stage ID"], []).append(run_ms)
            w["executor_run_s"] += run_ms / 1e3
            w["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            w["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            w["input_mb"] += m.get("Input Metrics", {}).get("Bytes Read", 0) / 1e6
            sr = m.get("Shuffle Read Metrics", {})
            w["shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / 1e6
            sw = m.get("Shuffle Write Metrics", {})
            w["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
            w["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
            for acc in ev["Task Info"].get("Accumulables", ()):
                name = py_acc.get(acc["ID"])
                if name == _ROWS:
                    w["python_rows"] += int(acc.get("Update", 0))
                elif name is not None:
                    w["python_mb"] += int(acc.get("Update", 0)) / 1e6

    for sid, runs in stage_runs.items():
        med = statistics.median(runs)
        if len(runs) >= 2 and med > 0:
            w = out[stage_key[sid]]
            w["task_skew"] = max(w["task_skew"], max(runs) / med)
    for key, (s, e) in by_key.items():
        busy = [
            (max(js, s), min(je, e))
            for jid, (js, je) in job_span.items()
            if job_key[jid] == key and min(je, e) > max(js, s)
        ]
        out[key]["driver_gap_s"] = max(0.0, (e - s) - _union_s(busy))
    return out
