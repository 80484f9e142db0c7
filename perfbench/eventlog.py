"""Fold a Spark event log (uncompressed JSON lines) into per-job-group
task totals.

Every timed action in a traced session runs under a job group
(``SparkContext.setJobGroup``); a job's group is in its start event's
properties, and a task belongs to the job that owns its stage.
"""
from __future__ import annotations

import json
import os
from collections import defaultdict

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
_FOLDED = ('"SparkListenerJobStart"', '"SparkListenerTaskEnd"')


def new_totals() -> dict:
    return {"jobs": 0, "tasks": 0, "tasks_retried": 0, "tasks_failed": 0,
            "python_tasks": 0, "executor_run_s": 0.0, "executor_cpu_s": 0.0,
            "gc_s": 0.0, "shuffle_write_bytes": 0,
            "py_sent_bytes": 0, "py_returned_bytes": 0}


def _acc(task_info: dict, name: str) -> int:
    total = 0
    for a in task_info.get("Accumulables", ()):
        if a.get("Name") == name:
            try:
                total += int(a.get("Update", 0))
            except (TypeError, ValueError):
                pass
    return total


def fold(log_dir: str) -> dict[str, dict]:
    """{job group: totals} over every event log file in ``log_dir``."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(new_totals)
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                # most lines are SQL and stage events this fold skips
                if not any(kind in line for kind in _FOLDED):
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id") or "-"
                    groups[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", ()):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    g = groups[stage_group.get(ev.get("Stage ID"), "-")]
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    g["tasks"] += 1
                    if info.get("Attempt", 0) > 0:
                        g["tasks_retried"] += 1
                    if (ev.get("Task End Reason") or {}).get(
                            "Reason") != "Success":
                        g["tasks_failed"] += 1
                    g["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    g["shuffle_write_bytes"] += (m.get(
                        "Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    sent = _acc(info, PY_SENT)
                    g["py_sent_bytes"] += sent
                    g["py_returned_bytes"] += _acc(info, PY_RETURNED)
                    if sent:
                        g["python_tasks"] += 1
    return dict(groups)
