"""Per-job-group ledger parsed from a Spark event log.

The benchmark sets a Spark job group around each call it makes into the
program (``spark.jobGroup.id`` in the job properties). This module reads the
event log Spark writes (``spark.eventLog.enabled``) and rolls jobs, stages
and tasks up to those groups: counts, job intervals, executor time, shuffle,
spill and scan bytes, and the SQL metrics of Spark's Python-worker operators
(the Python/Arrow UDF boundary). Work outside any group is keyed ``""``.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

from stats import union_seconds

GROUP_PROP = "spark.jobGroup.id"
SQL_EXEC_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_PLAN_UPDATE = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
)
# SQL metric name (PythonSQLMetrics) -> ledger key
PYTHON_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_boot_s",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
}
# SQL metric type -> factor to seconds (sizes stay in bytes)
_TIME_UNIT = {"timing": 1e-3, "nsTiming": 1e-9}
LEDGER_KEYS = (
    "jobs", "failed_jobs", "stages", "tasks", "failed_tasks", "job_s",
    "executor_run_s", "shuffle_write_bytes", "spill_bytes", "input_bytes",
    *PYTHON_METRICS.values(),
)


def read_events(log_dir: str):
    """Yield the events of every log file in ``log_dir`` (one per
    application), in file-name order."""
    for name in sorted(os.listdir(log_dir)):
        if name.startswith("."):
            continue  # checksums
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _plan_metric_types(plan: dict, out: dict[int, str]) -> None:
    stack = [plan]
    while stack:
        node = stack.pop()
        for m in node.get("metrics", ()):
            out[m["accumulatorId"]] = m["metricType"]
        stack.extend(node.get("children", ()))


class Ledger:
    """Per-group totals (``groups[g][key]``) and job intervals
    (``intervals[g]``, epoch milliseconds)."""

    def __init__(self) -> None:
        self.groups: dict[str, dict[str, float]] = defaultdict(
            lambda: dict.fromkeys(LEDGER_KEYS, 0.0)
        )
        self.intervals: dict[str, list[tuple[float, float]]] = defaultdict(list)

    def total(self, groups, key: str) -> float:
        return sum(self.groups[g][key] for g in groups if g in self.groups)

    def busy_s(self, groups) -> float:
        """Wall seconds during which at least one job of ``groups`` ran."""
        spans = [iv for g in groups for iv in self.intervals.get(g, ())]
        return union_seconds(spans) / 1000.0


def parse(events) -> Ledger:
    ledger = Ledger()
    job_group: dict[int, str] = {}
    job_submit: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    metric_type: dict[int, str] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerLogStart":
            # a new application (each session restart writes its own log):
            # job, stage and accumulator ids start again
            for ids in (job_group, job_submit, stage_group, metric_type):
                ids.clear()
        elif kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(GROUP_PROP) or ""
            job = ev["Job ID"]
            job_group[job] = group
            job_submit[job] = ev["Submission Time"]
            # a stage listed by a later job was computed (and its tasks
            # run) by the first job that listed it
            for stage in ev.get("Stage IDs", ()):
                stage_group.setdefault(stage, group)
            ledger.groups[group]["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            job = ev["Job ID"]
            group = job_group.get(job, "")
            start, end = job_submit.pop(job, None), ev["Completion Time"]
            if start is not None:
                ledger.intervals[group].append((start, end))
                ledger.groups[group]["job_s"] += (end - start) / 1000.0
            if ev.get("Job Result", {}).get("Result") != "JobSucceeded":
                ledger.groups[group]["failed_jobs"] += 1
        elif kind == "SparkListenerStageCompleted":
            stage = ev["Stage Info"]["Stage ID"]
            ledger.groups[stage_group.get(stage, "")]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            _add_task(ledger.groups[stage_group.get(ev["Stage ID"], "")], ev, metric_type)
        elif kind in (SQL_EXEC_START, SQL_PLAN_UPDATE):
            _plan_metric_types(ev.get("sparkPlanInfo") or {}, metric_type)
    return ledger


def _add_task(row: dict[str, float], ev: dict, metric_type: dict[int, str]) -> None:
    row["tasks"] += 1
    if ev.get("Task End Reason", {}).get("Reason") != "Success":
        row["failed_tasks"] += 1
    m = ev.get("Task Metrics") or {}
    row["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
    row["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
        "Shuffle Bytes Written", 0
    )
    row["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    row["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
    for acc in ev.get("Task Info", {}).get("Accumulables", ()):
        key = PYTHON_METRICS.get(acc.get("Name"))
        if key is None or acc.get("Update") is None:
            continue
        value = float(acc["Update"])
        if key.endswith("_s"):
            value *= _TIME_UNIT.get(metric_type.get(acc.get("ID")), 1e-3)
        row[key] += value
