"""Spark event-log parser: attributes task and SQL-node metrics to job
groups.

The benchmark gives every timed operation its own job group. This
module reads the (uncompressed) event log Spark writes and, per job
group, sums

- the task metrics of every task of the group's jobs (run, CPU and GC
  time, shuffle write bytes and time, fetch wait, spill);
- the SQL metrics of the physical-plan nodes: each
  ``SparkListenerTaskEnd`` accumulable (and each driver-side
  accumulator update) is mapped through the node tree posted in
  ``SparkListenerSQLExecutionStart`` to the node that owns it;
- job and stage counts and the jobs' wall-clock intervals.
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict
from dataclasses import dataclass, field

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_DRIVER_ACCUM = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"

#: (node kind, SQL metric name) -> GroupStats counter it feeds
NODE_METRICS = {
    ("scan", "number of output rows"): "scan_rows",
    ("scan", "size of files read"): "scan_bytes",
    ("codegen", "duration"): "codegen_ms",
    ("udf", "number of output rows"): "udf_rows",
    ("udf", "data sent to Python workers"): "udf_bytes_sent",
    ("udf", "data returned from Python workers"): "udf_bytes_returned",
    ("udf", "time to run Python workers"): "udf_worker_ms",
}


def node_kind(name: str, metric_names: set[str]) -> str | None:
    """Layer a physical-plan node belongs to, from its name and the
    metrics it declares (Python nodes are the ones that ship data to
    Python workers, whatever operator they implement)."""
    if name.startswith("Scan parquet"):
        return "scan"
    if name.startswith("WholeStageCodegen"):
        return "codegen"
    if "data sent to Python workers" in metric_names:
        return "udf"
    return None


@dataclass
class GroupStats:
    jobs: list[tuple[int, int]] = field(default_factory=list)  # (submit, end) ms
    stages: int = 0
    counters: dict[str, float] = field(default_factory=lambda: defaultdict(float))


def read_events(log_dir: str) -> list[dict]:
    """Every event under ``log_dir``: plain files and rolling
    ``eventlog_v2_*`` directories (``events_<n>_*`` parts in order)."""
    events = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path):
            parts = [p for p in os.listdir(path) if p.startswith("events_")]
            parts.sort(key=lambda p: int(re.match(r"events_(\d+)_", p).group(1)))
            files = [os.path.join(path, p) for p in parts]
        else:
            files = [path]
        for fname in files:
            with open(fname) as f:
                events.extend(json.loads(line) for line in f if line.strip())
    return events


def _walk(plan: dict):
    yield plan
    for child in plan.get("children", []):
        yield from _walk(child)


def _num(v) -> float:
    return float(v) if v not in (None, "") else 0.0


def attribute(events: list[dict]) -> dict[str, GroupStats]:
    """Job group -> GroupStats for every group seen in ``events``."""
    accum: dict[int, tuple[int, str]] = {}  # accumulator id -> (execution, counter)
    exec_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_submit: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    groups: dict[str, GroupStats] = defaultdict(GroupStats)

    def register_plan(execution: int, plan: dict) -> None:
        for node in _walk(plan):
            names = {m["name"] for m in node.get("metrics", [])}
            kind = node_kind(node["nodeName"], names)
            for m in node.get("metrics", []):
                counter = NODE_METRICS.get((kind, m["name"]))
                if counter is not None:
                    accum[int(m["accumulatorId"])] = (execution, counter)

    for ev in events:
        kind = ev["Event"]
        if kind in (_SQL_START, _SQL_AQE):
            execution = int(ev["executionId"])
            register_plan(execution, ev["sparkPlanInfo"])
            if ev.get("jobGroupId"):
                exec_group[execution] = ev["jobGroupId"]
        elif kind == "SparkListenerJobStart":
            job = ev["Job ID"]
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            if group is None:
                continue
            job_group[job] = group
            job_submit[job] = int(ev["Submission Time"])
            for stage in ev.get("Stage IDs", []):
                stage_job.setdefault(stage, job)
            execution = props.get("spark.sql.execution.id")
            if execution is not None:
                exec_group.setdefault(int(execution), group)
        elif kind == "SparkListenerJobEnd":
            job = ev["Job ID"]
            if job in job_group:
                groups[job_group[job]].jobs.append(
                    (job_submit[job], int(ev["Completion Time"])))
        elif kind == "SparkListenerStageSubmitted":
            job = stage_job.get(ev["Stage Info"]["Stage ID"])
            if job in job_group:
                groups[job_group[job]].stages += 1
        elif kind == "SparkListenerTaskEnd":
            job = stage_job.get(ev["Stage ID"])
            if job in job_group:
                _add_task(groups[job_group[job]].counters, ev)
            for acc in ev["Task Info"].get("Accumulables", []):
                _add_accum(groups, accum, exec_group, acc.get("ID"), acc.get("Update"))
        elif kind == _DRIVER_ACCUM:
            for acc_id, value in ev.get("accumUpdates", []):
                _add_accum(groups, accum, exec_group, acc_id, value)
    return dict(groups)


def _add_accum(groups, accum, exec_group, acc_id, value) -> None:
    hit = accum.get(acc_id)
    if hit is None:
        return
    execution, counter = hit
    group = exec_group.get(execution)
    if group is not None:
        groups[group].counters[counter] += _num(value)


def _add_task(c: dict[str, float], ev: dict) -> None:
    tm = ev.get("Task Metrics") or {}
    c["tasks"] += 1
    c["run_ms"] += _num(tm.get("Executor Run Time"))
    c["cpu_ns"] += _num(tm.get("Executor CPU Time"))
    c["gc_ms"] += _num(tm.get("JVM GC Time"))
    c["spill_bytes"] += _num(tm.get("Disk Bytes Spilled"))
    sw = tm.get("Shuffle Write Metrics") or {}
    c["shuffle_bytes_written"] += _num(sw.get("Shuffle Bytes Written"))
    c["shuffle_write_ns"] += _num(sw.get("Shuffle Write Time"))
    sr = tm.get("Shuffle Read Metrics") or {}
    c["fetch_wait_ms"] += _num(sr.get("Fetch Wait Time"))


def covered_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
