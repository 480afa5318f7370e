"""Spark event-log parser: per-job-group runtime totals.

The traced run turns the event log on (``spark.eventLog.enabled``,
uncompressed, not rolled) and runs every layer call under its own job
group. This module reads the finished log back and sums, per group:

* ``SparkListenerTaskEnd`` task metrics: task time, CPU, GC, shuffle
  bytes written, fetch wait, spill;
* SQL-metric accumulators, matched to their plan node through the
  ``sparkPlanInfo`` of each SQL execution (and its adaptive re-plans):
  Python-worker start/init/run time and Arrow bytes each way, the output
  rows of join nodes, and the driver-side BroadcastExchange build time
  and size;
* job count and the union of job intervals, from which the driver gap
  (span wall outside any job) is derived by the caller.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_SQL_AQE_METRICS = \
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveSQLMetricUpdates"
_DRIVER_ACCUM = \
    "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"

# SQL metric name → output field; Python times are ms, bytes are bytes
_PY_METRICS = {
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_returned",
}
_BROADCAST_METRICS = {"time to build": "bcast_build_ms",
                      "data size": "bcast_bytes"}


class GroupStats:
    """Totals of one job group."""

    def __init__(self):
        self.jobs = 0
        self.tasks = 0
        self.task_ms = 0.0
        self.cpu_ns = 0.0
        self.gc_ms = 0.0
        self.shuffle_bytes = 0.0
        self.fetch_wait_ms = 0.0
        self.spill_bytes = 0.0
        self.join_rows = 0.0
        self.sums: dict[str, float] = defaultdict(float)
        self.job_intervals: list[tuple[float, float]] = []   # epoch seconds
        # stage id → task durations (ms), for the skew of the slowest stage
        self.stage_tasks: dict[int, list[float]] = defaultdict(list)

    def task_skew(self) -> float:
        """max ÷ median task time in the stage with the most task time."""
        if not self.stage_tasks:
            return 0.0
        durs = max(self.stage_tasks.values(), key=sum)
        med = statistics.median(durs)
        return max(durs) / med if med > 0 else 1.0


def _walk_plan(node: dict, out: dict):
    """accumulatorId → (node name, metric name) over a sparkPlanInfo tree."""
    name = node.get("nodeName", "")
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (name, m["name"])
    for child in node.get("children", []):
        _walk_plan(child, out)


def find_log(log_dir: str) -> str:
    """The single finished event-log file under ``log_dir``."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
             if not f.startswith(".") and not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, "
                           f"found {sorted(os.listdir(log_dir))}")
    return files[0]


def parse(path: str) -> dict[str, GroupStats]:
    """{job group id: GroupStats}; jobs outside any group go to ''."""
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    exec_group: dict[int, str] = {}
    accum: dict[int, tuple[str, str]] = {}
    driver_updates: list[tuple[int, int, float]] = []

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                gid = props.get("spark.jobGroup.id") or ""
                jid = ev["Job ID"]
                job_group[jid] = gid
                job_start[jid] = ev["Submission Time"] / 1000.0
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
                eid = props.get("spark.sql.execution.id")
                if eid is not None:
                    exec_group.setdefault(int(eid), gid)
                groups[gid].jobs += 1
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_start:
                    groups[job_group[jid]].job_intervals.append(
                        (job_start[jid], ev["Completion Time"] / 1000.0))
            elif kind == "SparkListenerTaskEnd":
                _task_end(ev, groups, job_group, stage_job, accum)
            elif kind in (_SQL_START, _SQL_AQE):
                _walk_plan(ev["sparkPlanInfo"], accum)
            elif kind == _SQL_AQE_METRICS:
                for m in ev.get("sqlPlanMetrics", []):
                    accum[m["accumulatorId"]] = ("", m["name"])
            elif kind == _DRIVER_ACCUM:
                for aid, val in ev.get("accumUpdates", []):
                    driver_updates.append((ev["executionId"], aid, val))

    # driver-side metrics arrive as bare ids: resolve them through the plan
    for eid, aid, val in driver_updates:
        node, metric = accum.get(aid, ("", ""))
        if node == "BroadcastExchange" and metric in _BROADCAST_METRICS:
            gid = exec_group.get(eid, "")
            groups[gid].sums[_BROADCAST_METRICS[metric]] += float(val)
    return dict(groups)


def _task_end(ev, groups, job_group, stage_job, accum):
    jid = stage_job.get(ev["Stage ID"])
    g = groups[job_group.get(jid, "")]
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    dur = float(info.get("Finish Time", 0) - info.get("Launch Time", 0))
    g.tasks += 1
    g.task_ms += dur
    g.stage_tasks[ev["Stage ID"]].append(dur)
    g.cpu_ns += m.get("Executor CPU Time", 0)
    g.gc_ms += m.get("JVM GC Time", 0)
    g.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0)
    g.fetch_wait_ms += (m.get("Shuffle Read Metrics") or {}).get(
        "Fetch Wait Time", 0)
    g.spill_bytes += m.get("Disk Bytes Spilled", 0)
    for acc in info.get("Accumulables", []):
        name = acc.get("Name", "")
        upd = acc.get("Update")
        if upd is None:
            continue
        if name in _PY_METRICS:
            g.sums[_PY_METRICS[name]] += float(upd)
        elif name == "number of output rows" and \
                "Join" in accum.get(acc.get("ID"), ("", ""))[0]:
            g.join_rows += float(upd)


def covered_seconds(intervals: list[tuple[float, float]],
                    lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total
