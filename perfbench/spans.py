"""Benchmark-side tracing: spans around calls into the program's public
functions, each in its own Spark job group, and a roll-up of Spark's event
log per job group.

A span records (name, parent, start, end, group).  Spans are kept in memory
and rolled up when the run ends; the event log is read only after the Spark
session has stopped, so it is complete.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

MB = 1024 * 1024
HARNESS_GROUP = "harness"

# stage accumulables read per span, with their scale to the reported unit
_STAGE_SUMS = {
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_mb", 1 / MB),
    "internal.metrics.diskBytesSpilled": ("spill_mb", 1 / MB),
    "internal.metrics.output.bytesWritten": ("output_mb", 1 / MB),
    "time to run Python workers": ("python_s", 1e-3),
    "data sent to Python workers": ("python_in_mb", 1 / MB),
}
# driver-side SQL metrics, posted per SQL execution rather than per stage
# (the task input-bytes counter misses the parquet column reads)
_DRIVER_SUMS = {
    "size of files read": ("input_mb", 1 / MB),
}


@dataclass
class Span:
    name: str
    parent: str | tuple[str, ...] | None  # the spans whose work includes this one
    group: str
    start: float  # epoch seconds, the clock of the event log
    end: float
    extra: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def parents(self) -> tuple[str, ...]:
        if self.parent is None:
            return ()
        return self.parent if isinstance(self.parent, tuple) else (self.parent,)


class Tracer:
    """Opens spans; every Spark job started inside one carries its group."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        sc.setJobGroup(HARNESS_GROUP, HARNESS_GROUP)

    @contextmanager
    def span(self, name: str, parent: str | tuple[str, ...] | None = None):
        group = f"span-{len(self.spans)}"
        self.sc.setJobGroup(group, name)
        start = time.time()
        s = Span(name, parent, group, start, start)
        try:
            yield s
        finally:
            s.end = time.time()
            self.sc.setJobGroup(HARNESS_GROUP, HARNESS_GROUP)
            self.spans.append(s)


def read_event_log(log_dir: str | Path) -> list[dict]:
    """Every event of every (rolling) event log file under ``log_dir``."""
    # rolling files are events_<n>_<app>: read them in order
    files = sorted(Path(log_dir).rglob("events_*"), key=lambda p: int(p.name.split("_")[1]))
    events = []
    for p in files:
        with open(p) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


@dataclass
class GroupRoll:
    jobs: list[int] = field(default_factory=list)
    stage_intervals: list[tuple[float, float]] = field(default_factory=list)
    sums: dict = field(default_factory=dict)


def rollup(events: list[dict]) -> tuple[dict[str, GroupRoll], list[tuple[int, str | None, float]]]:
    """Per job group: its job ids, the run intervals of its completed stages
    (skipped stages never ran), the summed stage accumulables and the summed
    driver-side SQL metrics of its SQL executions.  Also returns every job
    as (id, group, submission epoch seconds)."""
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    acc_names: dict[int, str] = {}
    groups: dict[str, GroupRoll] = {}
    jobs = []
    for e in events:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
            if kind == "SparkListenerSQLExecutionStart":
                exec_group[e["executionId"]] = e.get("jobGroupId")
            todo = [e["sparkPlanInfo"]]
            while todo:
                node = todo.pop()
                todo.extend(node.get("children", []))
                for m in node.get("metrics", []):
                    if m["name"] in _DRIVER_SUMS:
                        acc_names[m["accumulatorId"]] = m["name"]
        elif kind == "SparkListenerDriverAccumUpdates":
            roll = groups.setdefault(exec_group.get(e["executionId"]), GroupRoll())
            for acc_id, value in e["accumUpdates"]:
                if acc_id in acc_names:
                    name, scale = _DRIVER_SUMS[acc_names[acc_id]]
                    roll.sums[name] = roll.sums.get(name, 0.0) + float(value) * scale
        elif kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            jobs.append((e["Job ID"], g, e["Submission Time"] / 1e3))
            roll = groups.setdefault(g, GroupRoll())
            roll.jobs.append(e["Job ID"])
            for s in e["Stage IDs"]:
                stage_group[s] = g
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            g = stage_group.get(info["Stage ID"])
            roll = groups.setdefault(g, GroupRoll())
            if "Submission Time" in info and "Completion Time" in info:
                roll.stage_intervals.append(
                    (info["Submission Time"] / 1e3, info["Completion Time"] / 1e3)
                )
            for acc in info.get("Accumulables", []):
                key = _STAGE_SUMS.get(acc.get("Name"))
                if key is not None:
                    name, scale = key
                    roll.sums[name] = roll.sums.get(name, 0.0) + float(acc["Value"]) * scale
    return groups, jobs


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def span_metrics(spans: list[Span], groups: dict[str, GroupRoll]) -> dict[str, dict]:
    """Per span: wall, self (wall minus its child spans), jobs, driver idle
    (wall with none of its stages running), executor CPU, shuffle write,
    spill, and the extra counters its stages reported."""
    out = {}
    for s in spans:
        roll = groups.get(s.group, GroupRoll())
        child_wall = sum(c.wall_s for c in spans if s.name in c.parents)
        m = {
            "wall_s": s.wall_s,
            "self_s": s.wall_s - child_wall,
            "jobs": float(len(roll.jobs)),
            "driver_idle_s": s.wall_s - _covered(roll.stage_intervals, s.start, s.end),
            "executor_cpu_s": 0.0,
            "shuffle_write_mb": 0.0,
            "spill_mb": 0.0,
        }
        for name, _ in [*_STAGE_SUMS.values(), *_DRIVER_SUMS.values()]:
            m.setdefault(name, 0.0)
        m.update(roll.sums)
        m.update(s.extra)
        out[s.name] = m
    return out


def unattributed_jobs(spans: list[Span], jobs: list[tuple[int, str | None, float]]) -> list[int]:
    """Jobs submitted inside a span's interval that do not carry its group."""
    bad = []
    for job_id, g, t in jobs:
        for s in spans:
            if s.start <= t <= s.end and g != s.group:
                bad.append(job_id)
    return bad
