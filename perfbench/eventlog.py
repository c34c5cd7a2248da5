"""Spark event-log reader: jobs, stages and task metrics per span.

The benchmark runs every traced call under its own job group
(``SparkContext.setJobGroup``). Each ``SparkListenerJobStart`` carries
the group in its properties, so a job belongs to the span whose group
it names; a stage belongs to the first job that lists it, and a task to
its stage. The log must be written uncompressed and unrolled
(``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=false``).

``driver_s`` of a span is its wall time during which none of its jobs
was running: planning, statistics estimation, py4j round trips and the
Python between actions.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

# SQL metrics the Python-worker operators (mapInPandas, Arrow UDFs)
# publish for the bytes crossing the JVM/Python boundary
ARROW_METRICS = ("data sent to Python workers", "data returned from Python workers")


@dataclass
class Span:
    name: str
    group: str
    start: float  # epoch seconds
    end: float

    @property
    def wall_s(self) -> float:
        return self.end - self.start


@dataclass
class Usage:
    """What the jobs of one span did."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    arrow_bytes: int = 0
    job_intervals: list[tuple[float, float]] = field(default_factory=list)


@dataclass
class EventLog:
    usage: dict[str, Usage]  # job group → usage

    def for_span(self, span: Span) -> Usage:
        return self.usage.get(span.group, Usage())

    def driver_s(self, span: Span) -> float:
        """Span wall time not covered by any of its jobs."""
        return span.wall_s - covered_s(self.for_span(span).job_intervals, span.start, span.end)


def covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def parse(path: str) -> EventLog:
    usage: dict[str, Usage] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is None:
                    continue
                jid = ev["Job ID"]
                job_group[jid] = group
                job_start[jid] = ev["Submission Time"] / 1000.0
                u = usage.setdefault(group, Usage())
                u.jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_group:
                    usage[job_group[jid]].job_intervals.append(
                        (job_start[jid], ev["Completion Time"] / 1000.0)
                    )
            elif kind == "SparkListenerStageCompleted":
                group = stage_group.get(ev["Stage Info"]["Stage ID"])
                if group is not None:
                    usage[group].stages += 1
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                if group is not None:
                    _add_task(usage[group], ev)
    return EventLog(usage)


def _add_task(u: Usage, ev: dict) -> None:
    u.tasks += 1
    m = ev.get("Task Metrics") or {}
    u.executor_run_s += m.get("Executor Run Time", 0) / 1000.0
    u.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
    u.gc_s += m.get("JVM GC Time", 0) / 1000.0
    u.spill_bytes += m.get("Disk Bytes Spilled", 0)
    u.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        if acc.get("Name") in ARROW_METRICS:
            u.arrow_bytes += int(acc.get("Update", 0))
