"""Spark event-log parsing for the traced run.

The runner sets a job group around every call it times and enables the
event log through ``get_spark(extra_conf=...)``. This module folds the log
into per-group totals (jobs, stages, tasks, executor time, CPU, GC, scan,
shuffle, spill and Python-worker time/bytes) and job intervals.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

# SQL metric names the Arrow/pandas UDF operators report per task.
PY_TIME_METRIC = "time to run Python workers"
PY_SENT_METRIC = "data sent to Python workers"

_MB = 1 << 20


@dataclass
class Totals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    scan_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    pyworker_s: float = 0.0
    pyworker_mb: float = 0.0

    def add(self, other: "Totals") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class Job:
    job_id: int
    group: str | None
    start_ms: int
    end_ms: int | None = None
    totals: Totals = field(default_factory=Totals)


def parse_events(lines) -> dict[int, Job]:
    """Jobs by id, each with the totals of the tasks its stages ran.

    A stage is charged to the first job that lists it; later jobs that
    list it again skip it and run none of its tasks.
    """
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(ev["Job ID"], props.get("spark.jobGroup.id"), ev["Submission Time"])
            job.totals.jobs = 1
            jobs[job.job_id] = job
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, job.job_id)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid in stage_job:
                jobs[stage_job[sid]].totals.stages += 1
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            if sid not in stage_job:
                continue
            t = jobs[stage_job[sid]].totals
            t.tasks += 1
            m = ev.get("Task Metrics") or {}
            t.run_s += m.get("Executor Run Time", 0) / 1e3
            t.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            t.gc_s += m.get("JVM GC Time", 0) / 1e3
            t.scan_mb += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / _MB
            sr = m.get("Shuffle Read Metrics") or {}
            t.shuffle_read_mb += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / _MB
            t.shuffle_write_mb += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / _MB
            t.spill_mb += m.get("Disk Bytes Spilled", 0) / _MB
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                name = acc.get("Name")
                if name == PY_TIME_METRIC:  # a timing metric: ms per task
                    t.pyworker_s += float(acc.get("Update") or 0) / 1e3
                elif name == PY_SENT_METRIC:
                    t.pyworker_mb += float(acc.get("Update") or 0) / _MB
    return jobs


def read_event_logs(log_dir: str) -> dict[int, Job]:
    """Parse the single application log Spark wrote under ``log_dir``."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    with open(paths[0]) as f:
        return parse_events(f)


def totals_by_group(jobs: dict[int, Job]) -> dict[str, Totals]:
    out: dict[str, Totals] = {}
    for job in jobs.values():
        if job.group is not None:
            out.setdefault(job.group, Totals()).add(job.totals)
    return out


def union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of ``[lo, hi]`` covered by the union of ``intervals``."""
    covered, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        covered += b - max(a, end)
        end = b
    return covered


def job_intervals_s(jobs: dict[int, Job]) -> list[tuple[float, float]]:
    """Job [submit, complete] intervals in epoch seconds."""
    return [(j.start_ms / 1e3, j.end_ms / 1e3) for j in jobs.values() if j.end_ms is not None]
