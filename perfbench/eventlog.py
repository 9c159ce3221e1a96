"""Spark event-log parser: job, stage and task metrics grouped by job group.

The benchmark's traced run boots Spark with an uncompressed event log and
tags every timed operation with its name as the job group. This module
reads that log back (plain JSON lines; the rolling ``eventlog_v2_*``
directory layout and a single file both work) and sums the scheduler and
executor metrics per group, so time and bytes can be attributed to one
operation.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

MIB = float(2**20)

_PYTHON_ACCUMS = ("data sent to Python workers", "data returned from Python workers")


@dataclass
class Task:
    stage: int
    launch_ms: int
    finish_ms: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_read: int
    shuffle_write: int
    spill: int
    input_bytes: int
    python_bytes: int


@dataclass
class EventLog:
    job_group: dict[int, str | None] = field(default_factory=dict)
    job_submit: dict[int, int] = field(default_factory=dict)
    job_stages: dict[int, list[int]] = field(default_factory=dict)
    job_span: dict[int, tuple[int, int]] = field(default_factory=dict)
    stage_group: dict[int, str | None] = field(default_factory=dict)
    stage_tasks: dict[int, int] = field(default_factory=dict)
    #: stages that read files: their RDD lineage holds a ``FileScanRDD``
    scan_stages: set[int] = field(default_factory=set)
    tasks: list[Task] = field(default_factory=list)


def _files(path: str) -> list[str]:
    """The event files of one application: a single-file log, or the
    ``events_<n>_<app>`` files of a rolling log directory in order."""
    if os.path.isfile(path):
        return [path]
    return sorted(
        glob.glob(os.path.join(path, "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )


def _num(value) -> int:
    try:
        return int(value)
    except (TypeError, ValueError):
        return 0


def parse(path: str) -> EventLog:
    """Read one application's event log (a file or a rolling log directory)."""
    log = EventLog()
    for name in _files(path):
        with open(name) as fh:
            for line in fh:
                if '"Event"' not in line:
                    continue
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    log.job_submit[jid] = ev["Submission Time"]
                    log.job_stages[jid] = ev.get("Stage IDs", [])
                    log.job_group[jid] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in log.job_submit:
                        log.job_span[jid] = (log.job_submit[jid], ev["Completion Time"])
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    sid = info["Stage ID"]
                    log.stage_group[sid] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    log.stage_tasks[sid] = info.get("Number of Tasks", 0)
                    if any(r.get("Name") == "FileScanRDD" for r in info.get("RDD Info", [])):
                        log.scan_stages.add(sid)
                elif kind == "SparkListenerTaskEnd":
                    log.tasks.append(_task(ev))
    return log


def adopt_orphans(log: EventLog, windows: list[tuple[str, float, float]]) -> None:
    """Give each job whose group is none of ``windows``' groups to the
    window (group, start, end in epoch seconds) its submission falls in.

    Jobs submitted from another thread do not inherit the caller's job
    group: a streaming query's micro-batches carry the stream's own
    group. The benchmark runs one operation at a time, so the time window
    identifies the operation that caused them.
    """
    known = {g for g, _, _ in windows}
    for jid, group in log.job_group.items():
        if group in known:
            continue
        at = log.job_submit[jid] / 1e3
        owner = next((g for g, lo, hi in windows if lo <= at <= hi), None)
        if owner is None:
            continue
        log.job_group[jid] = owner
        for sid in log.job_stages.get(jid, []):
            if log.stage_group.get(sid) not in known:
                log.stage_group[sid] = owner


def _task(ev: dict) -> Task:
    info = ev["Task Info"]
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    python_bytes = sum(
        _num(a.get("Update"))
        for a in info.get("Accumulables", [])
        if a.get("Name") in _PYTHON_ACCUMS
    )
    return Task(
        stage=ev["Stage ID"],
        launch_ms=info["Launch Time"],
        finish_ms=info["Finish Time"],
        run_ms=_num(m.get("Executor Run Time")),
        cpu_ns=_num(m.get("Executor CPU Time")),
        gc_ms=_num(m.get("JVM GC Time")),
        shuffle_read=_num(sr.get("Remote Bytes Read")) + _num(sr.get("Local Bytes Read")),
        shuffle_write=_num(sw.get("Shuffle Bytes Written")),
        spill=_num(m.get("Disk Bytes Spilled")),
        input_bytes=_num((m.get("Input Metrics") or {}).get("Bytes Read")),
        python_bytes=python_bytes,
    )


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of (start, end) intervals."""
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


def group_metrics(log: EventLog, groups: set[str]) -> dict[str, float]:
    """Summed scheduler/executor metrics for every job in ``groups``."""
    jobs = [j for j, g in log.job_group.items() if g in groups]
    stages = {s for s, g in log.stage_group.items() if g in groups}
    tasks = [t for t in log.tasks if t.stage in stages]
    by_stage: dict[int, list[float]] = defaultdict(list)
    for t in tasks:
        by_stage[t.stage].append(t.finish_ms - t.launch_ms)
    skew = 1.0
    for runs in by_stage.values():
        if len(runs) >= 2:
            skew = max(skew, max(runs) / max(statistics.median(runs), 1.0))
    return {
        "exec_s": union_length([log.job_span[j] for j in jobs if j in log.job_span]) / 1e3,
        "jobs": float(len(jobs)),
        "stages": float(len(stages)),
        "tasks": float(len(tasks)),
        "single_task_stages": float(sum(1 for s in stages if log.stage_tasks.get(s) == 1)),
        "task_run_s": sum(t.run_ms for t in tasks) / 1e3,
        "task_cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
        "gc_s": sum(t.gc_ms for t in tasks) / 1e3,
        "shuffle_read_mb": sum(t.shuffle_read for t in tasks) / MIB,
        "shuffle_write_mb": sum(t.shuffle_write for t in tasks) / MIB,
        "spill_mb": sum(t.spill for t in tasks) / MIB,
        # Input Metrics also count reads of cached blocks; only stages
        # that scan files read the files themselves
        "file_read_mb": sum(t.input_bytes for t in tasks if t.stage in log.scan_stages) / MIB,
        "python_mb": sum(t.python_bytes for t in tasks) / MIB,
        "task_skew": skew,
    }


def driver_gap_s(log: EventLog, group: str, start_s: float, end_s: float) -> float:
    """Seconds of the span [start_s, end_s] (epoch seconds) during which no
    task of ``group`` was running: driver planning, scheduling and py4j."""
    stages = {s for s, g in log.stage_group.items() if g == group}
    lo, hi = start_s * 1e3, end_s * 1e3
    covered = union_length([
        (max(t.launch_ms, lo), min(t.finish_ms, hi))
        for t in log.tasks
        if t.stage in stages and t.finish_ms > lo and t.launch_ms < hi
    ])
    return max(0.0, (hi - lo) - covered) / 1e3


def jobs_started_before(log: EventLog, group: str, t_s: float) -> int:
    """Jobs of ``group`` submitted before epoch second ``t_s`` (e.g. the
    eager jobs a query builder runs before it returns a DataFrame)."""
    return sum(
        1 for j, g in log.job_group.items()
        if g == group and log.job_submit[j] < t_s * 1e3
    )
