"""Unit test of the event-log parser on a tiny log written by the test.

Run with ``python3 -m pytest perfbench/tests -q`` from the checkout root.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import eventlog  # noqa: E402

T0 = 1_700_000_000_000  # epoch ms


def _job_start(jid, group, at, stages):
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": at,
            "Stage IDs": stages, "Properties": {"spark.jobGroup.id": group}}


def _job_end(jid, at):
    return {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": at,
            "Job Result": {"Result": "JobSucceeded"}}


def _rdd(name, cached=False):
    return {"RDD ID": 0, "Name": name, "Number of Partitions": 1,
            "Storage Level": {"Use Disk": False, "Use Memory": cached, "Deserialized": cached,
                              "Replication": 1}}


SCAN = [_rdd("MapPartitionsRDD"), _rdd("FileScanRDD")]
SHUFFLE = [_rdd("MapPartitionsRDD"), _rdd("ShuffledRowRDD")]
# a stage over a cached frame: its lineage stops at the persisted RDD
CACHED = [_rdd("MapPartitionsRDD"), _rdd("*(1) Project [booking_id#3]", cached=True)]


def _stage(sid, group, n_tasks, rdds=SHUFFLE):
    return {"Event": "SparkListenerStageSubmitted",
            "Stage Info": {"Stage ID": sid, "Number of Tasks": n_tasks, "RDD Info": rdds},
            "Properties": {"spark.jobGroup.id": group}}


def _task(sid, launch, finish, run_ms, cpu_ns, python_bytes=0, shuffle_w=0, local_r=0,
          input_b=0):
    accums = [{"Name": "number of output rows", "Update": "5"}]
    if python_bytes:
        accums += [
            {"Name": "data sent to Python workers", "Update": str(python_bytes)},
            {"Name": "data returned from Python workers", "Update": str(python_bytes)},
        ]
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": sid,
        "Task Info": {"Launch Time": launch, "Finish Time": finish, "Accumulables": accums},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": 1,
            "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": local_r},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
            "Input Metrics": {"Bytes Read": input_b},
        },
    }


@pytest.fixture
def log_dir(tmp_path):
    """Rolling (``eventlog_v2_*``) layout: two event files, one app."""
    events = [
        {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
        # group q: a job submitted during the build, then a 2-stage job
        _job_start(0, "q", T0 + 100, [0]),
        _stage(0, "q", 1, SCAN),
        _task(0, T0 + 150, T0 + 250, 100, 50_000_000, input_b=2**20),
        _job_end(0, T0 + 260),
        _job_start(1, "q", T0 + 400, [1, 2]),
        _stage(1, "q", 2, SCAN),
        _task(1, T0 + 450, T0 + 550, 90, 80_000_000, shuffle_w=3 * 2**20, input_b=2**20),
        _task(1, T0 + 450, T0 + 850, 390, 300_000_000, shuffle_w=1 * 2**20, input_b=2**20),
    ]
    more = [
        _stage(2, "q", 1),
        _task(2, T0 + 900, T0 + 1000, 100, 70_000_000, local_r=4 * 2**20),
        _job_end(1, T0 + 1000),
        # another group: must not leak into q
        _job_start(2, "other", T0 + 2000, [3]),
        _stage(3, "other", 1),
        _task(3, T0 + 2000, T0 + 2100, 100, 10_000_000, python_bytes=2**19),
        _job_end(2, T0 + 2100),
        # reads a cached frame: Input Metrics count the cached block's bytes
        _job_start(4, "cached", T0 + 4000, [5]),
        _stage(5, "cached", 1, CACHED),
        _task(5, T0 + 4000, T0 + 4100, 100, 10_000_000, input_b=8 * 2**20),
        _job_end(4, T0 + 4100),
        # submitted from another thread (a streaming query's own group)
        _job_start(3, "stream-1", T0 + 3050, [4]),
        _stage(4, "stream-1", 1),
        _task(4, T0 + 3060, T0 + 3160, 100, 20_000_000),
        _job_end(3, T0 + 3200),
    ]
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    (d / "appstatus_local-1").write_text("")
    for name, chunk in (("events_1_local-1", events), ("events_2_local-1", more)):
        (d / name).write_text("".join(json.dumps(e) + "\n" for e in chunk))
    return str(d)


def test_group_metrics_sum_only_the_group(log_dir):
    log = eventlog.parse(log_dir)
    m = eventlog.group_metrics(log, {"q"})
    assert m["jobs"] == 2
    assert m["stages"] == 3
    assert m["tasks"] == 4
    assert m["single_task_stages"] == 2
    assert m["task_run_s"] == pytest.approx(0.68)
    assert m["task_cpu_s"] == pytest.approx(0.5)
    assert m["gc_s"] == pytest.approx(0.004)
    assert m["shuffle_write_mb"] == pytest.approx(4.0)
    assert m["shuffle_read_mb"] == pytest.approx(4.0)
    # only the two file-scan stages read files: 1 + 2 tasks of 1 MiB
    assert m["file_read_mb"] == pytest.approx(3.0)
    assert m["python_mb"] == 0
    # job 0 covers 100..260 ms and job 1 400..1000 ms
    assert m["exec_s"] == pytest.approx(0.76)
    # stage 1 task times 100 and 400 ms: max / median = 400 / 250
    assert m["task_skew"] == pytest.approx(1.6)

    other = eventlog.group_metrics(log, {"other"})
    assert other["jobs"] == 1 and other["tasks"] == 1
    assert other["python_mb"] == pytest.approx(1.0)


def test_driver_gap_is_span_time_without_running_tasks(log_dir):
    log = eventlog.parse(log_dir)
    start, end = (T0 + 0) / 1e3, (T0 + 1100) / 1e3
    # tasks cover 150..250, 450..850 and 900..1000 ms of the 1100 ms span
    assert eventlog.driver_gap_s(log, "q", start, end) == pytest.approx(0.5)
    # clipping: a span that ends mid-task
    assert eventlog.driver_gap_s(log, "q", start, (T0 + 200) / 1e3) == pytest.approx(0.15)


def test_jobs_started_before(log_dir):
    log = eventlog.parse(log_dir)
    assert eventlog.jobs_started_before(log, "q", (T0 + 300) / 1e3) == 1
    assert eventlog.jobs_started_before(log, "q", (T0 + 5000) / 1e3) == 2
    assert eventlog.jobs_started_before(log, "other", (T0 + 300) / 1e3) == 0


def test_single_file_log(tmp_path, log_dir):
    lines = []
    for name in sorted(os.listdir(log_dir)):
        if name.startswith("events_"):
            lines += open(os.path.join(log_dir, name)).read().splitlines()
    single = tmp_path / "local-1"
    single.write_text("\n".join(lines) + "\n")
    assert eventlog.group_metrics(eventlog.parse(str(single)), {"q"}) == \
        eventlog.group_metrics(eventlog.parse(log_dir), {"q"})


def test_orphan_jobs_go_to_the_enclosing_window(log_dir):
    log = eventlog.parse(log_dir)
    windows = [("q", T0 / 1e3, (T0 + 1100) / 1e3), ("s", (T0 + 3000) / 1e3, (T0 + 3300) / 1e3)]
    eventlog.adopt_orphans(log, windows)
    s = eventlog.group_metrics(log, {"s"})
    assert s["jobs"] == 1 and s["tasks"] == 1
    assert s["task_cpu_s"] == pytest.approx(0.02)
    # jobs outside every window keep their own group
    assert eventlog.group_metrics(log, {"other"})["jobs"] == 1
    assert eventlog.group_metrics(log, {"q"})["jobs"] == 2


def test_cached_reads_are_not_file_reads(log_dir):
    log = eventlog.parse(log_dir)
    assert log.scan_stages == {0, 1}
    cached = eventlog.group_metrics(log, {"cached"})
    assert cached["tasks"] == 1
    assert cached["file_read_mb"] == 0
    both = eventlog.group_metrics(log, {"q", "cached"})
    assert both["file_read_mb"] == pytest.approx(3.0)
