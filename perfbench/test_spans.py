"""Job-to-span attribution on a canned Spark event log.

    python3 -m pytest perfbench/test_spans.py -q

Needs no Spark session: the log below is written by hand in the format
Spark's JSON event log uses.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spans import Span, attribute_jobs, dir_diff, read_event_log, span_metrics  # noqa: E402


def _job_start(job_id, t_ms, stages, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Submission Time": t_ms,
            "Stage IDs": stages, "Properties": props}


def _job_end(job_id, t_ms):
    return {"Event": "SparkListenerJobEnd", "Job ID": job_id, "Completion Time": t_ms}


def _task_end(stage_id, run_ms, input_bytes=0, shuffle=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage_id, "Task Metrics": {
        "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 1_000_000,
        "JVM GC Time": 1, "Disk Bytes Spilled": 0,
        "Input Metrics": {"Bytes Read": input_bytes, "Records Read": 10},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}}


def _read(events, tmp_path):
    (tmp_path / "log").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    return read_event_log(str(tmp_path))


@pytest.fixture
def event_log(tmp_path):
    events = [
        {"Event": "SparkListenerApplicationStart", "Timestamp": 999_000},
        # job 0: submitted inside span A from the caller's thread, with its group
        _job_start(0, 1_000_500, [0], group="A"),
        _task_end(0, 100, input_bytes=1000),
        _task_end(0, 50, input_bytes=500),
        _job_end(0, 1_000_900),
        # job 1: from a pool thread (no group) inside nested span C
        _job_start(1, 1_003_200, [1]),
        _task_end(1, 70, shuffle=64),
        _job_end(1, 1_003_300),
        # job 2: a reused pool thread still carrying A's stale group, but
        # submitted inside B; stage 1 is reused from job 1 and skipped here
        _job_start(2, 1_003_700, [1, 2], group="A"),
        _task_end(2, 30),
        _job_end(2, 1_003_900),
        # job 3: outside every span
        _job_start(3, 1_005_000, [3]),
        _task_end(3, 10),
        _job_end(3, 1_005_100),
    ]
    _read(events, tmp_path)
    return str(tmp_path)


def _spans():
    a = Span("A", 1000.0, 1002.0)
    b = Span("B", 1002.5, 1004.0)
    c = Span("C", 1003.0, 1003.5)  # nested in B
    return a, b, c


def test_jobs_sum_their_own_stages(event_log):
    jobs = {j.job_id: j for j in read_event_log(event_log)}
    assert [jobs[i].tasks for i in range(4)] == [2, 1, 1, 1]
    assert jobs[0].run_ms == 150 and jobs[0].input_bytes == 1500
    assert jobs[1].shuffle_bytes == 64
    assert jobs[2].run_ms == 30  # stage 1's task stays with job 1
    assert jobs[0].group == "A" and jobs[1].group is None


def test_attribution_by_submission_time(event_log):
    a, b, c = _spans()
    attribute_jobs([a, b, c], read_event_log(event_log))
    assert [j.job_id for j in a.jobs] == [0]
    assert [j.job_id for j in c.jobs] == [1]  # innermost span, no group needed
    assert [j.job_id for j in b.jobs] == [2]  # time wins over a stale group


def test_driver_time_is_wall_minus_job_time(event_log):
    a, b, c = _spans()
    attribute_jobs([a, b, c], read_event_log(event_log))
    ma, mb = span_metrics(a), span_metrics(b)
    assert ma["jobs"] == 1 and ma["tasks"] == 2
    assert ma["driver_s"] == pytest.approx(2.0 - 0.4)
    assert mb["driver_s"] == pytest.approx(1.5 - 0.2)
    assert ma["executor_run_s"] == pytest.approx(0.15)
    assert ma["input_bytes"] == 1500


def test_boundary_job_goes_to_later_span(tmp_path):
    # a job stamped in the millisecond two adjacent spans share belongs
    # to the span that started last
    jobs = _read([_job_start(0, 2_000_000, [0]), _job_end(0, 2_000_001)], tmp_path)
    first = Span("first", 1999.0, 2000.0004)
    second = Span("second", 2000.0006, 2001.0)
    attribute_jobs([first, second], jobs)
    assert not first.jobs and [j.job_id for j in second.jobs] == [0]


def test_dir_diff_counts_new_and_rewritten_files():
    before = {"c0=0/a.parquet": (10, 1), "c0=1/b.parquet": (20, 1)}
    after = {"c0=0/a.parquet": (10, 1), "c0=1/c.parquet": (30, 2), "c0=2/d.parquet": (5, 2)}
    d = dir_diff(before, after)
    assert d["files_written"] == 2 and d["bytes_written"] == 35
    assert d["files_removed"] == 1 and d["partitions_touched"] == 2
