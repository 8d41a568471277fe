"""Outside-in tracing for the benchmark: named spans around public
calls, py4j round trips per span, Spark event-log task metrics
attributed to spans, and file counts from directory snapshots.

Nothing here patches the engine. A span wraps one call made by the
benchmark into a public function (``World.read``, ``World.flush``, a
query builder, ...). py4j round trips are counted with the engine's own
hook, ``dmds_spark.core.plan_lint.py4j_call_count``. Job and task
metrics come from the Spark event log, read after the session stops.

Jobs are attributed to spans by submission time, not by job group:
operators that overlap jobs on a plain ``ThreadPoolExecutor``
(``operators/parallel.py``, the IVF and postings stores) submit from
threads that never inherit the caller's job group, but every job they
submit falls inside the wall-clock window of the span that made the
call. A job goes to the innermost span whose window holds its
submission time; a job outside every span belongs to no span.

With tracing off, ``Tracer.call`` only runs the function: no hook, no
clock read, no event log.
"""

from __future__ import annotations

import json
import math
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    t0: float  # epoch seconds, the clock Spark stamps events with
    t1: float = 0.0
    py4j_calls: int = 0
    extra: dict = field(default_factory=dict)
    jobs: list = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Collects spans in memory; ``attribute_jobs`` joins them with the
    event log once the session has stopped."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []

    def call(self, name: str, fn, **extra):
        """Run ``fn()`` and return its result; when tracing, record a
        span with its wall window and py4j round trips."""
        if not self.enabled:
            return fn()
        from dmds_spark.core.plan_lint import py4j_call_count

        out = []
        span = Span(name, time.time(), extra=dict(extra))
        self.spans.append(span)
        try:
            span.py4j_calls = py4j_call_count(lambda: out.append(fn()))
        finally:
            span.t1 = time.time()
        return out[0]


# -- event log -----------------------------------------------------------------


@dataclass
class Job:
    job_id: int
    submit_ms: int
    end_ms: int = 0
    group: str | None = None
    stages: list = field(default_factory=list)
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    input_bytes: int = 0
    input_records: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0


def read_event_log(log_dir: str) -> list[Job]:
    """Parse every event file under ``log_dir`` (plain, uncompressed,
    rolling or not) into jobs with their task metrics summed."""
    paths = []
    for root, _, files in os.walk(log_dir):
        paths += [os.path.join(root, f) for f in files if not f.startswith(".")]
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    tasks = []
    for path in sorted(paths):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = Job(ev["Job ID"], ev["Submission Time"],
                              group=props.get("spark.jobGroup.id"),
                              stages=list(ev.get("Stage IDs", [])))
                    jobs[job.job_id] = job
                    for sid in job.stages:
                        # a stage reused by a later job is skipped there:
                        # its tasks belong to the first job listing it
                        stage_job.setdefault(sid, job.job_id)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
    for ev in tasks:
        job = jobs.get(stage_job.get(ev.get("Stage ID")))
        m = ev.get("Task Metrics")
        if job is None or not m:
            continue
        job.tasks += 1
        job.run_ms += m.get("Executor Run Time", 0)
        job.cpu_ns += m.get("Executor CPU Time", 0)
        job.gc_ms += m.get("JVM GC Time", 0)
        inp = m.get("Input Metrics") or {}
        job.input_bytes += inp.get("Bytes Read", 0)
        job.input_records += inp.get("Records Read", 0)
        job.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        job.spill_bytes += m.get("Disk Bytes Spilled", 0)
    return sorted(jobs.values(), key=lambda j: j.job_id)


def attribute_jobs(spans: list[Span], jobs: list[Job]) -> None:
    """Give each job to the innermost span (latest start) whose window
    holds its submission time. Span windows are widened to whole
    milliseconds, the resolution of the event log's timestamps."""
    windows = sorted(
        ((math.floor(s.t0 * 1000), math.ceil(s.t1 * 1000), s) for s in spans),
        key=lambda w: w[0],
    )
    for span in spans:
        span.jobs = []
    for job in jobs:
        owner = None
        for lo, hi, span in windows:
            if lo > job.submit_ms:
                break
            if job.submit_ms <= hi:
                owner = span
        if owner is not None:
            owner.jobs.append(job)


def span_metrics(span: Span) -> dict[str, float]:
    """Layer numbers for one attributed span. ``driver_s`` is the
    span's wall time not covered by any of its jobs."""
    lo, hi = span.t0 * 1000, span.t1 * 1000
    covered = 0.0
    edge = lo
    for a, b in sorted((j.submit_ms, j.end_ms or j.submit_ms) for j in span.jobs):
        a, b = max(a, edge), min(b, hi)
        if b > a:
            covered += b - a
            edge = b
    jobs = span.jobs
    return {
        "wall_s": span.wall_s,
        "driver_s": max(0.0, (hi - lo - covered) / 1000),
        "py4j_calls": span.py4j_calls,
        "jobs": len(jobs),
        "tasks": sum(j.tasks for j in jobs),
        "executor_run_s": sum(j.run_ms for j in jobs) / 1000,
        "executor_cpu_s": sum(j.cpu_ns for j in jobs) / 1e9,
        "gc_s": sum(j.gc_ms for j in jobs) / 1000,
        "input_bytes": sum(j.input_bytes for j in jobs),
        "input_records": sum(j.input_records for j in jobs),
        "shuffle_bytes": sum(j.shuffle_bytes for j in jobs),
        "spill_bytes": sum(j.spill_bytes for j in jobs),
    }


# -- directory snapshots ------------------------------------------------------


def dir_files(root: str) -> dict[str, tuple[int, int]]:
    """Data files under ``root``: relative path -> (size, mtime_ns).
    Hidden and ``_``-prefixed files (checksums, markers) are skipped."""
    out = {}
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]
        for f in files:
            if f.startswith((".", "_")):
                continue
            p = os.path.join(d, f)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def dir_diff(before: dict, after: dict) -> dict:
    """Files written (new or changed), bytes written, files removed and
    the partition directories touched between two snapshots."""
    written = [p for p, v in after.items() if before.get(p) != v]
    removed = [p for p in before if p not in after]
    return {
        "files_written": len(written),
        "bytes_written": sum(after[p][0] for p in written),
        "files_removed": len(removed),
        "written": written,
        "partitions_touched": len({os.path.dirname(p) for p in written + removed}),
    }
