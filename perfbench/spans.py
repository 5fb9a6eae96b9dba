"""Spans around the benchmark's calls into the program, and the Spark event
log parser that splits each span's wall time by layer.

A span is opened around one call into a package module. While it is open,
every job the calling thread starts carries the span id as the Spark local
property ``perfbench.span``; micro-batch jobs run on the stream's own thread
and are attributed by the ``streaming.sql.batchId`` property instead. Spans
live in memory and are written out once, when the run ends.

The event log (Spark 4.1 writes a rolling ``eventlog_v2_<app>/events_N_<app>``
directory) is read after the session stops. Only JobStart, JobEnd and
TaskEnd events are used.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import asdict, dataclass, field

SPAN_PROPERTY = "perfbench.span"
BATCH_PROPERTY = "streaming.sql.batchId"


@dataclass
class Span:
    span_id: int
    name: str
    start: float  # epoch seconds
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. With ``enabled`` False it only times."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext if self.enabled else None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].span_id if self._stack else None
        sp = Span(len(self.spans), name, time.time(), parent=parent,
                  run_id=self.run_id, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        if self._sc is not None:
            self._sc.setLocalProperty(SPAN_PROPERTY, str(sp.span_id))
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if self._sc is not None:
                self._sc.setLocalProperty(
                    SPAN_PROPERTY, str(parent) if parent is not None else None
                )

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f, indent=1)


def eventlog_conf(log_dir: str) -> dict[str, str]:
    """``get_spark(extra_conf=...)`` for the traced run only."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
    }


# -- event log --------------------------------------------------------------


@dataclass
class JobRecord:
    job_id: int
    submit_ms: int
    end_ms: int = 0
    span: str | None = None
    batch_id: str | None = None
    stages: list[int] = field(default_factory=list)
    stages_run: set[int] = field(default_factory=set)
    tasks: int = 0
    task_run_ms: int = 0
    task_cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    records_read: int = 0
    bytes_written: int = 0
    records_written: int = 0


def eventlog_files(log_dir: str) -> list[str]:
    """Event files of every application under ``log_dir``, in roll order."""
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    return sorted(files, key=lambda p: (os.path.dirname(p),
                                        int(os.path.basename(p).split("_")[1])))


def parse_eventlog(files: list[str]) -> list[JobRecord]:
    """One record per job, with the metrics of all its tasks summed."""
    jobs: dict[int, JobRecord] = {}
    stage_job: dict[int, int] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = JobRecord(
                        ev["Job ID"], ev["Submission Time"],
                        span=props.get(SPAN_PROPERTY),
                        batch_id=props.get(BATCH_PROPERTY),
                        stages=list(ev["Stage IDs"]),
                    )
                    jobs[job.job_id] = job
                    for sid in job.stages:
                        stage_job[sid] = job.job_id
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    job_id = stage_job.get(ev["Stage ID"])
                    tm = ev.get("Task Metrics")
                    if job_id is None or not tm:
                        continue
                    job = jobs[job_id]
                    job.stages_run.add(ev["Stage ID"])
                    job.tasks += 1
                    job.task_run_ms += tm["Executor Run Time"]
                    job.task_cpu_ns += tm["Executor CPU Time"]
                    job.gc_ms += tm["JVM GC Time"]
                    job.shuffle_write_bytes += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    job.spill_bytes += tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
                    job.records_read += (tm["Input Metrics"]["Records Read"]
                                         + tm["Shuffle Read Metrics"]["Total Records Read"])
                    job.bytes_written += tm["Output Metrics"]["Bytes Written"]
                    job.records_written += tm["Output Metrics"]["Records Written"]
    return sorted(jobs.values(), key=lambda j: j.job_id)


def _busy_ms(jobs: list[JobRecord]) -> int:
    """Length of the union of the jobs' [submit, end] intervals."""
    busy, cur_s, cur_e = 0, None, None
    for s, e in sorted((j.submit_ms, j.end_ms) for j in jobs):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return busy


def layer_record(wall_s: float, jobs: list[JobRecord]) -> dict:
    """The per-span layer split of ``wall_s`` over the span's jobs."""
    job_busy_s = _busy_ms(jobs) / 1000.0
    task_run_s = sum(j.task_run_ms for j in jobs) / 1000.0
    return {
        "wall_s": wall_s,
        "outside_jobs_s": max(wall_s - job_busy_s, 0.0),
        "job_busy_s": job_busy_s,
        "jobs": len(jobs),
        "stages": sum(len(j.stages_run) for j in jobs),
        "tasks": sum(j.tasks for j in jobs),
        "task_run_s": task_run_s,
        "task_cpu_s": sum(j.task_cpu_ns for j in jobs) / 1e9,
        "gc_s": sum(j.gc_ms for j in jobs) / 1000.0,
        "shuffle_bytes": sum(j.shuffle_write_bytes for j in jobs),
        "spill_bytes": sum(j.spill_bytes for j in jobs),
        "records_read": sum(j.records_read for j in jobs),
        "bytes_written": sum(j.bytes_written for j in jobs),
        "records_written": sum(j.records_written for j in jobs),
        "parallelism": task_run_s / job_busy_s if job_busy_s > 0 else 0.0,
    }


def jobs_by_span(jobs: list[JobRecord]) -> dict[str, list[JobRecord]]:
    out: dict[str, list[JobRecord]] = {}
    for j in jobs:
        if j.span is not None:
            out.setdefault(j.span, []).append(j)
    return out


def jobs_by_batch(jobs: list[JobRecord]) -> dict[int, list[JobRecord]]:
    out: dict[int, list[JobRecord]] = {}
    for j in jobs:
        if j.batch_id is not None:
            out.setdefault(int(j.batch_id), []).append(j)
    return out
