"""Spark event log → per-span counts.

Jobs are attributed by time window, not by job group: a job belongs to
the innermost span whose [start, end] interval contains its submission
time. Job groups and descriptions are thread-local, and jobs submitted
from driver thread pools lose them; the submission time does not. The
event log also retains every job, where the status tracker rolls over
after ``spark.ui.retainedJobs``.

Stages belong to the job running when they were submitted, tasks to
their stage, SQL executions to the span containing their start."""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Iterable
from dataclasses import dataclass, field

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "exec_run_s",
    "exec_cpu_s",
    "gc_s",
    "shuffle_bytes",
    "spill_bytes",
    "sql_executions",
)


@dataclass
class Job:
    job_id: int
    submit: float  # epoch seconds
    stage_ids: list[int]


@dataclass
class Stage:
    stage_id: int
    submit: float | None = None
    tasks: int = 0
    exec_run_s: float = 0.0
    exec_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class EventLog:
    jobs: list[Job] = field(default_factory=list)
    stages: dict[int, Stage] = field(default_factory=dict)
    sql_starts: list[float] = field(default_factory=list)


def app_log_files(eventlog_dir: str, app_id: str) -> list[str]:
    """The files of one application, single-file or rolling layout, in
    write order."""
    single = os.path.join(eventlog_dir, app_id)
    for cand in (single, single + ".inprogress"):
        if os.path.isfile(cand):
            return [cand]
    files = glob.glob(os.path.join(eventlog_dir, f"eventlog_v2_{app_id}*", "events_*"))

    def order(p: str) -> int:
        m = re.match(r"events_(\d+)_", os.path.basename(p))
        return int(m.group(1)) if m else 0

    return sorted(files, key=order)


def parse(lines: Iterable[str]) -> EventLog:
    log = EventLog()
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            log.jobs.append(
                Job(ev["Job ID"], ev["Submission Time"] / 1000.0, list(ev.get("Stage IDs", [])))
            )
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            st = log.stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
            if info.get("Submission Time") is not None:
                st.submit = info["Submission Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            st = log.stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
            m = ev.get("Task Metrics") or {}
            st.tasks += 1
            st.exec_run_s += m.get("Executor Run Time", 0) / 1e3
            st.exec_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            st.gc_s += m.get("JVM GC Time", 0) / 1e3
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            st.shuffle_bytes += (
                rd.get("Remote Bytes Read", 0)
                + rd.get("Local Bytes Read", 0)
                + wr.get("Shuffle Bytes Written", 0)
            )
            st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            log.sql_starts.append(ev["time"] / 1000.0)
    return log


def read(eventlog_dir: str, app_id: str) -> EventLog:
    def lines():
        for path in app_log_files(eventlog_dir, app_id):
            with open(path, encoding="utf-8") as f:
                yield from f

    return parse(lines())


def _innermost(spans, t: float):
    """The latest-starting span containing ``t`` (spans nest, so that is
    the innermost), or None."""
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.start >= best.start):
            best = s
    return best


def attribute(log: EventLog, spans) -> dict[str, dict[str, float]]:
    """Counters per span name, summed over spans of that name. Jobs and
    SQL executions outside every span are dropped."""
    out: dict[str, dict[str, float]] = {}

    def bucket(name: str) -> dict[str, float]:
        return out.setdefault(name, dict.fromkeys(COUNTERS, 0))

    owner_of_stage: dict[int, Job] = {}
    for job in sorted(log.jobs, key=lambda j: j.submit):
        for sid in job.stage_ids:
            st = log.stages.get(sid)
            if st is None or st.tasks == 0:
                continue  # skipped: its output was reused
            prev = owner_of_stage.get(sid)
            # a stage listed by several jobs ran in the latest one that
            # was submitted before the stage was
            if prev is None or (st.submit is not None and job.submit <= st.submit):
                owner_of_stage[sid] = job
    stages_of: dict[int, list[Stage]] = {}
    for sid, job in owner_of_stage.items():
        stages_of.setdefault(job.job_id, []).append(log.stages[sid])

    for job in log.jobs:
        span = _innermost(spans, job.submit)
        if span is None:
            continue
        b = bucket(span.name)
        b["jobs"] += 1
        for st in stages_of.get(job.job_id, ()):
            b["stages"] += 1
            for k in ("tasks", "exec_run_s", "exec_cpu_s", "gc_s", "shuffle_bytes", "spill_bytes"):
                b[k] += getattr(st, k)
    for t in log.sql_starts:
        span = _innermost(spans, t)
        if span is not None:
            bucket(span.name)["sql_executions"] += 1
    return out


def total(counts: dict[str, dict[str, float]]) -> dict[str, float]:
    agg = dict.fromkeys(COUNTERS, 0)
    for c in counts.values():
        for k in COUNTERS:
            agg[k] += c[k]
    return agg
