"""Spark event-log parser: jobs, stages and task counters per job group.

Spark writes one JSON object per line when ``spark.eventLog.enabled`` is
on. This module reads such a file (plain or the v2 rolling directory
layout) into plain records and folds the task metrics into counters,
either per stage or per any key derived from a job, usually its job
group::

    log = read_event_log(find_event_log(event_dir))
    per_group = counters_by(log, lambda job: job.group)

Nothing here imports Spark; a finished log file is all it needs.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable, Iterable
from dataclasses import dataclass, field, fields

MB = 1e6


@dataclass
class Counters:
    """Additive counters over a set of jobs (or stages)."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    exec_cpu_s: float = 0.0  # executor CPU time
    exec_run_s: float = 0.0  # executor run (wall) time summed over tasks
    input_mb: float = 0.0
    output_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0  # memory + disk bytes spilled
    gc_s: float = 0.0
    fetch_wait_s: float = 0.0

    def add(self, other: "Counters") -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


@dataclass
class Stage:
    stage_id: int
    name: str = ""
    submit_ms: int | None = None
    complete_ms: int | None = None
    rdd_names: tuple[str, ...] = ()  # RDD operator scopes, e.g. "Scan text"
    counters: Counters = field(default_factory=Counters)

    @property
    def duration_ms(self) -> int:
        if self.submit_ms is None or self.complete_ms is None:
            return 0
        return self.complete_ms - self.submit_ms


@dataclass
class Job:
    job_id: int
    submit_ms: int
    end_ms: int | None = None
    group: str | None = None  # spark.jobGroup.id
    description: str | None = None  # spark.job.description
    stage_ids: tuple[int, ...] = ()
    succeeded: bool | None = None


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)

    def stage_job(self) -> dict[int, int]:
        """stage id -> the first job that lists it."""
        out: dict[int, int] = {}
        for job in sorted(self.jobs.values(), key=lambda j: j.job_id):
            for sid in job.stage_ids:
                out.setdefault(sid, job.job_id)
        return out


def find_event_log(event_dir: str) -> str:
    """The newest event log under ``event_dir``: a file, or for the v2
    rolling layout the newest ``events_*`` file inside its directory."""
    entries = [os.path.join(event_dir, f) for f in os.listdir(event_dir)]
    if not entries:
        raise FileNotFoundError(f"no event log under {event_dir}")
    path = max(entries, key=os.path.getmtime)
    if os.path.isdir(path):
        inner = sorted(
            os.path.join(path, f) for f in os.listdir(path) if f.startswith("events")
        )
        if not inner:
            raise FileNotFoundError(f"no events_* file under {path}")
        return inner[-1]
    return path


def _task_counters(tm: dict) -> Counters:
    sr = tm.get("Shuffle Read Metrics") or {}
    sw = tm.get("Shuffle Write Metrics") or {}
    return Counters(
        tasks=1,
        exec_cpu_s=tm.get("Executor CPU Time", 0) / 1e9,
        exec_run_s=tm.get("Executor Run Time", 0) / 1e3,
        input_mb=(tm.get("Input Metrics") or {}).get("Bytes Read", 0) / MB,
        output_mb=(tm.get("Output Metrics") or {}).get("Bytes Written", 0) / MB,
        shuffle_read_mb=(
            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        ) / MB,
        shuffle_write_mb=sw.get("Shuffle Bytes Written", 0) / MB,
        spill_mb=(tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0))
        / MB,
        gc_s=tm.get("JVM GC Time", 0) / 1e3,
        fetch_wait_s=sr.get("Fetch Wait Time", 0) / 1e3,
    )


def _rdd_scopes(stage_info: dict) -> tuple[str, ...]:
    names = []
    for rdd in stage_info.get("RDD Info") or ():
        scope = rdd.get("Scope")
        if scope:
            try:
                names.append(json.loads(scope).get("name", ""))
            except json.JSONDecodeError:
                pass
        names.append(rdd.get("Name", ""))
    return tuple(names)


def parse_events(lines: Iterable[str]) -> EventLog:
    """Fold event-log lines into jobs and stages. Undecodable lines (a
    log cut short by a crash) are skipped."""
    log = EventLog()
    for line in lines:
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(
                job_id=ev["Job ID"],
                submit_ms=ev.get("Submission Time", 0),
                group=props.get("spark.jobGroup.id"),
                description=props.get("spark.job.description"),
                stage_ids=tuple(ev.get("Stage IDs") or ()),
            )
            log.jobs[job.job_id] = job
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = ev.get("Completion Time")
                result = (ev.get("Job Result") or {}).get("Result")
                job.succeeded = result == "JobSucceeded"
        elif kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
            si = ev["Stage Info"]
            st = log.stages.setdefault(si["Stage ID"], Stage(si["Stage ID"]))
            st.name = si.get("Stage Name", st.name).split("\n")[0]
            st.submit_ms = si.get("Submission Time", st.submit_ms)
            st.complete_ms = si.get("Completion Time", st.complete_ms)
            st.rdd_names = _rdd_scopes(si) or st.rdd_names
        elif kind == "SparkListenerTaskEnd":
            st = log.stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
            st.counters.add(_task_counters(ev.get("Task Metrics") or {}))
    return log


def read_event_log(path: str) -> EventLog:
    with open(path, encoding="utf-8") as f:
        return parse_events(f)


def stages_in_window(log: EventLog, lo_ms: float, hi_ms: float) -> list[Stage]:
    """Stages submitted within ``[lo_ms, hi_ms]`` (epoch milliseconds),
    the view a single-query profile prints."""
    return [
        st for st in log.stages.values()
        if st.submit_ms is not None and lo_ms <= st.submit_ms <= hi_ms
    ]


def counters_by(log: EventLog, key: Callable[[Job], str | None]) -> dict[str, Counters]:
    """Counters per ``key(job)``: job and stage counts plus the task
    metrics of every stage, each stage charged to the first job that
    ran it. Jobs whose key is None are skipped."""
    out: dict[str, Counters] = {}
    seen_stage: set[int] = set()
    for job in sorted(log.jobs.values(), key=lambda j: j.job_id):
        k = key(job)
        if k is None:
            continue
        c = out.setdefault(k, Counters())
        c.jobs += 1
        for sid in job.stage_ids:
            st = log.stages.get(sid)
            if sid in seen_stage or st is None or st.submit_ms is None:
                continue  # skipped (reused shuffle output) or already charged
            seen_stage.add(sid)
            c.stages += 1
            c.add(st.counters)  # task counters only: jobs/stages stay 0
    return out
