"""Spark event-log reader for the traced run.

The traced run starts the session with ``spark.eventLog.enabled`` and
parses the JSON-lines log after ``spark.stop()``. Each job is attributed
to a bucket: a time window (the crawl phases, rebuilt from ``step()``'s
``phase_sec``) or a job group (the suite queries). A task belongs to the
job that first listed its stage.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

MB = 2**20


@dataclass
class Job:
    job_id: int
    submit_s: float
    group: str | None
    succeeded: bool = True


@dataclass
class Task:
    job_id: int | None
    run_s: float
    gc_s: float
    spill_mb: float
    shuffle_mb: float
    python_sent_mb: float
    failed: bool


@dataclass
class Usage:
    """Spark work summed over a set of jobs."""

    jobs: int = 0
    failed_jobs: int = 0
    task_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    gc_s: float = 0.0
    python_sent_mb: float = 0.0
    failed_tasks: int = 0

    def add_task(self, t: Task) -> None:
        self.task_s += t.run_s
        self.shuffle_mb += t.shuffle_mb
        self.spill_mb += t.spill_mb
        self.gc_s += t.gc_s
        self.python_sent_mb += t.python_sent_mb
        self.failed_tasks += t.failed


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)

    @classmethod
    def read(cls, log_dir: str) -> "EventLog":
        paths = sorted(
            p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
            if os.path.isfile(p) and "appstatus" not in os.path.basename(p)
        )
        if not paths:
            raise FileNotFoundError(f"no Spark event log under {log_dir}")
        log = cls()
        stage_job: dict[int, int] = {}
        task_events = []
        for path in paths:
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev["Event"]
                    if kind == "SparkListenerJobStart":
                        jid = ev["Job ID"]
                        props = ev.get("Properties") or {}
                        log.jobs[jid] = Job(
                            jid, ev["Submission Time"] / 1000.0,
                            props.get("spark.jobGroup.id"),
                        )
                        for sid in ev["Stage IDs"]:
                            stage_job.setdefault(sid, jid)
                    elif kind == "SparkListenerJobEnd":
                        res = ev["Job Result"]["Result"]
                        if ev["Job ID"] in log.jobs:
                            log.jobs[ev["Job ID"]].succeeded = res == "JobSucceeded"
                    elif kind == "SparkListenerTaskEnd":
                        task_events.append(ev)
        for ev in task_events:
            info = ev["Task Info"]
            m = ev.get("Task Metrics") or {}
            shuffle = (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            py_sent = sum(
                int(a.get("Update", 0))
                for a in info.get("Accumulables", [])
                if a.get("Name") == "data sent to Python workers"
            )
            log.tasks.append(Task(
                job_id=stage_job.get(ev["Stage ID"]),
                run_s=m.get("Executor Run Time", 0) / 1000.0,
                gc_s=m.get("JVM GC Time", 0) / 1000.0,
                spill_mb=m.get("Disk Bytes Spilled", 0) / MB,
                shuffle_mb=shuffle / MB,
                python_sent_mb=py_sent / MB,
                failed=bool(info.get("Failed")),
            ))
        return log

    def usage(self, job_of_bucket) -> dict[str, Usage]:
        """Sum jobs and their tasks per bucket; ``job_of_bucket(job)``
        names the job's bucket or returns None to leave it out."""
        bucket_of = {jid: job_of_bucket(j) for jid, j in self.jobs.items()}
        out: dict[str, Usage] = {}
        for jid, j in self.jobs.items():
            b = bucket_of[jid]
            if b is None:
                continue
            u = out.setdefault(b, Usage())
            u.jobs += 1
            u.failed_jobs += not j.succeeded
        for t in self.tasks:
            b = bucket_of.get(t.job_id)
            if b is not None:
                out.setdefault(b, Usage()).add_task(t)
        return out


def window_bucket(windows: list[tuple[str, float, float]]):
    """A bucket function for EventLog.usage: the name of the window
    [start, end) holding the job's submission time, else None."""
    def bucket(job: Job) -> str | None:
        for name, start, end in windows:
            if start <= job.submit_s < end:
                return name
        return None
    return bucket


def total(usages) -> Usage:
    out = Usage()
    for u in usages:
        for k in vars(out):
            setattr(out, k, getattr(out, k) + getattr(u, k))
    return out
