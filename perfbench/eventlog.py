"""Reader for Spark's own event log (uncompressed, non-rolling JSON
lines), used only by the traced run.

Jobs carry the job group the benchmark set around each call
(``spark.jobGroup.id``); TaskEnd events carry executor run time, CPU
time, GC time, input bytes and shuffle bytes. Summing them per group
gives the per-layer counters; job start/end times give driver-only
time (wall time inside a window during which no job was running).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field


@dataclass
class Job:
    job_id: int
    group: str | None
    start: float            # seconds since epoch
    end: float | None = None
    stages: list[int] = field(default_factory=list)
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0


def event_log_file(directory: str) -> str:
    """The single application log in ``directory`` (the benchmark
    gives each traced session a directory of its own)."""
    names = [n for n in os.listdir(directory) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {directory}, "
                           f"found {names}")
    return os.path.join(directory, names[0])


def read_jobs(path: str) -> list[Job]:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(job_id=ev["Job ID"],
                          group=props.get("spark.jobGroup.id"),
                          start=ev["Submission Time"] / 1000.0,
                          stages=list(ev.get("Stage IDs", [])))
                jobs[job.job_id] = job
                for s in job.stages:
                    stage_job[s] = job.job_id
            elif kind == "SparkListenerJobEnd":
                job = jobs.get(ev["Job ID"])
                if job is not None:
                    job.end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                tm = ev.get("Task Metrics")
                if job is None or not tm:
                    continue
                job.tasks += 1
                job.run_s += tm.get("Executor Run Time", 0) / 1e3
                job.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
                job.gc_s += tm.get("JVM GC Time", 0) / 1e3
                job.input_bytes += (tm.get("Input Metrics") or {}).get(
                    "Bytes Read", 0)
                sr = tm.get("Shuffle Read Metrics") or {}
                job.shuffle_read_bytes += (sr.get("Remote Bytes Read", 0)
                                           + sr.get("Local Bytes Read", 0))
                sw = tm.get("Shuffle Write Metrics") or {}
                job.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
    return sorted(jobs.values(), key=lambda j: j.job_id)


def counters(jobs: list[Job]) -> dict[str, float]:
    """Summed task metrics of ``jobs``."""
    return {
        "jobs": len(jobs),
        "tasks": sum(j.tasks for j in jobs),
        "run_s": sum(j.run_s for j in jobs),
        "cpu_s": sum(j.cpu_s for j in jobs),
        "gc_s": sum(j.gc_s for j in jobs),
        "shuffle_mb": sum(j.shuffle_read_bytes + j.shuffle_write_bytes
                          for j in jobs) / 2**20,
        "input_bytes": sum(j.input_bytes for j in jobs),
    }


def busy_seconds(jobs: list[Job], lo: float, hi: float) -> float:
    """Length of the union of job intervals, clipped to [lo, hi]."""
    spans = sorted((max(j.start, lo), min(j.end if j.end else hi, hi))
                   for j in jobs)
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in spans:
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def driver_only_seconds(jobs: list[Job], windows: list[tuple[float, float]]
                        ) -> float:
    """Summed wall time inside ``windows`` with no job running."""
    return sum((hi - lo) - busy_seconds(jobs, lo, hi) for lo, hi in windows)
