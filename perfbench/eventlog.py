"""Stdlib reader for an uncompressed Spark event log.

Spark writes one JSON object per line. This module keeps two kinds:

- ``SparkListenerJobStart``: the job's id, its stage ids, its submission
  time and the ``spark.jobGroup.id`` property that
  ``SparkContext.setJobGroup`` sets;
- ``SparkListenerTaskEnd``: the task metrics, folded into the job that
  owns the task's stage.

The log must be written with ``spark.eventLog.compress=false``. A Spark 4
application writes a directory ``eventlog_v2_<app>`` holding
``events_<n>_<app>`` files; :func:`log_files` finds them in order.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from dataclasses import dataclass, field

#: Summed task counters, as named in the folded output.
COUNTERS = (
    "tasks",
    "run_s",
    "cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_read_records",
    "shuffle_write_bytes",
    "shuffle_write_records",
    "memory_spill_bytes",
    "disk_spill_bytes",
)


@dataclass
class Job:
    job_id: int
    group: str | None
    submitted_ms: int
    counters: dict[str, float] = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))
    #: stage id -> task durations in seconds
    task_s: dict[int, list[float]] = field(default_factory=dict)


def log_files(event_dir: str) -> list[str]:
    """Event-log files under ``event_dir``: the ``events_<n>_<app>`` files of
    each ``eventlog_v2_<app>`` directory, in roll order."""
    files = glob.glob(os.path.join(event_dir, "eventlog_v2_*", "events_*"))
    return sorted(files, key=lambda p: (os.path.dirname(p), int(os.path.basename(p).split("_")[1])))


def _add_task(job: Job, stage_id: int, info: dict, metrics: dict) -> None:
    c = job.counters
    c["tasks"] += 1
    c["run_s"] += metrics.get("Executor Run Time", 0) / 1e3
    c["cpu_s"] += metrics.get("Executor CPU Time", 0) / 1e9
    c["gc_s"] += metrics.get("JVM GC Time", 0) / 1e3
    rd = metrics.get("Shuffle Read Metrics", {})
    c["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
    c["shuffle_read_records"] += rd.get("Total Records Read", 0)
    wr = metrics.get("Shuffle Write Metrics", {})
    c["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
    c["shuffle_write_records"] += wr.get("Shuffle Records Written", 0)
    c["memory_spill_bytes"] += metrics.get("Memory Bytes Spilled", 0)
    c["disk_spill_bytes"] += metrics.get("Disk Bytes Spilled", 0)
    dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3
    job.task_s.setdefault(stage_id, []).append(dur)


def parse(paths: list[str]) -> list[Job]:
    """Jobs in submission order, each with its tasks' metrics folded in."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                if '"SparkListenerJobStart"' not in line and '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                if ev.get("Event") == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = Job(
                        job_id=ev["Job ID"],
                        group=props.get("spark.jobGroup.id"),
                        submitted_ms=ev.get("Submission Time", 0),
                    )
                    jobs[job.job_id] = job
                    for sid in ev.get("Stage IDs", []):
                        # a stage shared by later jobs ran (if at all) in the first
                        stage_job.setdefault(sid, job.job_id)
                elif ev.get("Event") == "SparkListenerTaskEnd":
                    sid = ev.get("Stage ID")
                    if sid in stage_job and ev.get("Task Metrics"):
                        _add_task(jobs[stage_job[sid]], sid, ev.get("Task Info", {}), ev["Task Metrics"])
    return [jobs[k] for k in sorted(jobs)]


def fold(jobs: list[Job]) -> dict[str, float]:
    """Sum of the jobs' counters, plus ``jobs`` and ``task_skew``: max over
    median task time in the stage with the most task time (1.0 when
    every task took as long)."""
    out = dict.fromkeys(COUNTERS, 0.0)
    stages: dict[int, list[float]] = {}
    for job in jobs:
        for k in COUNTERS:
            out[k] += job.counters[k]
        for sid, durs in job.task_s.items():
            stages.setdefault(sid, []).extend(durs)
    out["jobs"] = float(len(jobs))
    out["task_skew"] = 0.0
    if stages:
        heaviest = max(stages.values(), key=sum)
        med = statistics.median(heaviest)
        out["task_skew"] = max(heaviest) / med if med > 0 else 1.0
    return out
