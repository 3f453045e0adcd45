"""Stdlib reader for Spark's uncompressed JSON-lines event log.

Groups ``SparkListenerJobStart`` / ``JobEnd`` / ``TaskEnd`` records by
the job group the benchmark set, so each layer's jobs, task time,
shuffle bytes, spill and GC come from Spark's own instrumentation rather
than from timers in the benchmark.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, field

_WANTED = (
    b'"SparkListenerJobStart"',
    b'"SparkListenerJobEnd"',
    b'"SparkListenerTaskEnd"',
)


@dataclass
class GroupStats:
    jobs: int = 0
    task_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    gc_s: float = 0.0
    spans: list = field(default_factory=list)  # (start_ms, end_ms) per job


@dataclass
class Job:
    group: str | None
    start_ms: int
    end_ms: int | None = None
    stages: tuple = ()


def log_files(root: str) -> list[str]:
    """Every event-log file under ``root`` (plain or rolling layout)."""
    out = []
    for d, _, files in os.walk(root):
        for f in files:
            if not f.startswith("appstatus") and not f.endswith(".inprogress.tmp"):
                out.append(os.path.join(d, f))
    return sorted(out)


def read_jobs(root: str) -> tuple[list[Job], dict[int, dict]]:
    """Jobs (with their group and span) and per-stage task totals.

    Stage ids are only unique within one application, so they are keyed
    by (file index, stage id)."""
    jobs: list[Job] = []
    stages: dict[tuple, dict] = defaultdict(
        lambda: {"task_s": 0.0, "shuffle": 0, "spill": 0, "gc_s": 0.0}
    )
    stage_job: dict[tuple, Job] = {}
    for fi, path in enumerate(log_files(root)):
        open_jobs: dict[int, Job] = {}
        with open(path, "rb") as fh:
            for line in fh:
                if not any(w in line[:80] for w in _WANTED):
                    continue
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = Job(
                        group=props.get("spark.jobGroup.id"),
                        start_ms=ev["Submission Time"],
                        stages=tuple(ev.get("Stage IDs", ())),
                    )
                    open_jobs[ev["Job ID"]] = job
                    jobs.append(job)
                    # a reused shuffle stage is listed again (skipped) by
                    # later jobs; its tasks belong to the first job
                    for s in job.stages:
                        stage_job.setdefault((fi, s), job)
                elif kind == "SparkListenerJobEnd":
                    job = open_jobs.get(ev["Job ID"])
                    if job is not None:
                        job.end_ms = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    st = stages[(fi, ev["Stage ID"])]
                    st["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    st["shuffle"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    st["spill"] += m.get("Disk Bytes Spilled", 0)
    per_job_stage = {id(j): [] for j in jobs}
    for key, job in stage_job.items():
        if key in stages:
            per_job_stage[id(job)].append(stages[key])
    return jobs, per_job_stage


def union_s(spans: list[tuple[int, int]]) -> float:
    """Length in seconds of the union of [start, end] millisecond spans."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


def group_stats(
    root: str, windows_ms: list[tuple[int, int]], alias: dict[str, str] | None = None
) -> tuple[dict[str, GroupStats], float]:
    """Per-group totals for jobs submitted inside any of ``windows_ms``,
    and the union of all those jobs' spans in seconds. ``alias`` renames
    groups (a streaming query's jobs carry its run id as their group)."""
    jobs, per_job_stage = read_jobs(root)
    out: dict[str, GroupStats] = defaultdict(GroupStats)
    all_spans = []
    for job in jobs:
        if job.end_ms is None or not any(lo <= job.start_ms <= hi for lo, hi in windows_ms):
            continue
        all_spans.append((job.start_ms, job.end_ms))
        group = job.group or "(none)"
        group = (alias or {}).get(group, group)
        g = out[group]
        g.jobs += 1
        g.spans.append((job.start_ms, job.end_ms))
        for st in per_job_stage[id(job)]:
            g.task_s += st["task_s"]
            g.shuffle_bytes += st["shuffle"]
            g.spill_bytes += st["spill"]
            g.gc_s += st["gc_s"]
    return dict(out), union_s(all_spans)
