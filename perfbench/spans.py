"""Spans around the calls into each layer, and the per-span roll-up of
Spark's event log.

A span is timed from outside the layer (wall clock around the call).
When tracing, the span also tags every Spark job the call launches with a
job group ``<span>#<n>``; :func:`rollup` then reads the uncompressed event
log with the standard library only and attributes jobs, task CPU, GC,
shuffle and spill to the span that launched them. Spans are kept in
memory and rolled up when the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

#: per-span fields the roll-up can produce
FIELDS = ("wall_s", "jobs", "executor_cpu_s", "gc_s", "shuffle_bytes",
          "spill_bytes", "driver_gap_s")


class Spans:
    """Records ``(phase, name, group, start, end)`` per span, ``phase``
    being whatever the caller set last (set-up or a pass tag). With
    ``sc`` set and ``tag_jobs`` true, tags the span's jobs with a job
    group."""

    def __init__(self, tag_jobs: bool = False):
        self.tag_jobs = tag_jobs
        self.sc = None
        self.phase = ""
        self.records: list[tuple[str, str, str, float, float]] = []
        self._seq = 0

    @contextmanager
    def span(self, name: str):
        self._seq += 1
        group = f"{name}#{self._seq}"
        tagged = self.tag_jobs and self.sc is not None
        if tagged:
            self.sc.setJobGroup(group, name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            if tagged:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.records.append((self.phase, name, group, start, end))


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def read_events(event_dir: str) -> list[dict]:
    """Every event of every (uncompressed) log file under ``event_dir``."""
    events = []
    for path in sorted(glob.glob(os.path.join(event_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def event_log_health(events: list[dict], untraced_windows) -> dict[str, int]:
    """What the roll-up relies on: every task reported once (a listener
    attached twice writes every event twice, and the roll-up would sum
    both), and no job submitted inside an untraced pass's
    ``(start, end)`` window."""
    seen: set[tuple[int, int]] = set()
    health = {"task_ends": 0, "duplicate_task_ends": 0, "untraced_jobs": 0}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], (ev.get("Task Info") or {}).get("Task ID"))
            health["task_ends"] += 1
            health["duplicate_task_ends"] += key in seen
            seen.add(key)
        elif kind == "SparkListenerJobStart":
            t = ev["Submission Time"] / 1000.0
            health["untraced_jobs"] += any(a <= t <= b for a, b in untraced_windows)
    return health


def rollup(events: list[dict], records) -> dict[str, dict[str, float]]:
    """Per span name: the FIELDS summed over every occurrence. Jobs are
    matched to spans by job group; ``driver_gap_s`` is span wall time
    minus the union of its jobs' submit-to-complete intervals."""
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    job_end: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    task_rows: list[tuple[int, dict]] = []
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            job_group[jid] = props.get("spark.jobGroup.id")
            job_start[jid] = ev["Submission Time"] / 1000.0
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            job_end[ev["Job ID"]] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            task_rows.append((ev["Stage ID"], ev.get("Task Metrics") or {}))

    by_group: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for sid, m in task_rows:
        group = job_group.get(stage_job.get(sid))
        if group is None:
            continue
        acc = by_group[group]
        acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        acc["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        sw = m.get("Shuffle Write Metrics") or {}
        acc["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
        acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
            "Disk Bytes Spilled", 0)

    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0.0))
    for _, name, group, start, end in records:
        row = out[name]
        jobs = [j for j, g in job_group.items() if g == group]
        intervals = [
            (max(job_start[j], start), min(job_end.get(j, end), end))
            for j in jobs
        ]
        row["wall_s"] += end - start
        row["jobs"] += len(jobs)
        row["driver_gap_s"] += max(0.0, (end - start) - _union_length(intervals))
        for k, v in by_group.get(group, {}).items():
            row[k] += v
    return dict(out)
