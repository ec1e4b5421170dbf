"""Fold a Spark event log into per-label job statistics.

The traced run turns Spark's event log on, uncompressed and unrolled,
and reads it back after the session stops.  Every job carries the job
description that was set when it was submitted: ``epoch N: <phase>``
inside ``run_epoch``, and the benchmark's own labels around its calls.
A stage inherits the description of the job that submitted it, so each
task's CPU time, shuffle bytes and spill land on exactly one label.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

DESC = "spark.job.description"


@dataclass
class LabelStats:
    jobs: int = 0
    tasks: int = 0
    cpu_ns: int = 0
    shuffle_write: int = 0
    spill: int = 0
    intervals: list[tuple[int, int]] = field(default_factory=list)


def read_events(log_dir: str) -> list[dict]:
    """All events of the application log written under ``log_dir``
    (one uncompressed file: the benchmark turns rolling off)."""
    events = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def fold(events: list[dict]) -> dict[str, LabelStats]:
    """Per job description: jobs, job intervals (ms), tasks, executor CPU
    (ns), shuffle bytes written and bytes spilled (memory + disk)."""
    out: dict[str, LabelStats] = {}
    job_label: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_label: dict[int, str] = {}

    def stats(label: str) -> LabelStats:
        return out.setdefault(label, LabelStats())

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            label = (ev.get("Properties") or {}).get(DESC) or ""
            jid = ev["Job ID"]
            job_label[jid] = label
            job_start[jid] = ev["Submission Time"]
            stats(label).jobs += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_start:
                stats(job_label[jid]).intervals.append(
                    (job_start[jid], ev["Completion Time"])
                )
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            stage_label[sid] = (ev.get("Properties") or {}).get(DESC) or ""
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            s = stats(stage_label.get(ev["Stage ID"], ""))
            s.tasks += 1
            s.cpu_ns += int(m.get("Executor CPU Time", 0))
            sw = m.get("Shuffle Write Metrics") or {}
            s.shuffle_write += int(sw.get("Shuffle Bytes Written", 0))
            s.spill += int(m.get("Memory Bytes Spilled", 0)) + int(
                m.get("Disk Bytes Spilled", 0)
            )
    return out


def union_ms(intervals: list[tuple[int, int]]) -> int:
    """Total length of the union of ``(start, end)`` intervals."""
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def merge(stats: list[LabelStats]) -> LabelStats:
    m = LabelStats()
    for s in stats:
        m.jobs += s.jobs
        m.tasks += s.tasks
        m.cpu_ns += s.cpu_ns
        m.shuffle_write += s.shuffle_write
        m.spill += s.spill
        m.intervals += s.intervals
    return m
