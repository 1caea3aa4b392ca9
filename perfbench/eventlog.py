"""Stdlib parser for Spark's JSON event log.

Spark 4.1 writes a rolling log: a directory ``eventlog_v2_<app>`` holding
``events_<N>_<app>`` files (plus an ``appstatus_`` marker) that must be
read in ``N`` order.  A plain single-file log (``<app>`` or
``<app>.inprogress``) is read as one file.  Compressed logs are not
supported; the benchmark turns compression off.

Jobs and tasks are attributed to the job group (``spark.jobGroup.id``) set
when they were submitted; the benchmark sets one group per query.
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict
from dataclasses import dataclass, field

_ROLLING_FILE = re.compile(r"^events_(\d+)_")


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    input_bytes: int = 0
    spill_bytes: int = 0
    intervals: list[tuple[int, int]] = field(default_factory=list)  # job (start, end) ms

    @property
    def job_s(self) -> float:
        """Wall seconds covered by at least one job (overlaps merged)."""
        total, end = 0, None
        for s, e in sorted(self.intervals):
            if end is None or s > end:
                total += e - s
                end = e
            elif e > end:
                total += e - end
                end = e
        return total / 1000.0


def log_files(log_dir: str) -> list[str]:
    """Every event file under ``log_dir``, in the order they were written."""
    out: list[str] = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path) and entry.startswith("eventlog_v2_"):
            parts = [(int(m.group(1)), f) for f in os.listdir(path)
                     if (m := _ROLLING_FILE.match(f))]
            out.extend(os.path.join(path, f) for _, f in sorted(parts))
        elif os.path.isfile(path):
            out.append(path)
    return out


def parse(log_dir: str) -> dict[str | None, GroupStats]:
    """Per job group (None for jobs outside any group) statistics."""
    stage_group: dict[int, str | None] = {}
    job_group: dict[int, str | None] = {}
    job_start: dict[int, int] = {}
    groups: dict[str | None, GroupStats] = defaultdict(GroupStats)
    for path in log_files(log_dir):
        with open(path) as f:
            for line in f:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    job_id = ev["Job ID"]
                    job_group[job_id] = group
                    job_start[job_id] = ev["Submission Time"]
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                    groups[group].jobs += 1
                elif kind == "SparkListenerJobEnd":
                    job_id = ev["Job ID"]
                    if job_id in job_start:
                        groups[job_group[job_id]].intervals.append(
                            (job_start[job_id], ev["Completion Time"]))
                elif kind == "SparkListenerStageSubmitted":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    stage_group[ev["Stage Info"]["Stage ID"]] = group
                elif kind == "SparkListenerTaskEnd":
                    g = groups[stage_group.get(ev["Stage ID"])]
                    g.tasks += 1
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    g.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                    g.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    g.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return dict(groups)
