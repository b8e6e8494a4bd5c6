"""Fold a Spark event log into per-job-group task metrics.

The benchmark enables ``spark.eventLog`` to a local directory (plain JSON
lines: no compression, no rolling) and sets a job group per traced span.
Tasks are attributed to a group through JobStart's stage ids and its
``spark.jobGroup.id`` property; tasks of jobs without a group fold under
``""``.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path
from statistics import median


@dataclass
class Task:
    group: str
    launch_ms: int
    finish_ms: int
    run_ms: int
    cpu_ns: int
    shuffle_read: int
    shuffle_write: int
    spill: int
    failed: bool


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    durations_ms: list = field(default_factory=list)

    @property
    def task_skew(self) -> float:
        """max / median task duration (0 without tasks)."""
        if not self.durations_ms:
            return 0.0
        return max(self.durations_ms) / max(median(self.durations_ms), 1)


def read_tasks(lines) -> tuple[list[Task], dict[str, int]]:
    """(tasks, job count per group) from event-log JSON lines."""
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    tasks: list[Task] = []
    for line in lines:
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            jobs[g] += 1
            for sid in e["Stage IDs"]:
                stage_group[sid] = g
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            tasks.append(Task(
                group=stage_group.get(e["Stage ID"], ""),
                launch_ms=info["Launch Time"],
                finish_ms=info["Finish Time"],
                run_ms=m.get("Executor Run Time", 0),
                cpu_ns=m.get("Executor CPU Time", 0),
                shuffle_read=rd.get("Remote Bytes Read", 0)
                + rd.get("Local Bytes Read", 0),
                shuffle_write=wr.get("Shuffle Bytes Written", 0),
                spill=m.get("Memory Bytes Spilled", 0)
                + m.get("Disk Bytes Spilled", 0),
                failed=bool(info.get("Failed")),
            ))
    return tasks, dict(jobs)


def read_dir(path: str | Path) -> tuple[list[Task], dict[str, int]]:
    """Read every finished log file under ``path``."""
    tasks: list[Task] = []
    jobs: dict[str, int] = defaultdict(int)
    for f in sorted(Path(path).iterdir()):
        if f.is_file() and not f.name.startswith("."):
            with f.open() as fh:
                t, j = read_tasks(fh)
            tasks += t
            for g, n in j.items():
                jobs[g] += n
    return tasks, dict(jobs)


def fold(tasks: list[Task], jobs: dict[str, int]) -> dict[str, GroupStats]:
    out: dict[str, GroupStats] = defaultdict(GroupStats)
    mb = 1024.0 * 1024.0
    for t in tasks:
        g = out[t.group]
        g.tasks += 1
        g.failed_tasks += t.failed
        g.run_s += t.run_ms / 1000.0
        g.cpu_s += t.cpu_ns / 1e9
        g.shuffle_read_mb += t.shuffle_read / mb
        g.shuffle_write_mb += t.shuffle_write / mb
        g.spill_mb += t.spill / mb
        g.durations_ms.append(t.finish_ms - t.launch_ms)
    for g, n in jobs.items():
        out[g].jobs = n
    return dict(out)


def busy_s(tasks: list[Task], t0_ms: float, t1_ms: float) -> float:
    """Seconds of [t0, t1] during which at least one task was running."""
    iv = sorted(
        (max(t.launch_ms, t0_ms), min(t.finish_ms, t1_ms)) for t in tasks
        if t.finish_ms > t0_ms and t.launch_ms < t1_ms
    )
    total, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0
