"""Measurement helpers that read the host from outside the program: CPU
steal and idle from /proc/stat, resident memory of this process tree, and
spans recorded around calls into the program's layers."""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class HostCpu:
    """Steal and idle shares of all CPUs between construction and
    ``shares()``; context for a run, not a metric."""

    def __init__(self) -> None:
        self._t0 = _cpu_times()

    def shares(self) -> dict:
        d = [b - a for a, b in zip(self._t0, _cpu_times())]
        total = max(sum(d[:8]), 1)  # user..steal; guest time is in user
        return {
            "steal_pct": round(100.0 * d[7] / total, 2),
            "idle_pct": round(100.0 * (d[3] + d[4]) / total, 2),
        }


def _children() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:  # the process ended while we listed it
            continue
        out.setdefault(ppid, []).append(int(name))
    return out


def descendants(root: int) -> list[int]:
    """Pids of every process below ``root`` (the Spark JVM this process
    launched and the JVM's Python workers)."""
    children, out, todo = _children(), [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _tree_pss_bytes(root: int) -> int:
    """Proportional set size of ``root`` and all its descendants. PSS
    splits pages shared between forked Python workers instead of counting
    them once per worker, as RSS would."""
    total = 0
    for p in [root, *descendants(root)]:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class PeakPss:
    """Samples this process tree's resident memory (PSS) every ``every``
    seconds on a background thread; ``peak_mb`` is the largest sample."""

    def __init__(self, every: float = 0.5) -> None:
        self._every = every
        self._peak = 0
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            v = _tree_pss_bytes(os.getpid())
            with self._lock:
                self._peak = max(self._peak, v)
            self._stop.wait(self._every)

    def __enter__(self) -> "PeakPss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        with self._lock:
            return self._peak / (1024.0 * 1024.0)


@dataclass
class Span:
    name: str
    parent: str | None
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory; each span also names the Spark job group of
    the jobs started inside it, so the event log folds per span."""

    def __init__(self, sc=None) -> None:
        self.spans: list[Span] = []
        self._sc = sc
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        s = Span(name, self._stack[-1].name if self._stack else None,
                 time.time())
        self._stack.append(s)
        if self._sc is not None:
            self._sc.setJobGroup(name, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.spans.append(s)
            if self._sc is not None:
                if self._stack:
                    self._sc.setJobGroup(self._stack[-1].name,
                                         self._stack[-1].name)
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)

    def total(self, name: str) -> float:
        return sum(s.dur for s in self.spans if s.name == name)

    def self_time(self, name: str) -> float:
        """Summed duration of ``name`` spans minus the part of each that
        its child spans cover."""
        out = 0.0
        for s in self.spans:
            if s.name != name:
                continue
            kids = sorted((c.start, c.end) for c in self.spans
                          if c.parent == name and c.start >= s.start
                          and c.end <= s.end)
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in kids:
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out += s.dur - covered
        return out


def udf_profile_s(spark) -> float:
    """Python time recorded by ``spark.sql.pyspark.udf.profiler=perf``
    since the last ``spark.profile.clear()``, summed over UDFs."""
    stats = spark.profile.profiler_collector._perf_profile_results
    return float(sum(s.total_tt for s in stats.values()))
