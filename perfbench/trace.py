"""Spans, percentiles and the Spark event-log reader of the benchmark.

A span is recorded around each call the benchmark makes into a layer
(name, start, end, parent, request id). Spans live in memory and are
summarised after the run. While a span is open, the Spark job group is
the span's id, so the event log charges every job, stage and task to
the innermost span that launched it — including jobs launched eagerly
while a query is still being built.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
from collections import defaultdict
from collections.abc import Iterable
from contextlib import contextmanager
from dataclasses import dataclass

GROUP_PREFIX = "pb-"


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    request: int | None

    @property
    def duration(self) -> float:
        return self.end - self.start


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail_percentile(samples: list[float], beyond: int = 10) -> tuple[float, float] | None:
    """The highest percentile that has at least ``beyond`` samples above it,
    as ``(level, value)``: with n samples, the (n - beyond)-th smallest one
    at level (n - beyond) / n. ``None`` when n <= beyond."""
    n = len(samples)
    if n <= beyond:
        return None
    return (n - beyond) / n, sorted(samples)[n - beyond - 1]


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    by_id = {s.sid: s for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            p = by_id[s.parent]
            kids[s.parent].append((max(s.start, p.start), min(s.end, p.end)))
    return {s.sid: s.duration - _covered(kids[s.sid]) for s in spans}


class Tracer:
    """Records spans and points the Spark job group at the open span.

    With ``enabled`` false every method is a pass-through, so the same
    workload code runs traced and untraced.
    """

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self.request: int | None = None
        self._stack: list[tuple[int, str]] = []
        self._next = 0
        self._patched: list[tuple[object, str, object]] = []

    def _set_group(self, sid: int | None, name: str = "") -> None:
        if self.sc is None:
            return
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{sid}", name)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = self._next
        parent = self._stack[-1] if self._stack else None
        self._next += 1
        self._stack.append((sid, name))
        self._set_group(sid, name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append(Span(
                sid, name, start, end, parent[0] if parent else None, self.request
            ))
            self._set_group(*(parent or (None,)))

    def wrap(self, modules: Iterable[object], attr: str, name: str) -> None:
        """Replace ``attr`` in each module that binds it with a wrapper that
        opens span ``name`` around the call. ``unwrap_all`` restores."""
        mods = list(modules)
        orig = getattr(mods[0], attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        for m in mods:
            self._patched.append((m, attr, getattr(m, attr)))
            setattr(m, attr, traced)

    def unwrap_all(self) -> None:
        for m, attr, orig in reversed(self._patched):
            setattr(m, attr, orig)
        self._patched.clear()


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "sched_wait_ms", "executor_run_ms",
    "executor_cpu_ms", "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "input_records", "python_worker_ms",
)


# The SQL metric Spark 4 attaches to Python/Arrow evaluation operators
# (milliseconds of Python worker run time per task).
PYTHON_RUN_METRIC = "time to run Python workers"


def parse_event_log(lines: Iterable[str]) -> dict[str | None, dict[str, float]]:
    """Per job group: jobs, submitted stages, finished tasks, task wait
    (launch minus stage submission), executor run/CPU/GC time, shuffle
    read/write bytes, spilled bytes (memory + disk), input records and
    Python worker time where Spark reports it as a task accumulable."""
    out: dict[str | None, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(SPARK_COUNTERS, 0.0))
    stage_group: dict[int, str | None] = {}
    stage_submit: dict[tuple[int, int], int] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            out[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            sid = info["Stage ID"]
            stage_group[sid] = group
            stage_submit[(sid, info.get("Stage Attempt ID", 0))] = info.get(
                "Submission Time", 0
            )
            out[group]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            g = out[stage_group.get(sid)]
            g["tasks"] += 1
            tinfo = ev.get("Task Info", {})
            sub = stage_submit.get((sid, ev.get("Stage Attempt ID", 0)))
            if sub:
                g["sched_wait_ms"] += max(0, tinfo.get("Launch Time", sub) - sub)
            for acc in tinfo.get("Accumulables", []):
                if acc.get("Name") == PYTHON_RUN_METRIC:
                    g["python_worker_ms"] += float(acc.get("Update", 0))
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            g["executor_run_ms"] += m.get("Executor Run Time", 0)
            g["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            g["gc_ms"] += m.get("JVM GC Time", 0)
            g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            g["input_records"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
    return dict(out)


def read_event_logs(directory: str) -> dict[str | None, dict[str, float]]:
    """Parse every event-log file under ``directory`` (plain or rolling
    ``eventlog_v2_*`` layout, uncompressed)."""
    lines: list[str] = []
    for root, _dirs, files in os.walk(directory):
        for f in sorted(files):
            if f.startswith(".") or f.endswith(".crc"):
                continue
            with open(os.path.join(root, f), encoding="utf-8") as fh:
                lines.extend(fh)
    return parse_event_log(lines)


def span_of_group(group: str | None) -> int | None:
    if group and group.startswith(GROUP_PREFIX):
        return int(group[len(GROUP_PREFIX):])
    return None
