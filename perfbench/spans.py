"""Span recorder, Spark event-log attribution and summary statistics.

A span covers one call into a package layer: name, start, end, parent
and the iteration it belongs to. While a span is open its id is the
thread's Spark job group, so every job, stage and task the event log
records can be charged to the span that launched it. Spans stay in
memory and are written out when the run ends.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time
from dataclasses import dataclass

GROUP_PREFIX = "pb-span-"


@dataclass
class Span:
    id: int
    name: str
    iteration: int
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; otherwise every call is a no-op, so
    the untraced run executes exactly the workload's own calls.

    With `sc` (a SparkContext), each open span is its thread's Spark
    job group."""

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{span.id}", span.name, False)

    @contextlib.contextmanager
    def span(self, name: str, iteration: int, parent: Span | None = None):
        """Open a span; `parent` overrides the thread's innermost open
        span (a callback thread working for another thread's span)."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        with self._lock:
            s = Span(next(self._ids), name, iteration,
                     parent.id if parent else None, time.time())
            self.spans.append(s)
        outer = stack[-1] if stack else None
        stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            self._set_group(outer)

    def force(self, df):
        """Materialize a lazy frame at a layer boundary (traced runs
        only): the layer's work then lands inside its own span."""
        if not self.enabled:
            return df
        return df.localCheckpoint(eager=True)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ | {"dur": s.dur} for s in self.spans], fh)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it covered by its children
    (the union of their intervals, clipped to the span)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = s.dur - covered
    return out


def median(xs: list[float]) -> float:
    ys = sorted(xs)
    n = len(ys)
    if n == 0:
        return 0.0
    return ys[n // 2] if n % 2 else (ys[n // 2 - 1] + ys[n // 2]) / 2


def tail(xs: list[float], min_beyond: int = 10) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it): the highest percentile
    that still leaves at least `min_beyond` samples above it. When that
    percentile would fall below the median (fewer than 2 * min_beyond + 1
    samples), the maximum (percentile 100, 0 beyond)."""
    ys = sorted(xs)
    n = len(ys)
    if n == 0:
        return 0.0, 100.0, 0
    if n < 2 * min_beyond + 1:
        return ys[-1], 100.0, 0
    i = n - 1 - min_beyond  # exactly min_beyond samples sit above ys[i]
    return ys[i], 100.0 * (i + 1) / n, min_beyond


# ---- Spark event log ------------------------------------------------------

_PY_RUN = "time to run Python workers"  # ms, SQL timing metric
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")

SPARK_KEYS = (
    "jobs", "failed_jobs", "stages", "tasks", "failed_tasks", "task_busy_s",
    "scheduler_wait_s", "python_s", "python_bytes", "shuffle_write_mb",
    "shuffle_read_mb", "spill_mb", "gc_s",
)


def find_event_log(log_dir: str) -> str:
    """The single uncompressed event-log file under log_dir."""
    for root, _dirs, files in os.walk(log_dir):
        for f in sorted(files):
            if not f.startswith(".") and not f.startswith("appstatus"):
                return os.path.join(root, f)
    raise FileNotFoundError(f"no event log under {log_dir}")


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def parse_event_log(path: str) -> dict[int, dict[str, float]]:
    """Span id -> Spark work charged to it through the job group.

    Jobs carry `spark.jobGroup.id`; a stage belongs to the first job
    that lists it, a task to its stage. scheduler_wait_s sums, over
    tasks, launch time minus the stage's submission time: how long
    runnable work waited for a slot."""
    job_span: dict[int, int] = {}
    stage_span: dict[int, int] = {}
    stage_submit: dict[int, float] = {}
    out: dict[int, dict[str, float]] = {}

    def acc(span: int) -> dict[str, float]:
        return out.setdefault(span, dict.fromkeys(SPARK_KEYS, 0.0))

    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                if not group.startswith(GROUP_PREFIX):
                    continue
                span = int(group[len(GROUP_PREFIX):])
                job_span[e["Job ID"]] = span
                acc(span)["jobs"] += 1
                for sid in e.get("Stage IDs", []):
                    stage_span.setdefault(sid, span)
            elif ev == "SparkListenerJobEnd":
                span = job_span.get(e["Job ID"])
                result = (e.get("Job Result") or {}).get("Result")
                if span is not None and result != "JobSucceeded":
                    acc(span)["failed_jobs"] += 1
            elif ev == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                stage_submit[info["Stage ID"]] = _num(info.get("Submission Time"))
                span = stage_span.get(info["Stage ID"])
                if span is not None:
                    acc(span)["stages"] += 1
            elif ev == "SparkListenerTaskEnd":
                span = stage_span.get(e["Stage ID"])
                if span is None:
                    continue
                a = acc(span)
                info = e["Task Info"]
                m = e.get("Task Metrics") or {}
                a["tasks"] += 1
                if info.get("Failed") or info.get("Killed"):
                    a["failed_tasks"] += 1
                launch, finish = _num(info["Launch Time"]), _num(info["Finish Time"])
                a["task_busy_s"] += (finish - launch) / 1e3
                submit = stage_submit.get(e["Stage ID"])
                if submit:
                    a["scheduler_wait_s"] += max(0.0, launch - submit) / 1e3
                a["gc_s"] += _num(m.get("JVM GC Time")) / 1e3
                a["spill_mb"] += _num(m.get("Disk Bytes Spilled")) / 2**20
                sw = m.get("Shuffle Write Metrics") or {}
                a["shuffle_write_mb"] += _num(sw.get("Shuffle Bytes Written")) / 2**20
                sr = m.get("Shuffle Read Metrics") or {}
                a["shuffle_read_mb"] += (
                    _num(sr.get("Local Bytes Read")) + _num(sr.get("Remote Bytes Read"))
                ) / 2**20
                for u in info.get("Accumulables", []):
                    name = u.get("Name")
                    if name == _PY_RUN:
                        a["python_s"] += _num(u.get("Update")) / 1e3
                    elif name in _PY_BYTES:
                        a["python_bytes"] += _num(u.get("Update"))
    return out
