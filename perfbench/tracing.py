"""Tracing for the traced benchmark run.

- ``Tracer`` records in-memory spans (name, start, end, parent) around
  calls into the program. It wraps public layer functions by module
  attribute, where the caller looks them up, so no program file changes.
  A span opened on the main thread also sets a Spark job group
  named after the span, so Spark's event log attributes each job to it.
- ``parse_event_log`` reads Spark's uncompressed JSON event log into job,
  stage and task counters per job group, per streaming micro-batch and
  per time window.
- ``progress_breakdown`` reduces Structured Streaming progress events to
  per-trigger medians of the ``durationMs`` parts.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

from measure import median


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None


class Tracer:
    """Span recorder, recording only while ``active``. With ``sc`` given,
    spans on the main thread also set the Spark job group; spans on other
    threads (streaming callbacks) only record time, because the streaming
    engine owns their job group."""

    def __init__(self, sc=None):
        self.sc = sc
        self.active = False
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[str]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, name: str | None) -> None:
        if self.sc is None or threading.current_thread() is not threading.main_thread():
            return
        if name is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(name, name)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        stack.append(name)
        self._set_group(name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            stack.pop()
            self._set_group(parent)
            with self._lock:
                self.spans.append(Span(name, start, end, parent))

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a wrapper that runs it in a span."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)

    def durations(self, name: str, t0: float = 0.0, t1: float = float("inf")):
        return [s.end - s.start for s in self.spans
                if s.name == name and s.start >= t0 and s.end <= t1]

    def self_times(self, name: str, t0: float = 0.0, t1: float = float("inf")):
        """Each ``name`` span's duration minus the part of it covered by
        its direct children (children of one span never overlap here:
        they run on the same thread)."""
        out = []
        for s in self.spans:
            if s.name != name or s.start < t0 or s.end > t1:
                continue
            covered = sum(
                c.end - c.start for c in self.spans
                if c.parent == name and c.start >= s.start and c.end <= s.end
            )
            out.append(s.end - s.start - covered)
        return out


@dataclass
class Counters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    def add_task(self, m: dict) -> None:
        self.tasks += 1
        self.run_ms += m.get("Executor Run Time", 0)
        self.gc_ms += m.get("JVM GC Time", 0)
        self.shuffle_write_bytes += (
            m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        )
        self.spill_bytes += (
            m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        )


@dataclass
class EventLog:
    by_group: dict[str, Counters] = field(default_factory=lambda: defaultdict(Counters))
    jobs_by_batch: dict[int, int] = field(default_factory=lambda: defaultdict(int))
    # (epoch ms, kind, Counters-compatible payload) for window queries
    _timeline: list[tuple[int, str, dict]] = field(default_factory=list)

    def group(self, *names: str) -> Counters:
        """Counters summed over the named job groups."""
        out = Counters()
        for n in names:
            c = self.by_group.get(n)
            if c is None:
                continue
            for f in ("jobs", "stages", "tasks", "run_ms", "gc_ms",
                      "shuffle_write_bytes", "spill_bytes"):
                setattr(out, f, getattr(out, f) + getattr(c, f))
        return out

    def window(self, t0: float, t1: float) -> Counters:
        """Counters for jobs, stages and tasks started in [t0, t1] (epoch s)."""
        lo, hi = t0 * 1000.0, t1 * 1000.0
        out = Counters()
        for ts, kind, payload in self._timeline:
            if not lo <= ts <= hi:
                continue
            if kind == "job":
                out.jobs += 1
            elif kind == "stage":
                out.stages += 1
            else:
                out.add_task(payload)
        return out


def _event_files(log_dir: str) -> list[str]:
    """Event-log files under ``log_dir``, single-file or rolling layout."""
    out = []
    for root, _dirs, files in os.walk(log_dir):
        out += [os.path.join(root, f) for f in files
                if not f.startswith(("appstatus", "."))]
    return sorted(out)


def parse_event_log(log_dir: str) -> EventLog:
    """Jobs, stages and task metrics per job group (``spark.jobGroup.id``),
    jobs per streaming micro-batch (``streaming.sql.batchId``), and a
    timeline for window queries."""
    log = EventLog()
    stage_group: dict[tuple[int, int], str | None] = {}
    for path in _event_files(log_dir):
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    g = props.get("spark.jobGroup.id")
                    if g is not None:
                        log.by_group[g].jobs += 1
                    b = props.get("streaming.sql.batchId")
                    if b is not None:
                        log.jobs_by_batch[int(b)] += 1
                    log._timeline.append((e["Submission Time"], "job", {}))
                elif kind == "SparkListenerStageSubmitted":
                    info = e["Stage Info"]
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = g
                    if g is not None:
                        log.by_group[g].stages += 1
                    ts = info.get("Submission Time")
                    if ts is not None:
                        log._timeline.append((ts, "stage", {}))
                elif kind == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    g = stage_group.get((e["Stage ID"], e["Stage Attempt ID"]))
                    if g is not None:
                        log.by_group[g].add_task(m)
                    log._timeline.append(
                        (e["Task Info"]["Launch Time"], "task", m)
                    )
    return log


PROGRESS_PARTS = {
    "trigger_ms_p50": "triggerExecution",
    "add_batch_ms_p50": "addBatch",
    "query_planning_ms_p50": "queryPlanning",
    "wal_commit_ms_p50": "walCommit",
    "commit_offsets_ms_p50": "commitOffsets",
    "latest_offset_ms_p50": "latestOffset",
}


def progress_breakdown(progress: list[dict]) -> dict[str, float]:
    """Median of each ``durationMs`` part over the data-bearing triggers."""
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    if not data:
        raise ValueError("no data-bearing trigger in the progress events")
    return {
        key: median([float(p["durationMs"].get(part, 0)) for p in data])
        for key, part in PROGRESS_PARTS.items()
    }
