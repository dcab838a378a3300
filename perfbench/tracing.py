"""Spans around the engine's public entry points, and the Spark event-log
parser that turns a traced run into job, stage and task totals.

Spans are recorded from the benchmark's own files: :meth:`Tracer.wrap`
replaces a public function or method with a timing wrapper for the length
of the run and :meth:`Tracer.restore` puts the original back. Nothing in
the engine changes. Times are wall-clock epoch seconds, the clock Spark's
event log uses, so job spans and Python spans can be compared directly.

This module imports nothing from Spark, so its arithmetic is unit-tested on
its own.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    phase: str
    group: str | None = None  # Spark job group active for this span

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing and sets no
    job groups, so untraced runs pay only a context-manager call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.phase = "setup"
        self._stack: list[tuple[int, str | None]] = []
        self._next_id = 0
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, group: str | None = None, sc=None):
        """Record one span; with ``group`` and a SparkContext, tag every Spark
        job started inside it with that job group."""
        if not self.enabled:
            yield
            return
        sid = self._next_id
        self._next_id += 1
        parent = self._stack[-1][0] if self._stack else None
        inherited = self._stack[-1][1] if self._stack else None
        if group is not None and sc is not None:
            sc.setJobGroup(group, name)
        self._stack.append((sid, group or inherited))
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            if group is not None and sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", inherited)
            self.spans.append(
                Span(sid, name, start, end, parent, self.phase, group or inherited)
            )

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a module function or a class method) with a
        wrapper that records a span named ``name`` around each call."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, original))

    def wrap_everywhere(self, fn, name: str, package: str = "datalakejson_spark") -> None:
        """Wrap ``fn`` under every module of ``package`` that bound it by
        ``from module import fn``, so calls from inside the engine are seen."""
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == package or mod_name.startswith(package + ".")):
                continue
            for attr, value in list(vars(mod).items()):
                if value is fn:
                    self.wrap(mod, attr, name)

    def restore(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    def dump(self, path: Path) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


# --------------------------------------------------------------------------
# Interval arithmetic
# --------------------------------------------------------------------------
def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of ``(start, end)`` intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clip(intervals: list[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of it its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return {
        s.id: s.duration - union_length(clip(children[s.id], s.start, s.end))
        for s in spans
    }


def driver_gap(span: Span, job_intervals: list[tuple[float, float]]) -> float:
    """Wall time of ``span`` during which none of its Spark jobs ran."""
    return span.duration - union_length(clip(job_intervals, span.start, span.end))


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------
@dataclass
class EventLog:
    """Per-job-group totals from one application's event log."""

    jobs: dict[int, dict] = field(default_factory=dict)  # id -> group/start/end
    stages: Counter = field(default_factory=Counter)  # group -> completed stages
    tasks: dict[str | None, Counter] = field(default_factory=lambda: defaultdict(Counter))

    def job_intervals(self, group: str) -> list[tuple[float, float]]:
        return [
            (j["start"], j["end"])
            for j in self.jobs.values()
            if j["group"] == group and j["end"] is not None
        ]


def parse_event_log(lines) -> EventLog:
    """Fold Spark listener events (one JSON object per line) into per-group
    job spans, completed-stage counts and task-metric totals. A stage or task
    belongs to the group of the first job that listed its stage."""
    log = EventLog()
    stage_group: dict[int, str | None] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            log.jobs[ev["Job ID"]] = {
                "group": group,
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
            }
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            log.stages[stage_group.get(ev["Stage Info"]["Stage ID"])] += 1
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            read = m.get("Shuffle Read Metrics") or {}
            write = m.get("Shuffle Write Metrics") or {}
            c = log.tasks[stage_group.get(ev["Stage ID"])]
            c["tasks"] += 1
            c["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["task_gc_s"] += m.get("JVM GC Time", 0) / 1e3
            c["shuffle_fetch_wait_s"] += read.get("Fetch Wait Time", 0) / 1e3
            c["shuffle_bytes"] += write.get("Shuffle Bytes Written", 0)
            c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            c["scan_rows"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
    return log


def event_log_files(log_dir: Path, app_id: str) -> list[Path]:
    """The event-log file(s) of one application: a single file, or the
    ``events_<n>_*`` parts of a rolling ``eventlog_v2_*`` directory in order."""
    hits = [p for p in log_dir.iterdir() if app_id in p.name]
    if not hits:
        raise FileNotFoundError(f"no event log for {app_id} under {log_dir}")
    (hit,) = hits
    if hit.is_file():
        return [hit]
    parts = [p for p in hit.iterdir() if p.name.startswith("events_")]
    return sorted(parts, key=lambda p: int(p.name.split("_")[1]))


def read_event_log(log_dir: Path, app_id: str) -> EventLog:
    def lines():
        for path in event_log_files(log_dir, app_id):
            with open(path) as f:
                yield from f

    return parse_event_log(lines())
