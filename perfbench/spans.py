"""Spans recorded from outside the program, and the Spark event log read back.

The traced run installs wrappers around the public functions of each layer
(``Tracer.wrap``). A wrapper records a span — name, start, end and parent — in
memory, and while the span is open it tags every Spark job it launches through
the ``perfbench.span`` local property. After the session stops, ``EventLog``
reads Spark's event log and ``attribute`` charges each job's tasks to the span
that launched it.
"""

from __future__ import annotations

import functools
import json
import time
from dataclasses import asdict, dataclass

SPAN_PROPERTY = "perfbench.span"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Recording is off until ``enabled`` is set, and
    can be switched off again without unwrapping, so traced and untraced
    operations can alternate in one run."""

    def __init__(self, spark_context):
        self.sc = spark_context
        self.spans: list[Span] = []
        self.enabled = False
        self._stack: list[Span] = []

    def begin(self, name: str) -> Span | None:
        if not self.enabled:
            return None
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.perf_counter(),
                 parent=parent.id if parent else None)
        self.spans.append(s)
        self._stack.append(s)
        self._tag(str(s.id))
        return s

    def end(self, s: Span | None) -> None:
        if s is None:
            return
        s.end = time.perf_counter()
        self._stack.pop()
        self._tag(str(self._stack[-1].id) if self._stack else None)

    def _tag(self, value: str | None) -> None:
        self.sc.setLocalProperty(SPAN_PROPERTY, value)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span ``name``."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            s = tracer.begin(name)
            try:
                return orig(*args, **kwargs)
            finally:
                tracer.end(s)

        setattr(owner, attr, wrapper)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


# ------------------------------------------------------------------ span math

def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of closed intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the union of its children's intervals
    (clipped to the span), so overlapping children are not counted twice."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        clipped = [(max(lo, s.start), min(hi, s.end))
                   for lo, hi in kids.get(s.id, []) if hi > s.start and lo < s.end]
        out[s.id] = s.duration - union_length(clipped)
    return out


def coverage(spans: list[Span], window: tuple[float, float]) -> float:
    """Share of ``window`` covered by top-level spans."""
    lo, hi = window
    top = [(max(s.start, lo), min(s.end, hi)) for s in spans
           if s.parent is None and s.end > lo and s.start < hi]
    return union_length(top) / (hi - lo) if hi > lo else 0.0


# ------------------------------------------------------------------ event log

@dataclass
class JobStats:
    span: int | None
    execution: int | None
    tasks_failed: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    gc_ms: int = 0
    output_bytes: int = 0
    jobs: int = 1


class EventLog:
    """The parts of one application's Spark event log the benchmark uses:
    jobs with their span tag, task metrics per job, and the bytes each SQL
    execution planned to read from files under a given path."""

    def __init__(self, lines):
        self.jobs: dict[int, JobStats] = {}
        stage_job: dict[int, int] = {}
        self._plans: dict[int, list[dict]] = {}
        self._driver_accums: dict[int, dict[int, int]] = {}
        for line in lines:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                tag = props.get(SPAN_PROPERTY)
                exe = props.get("spark.sql.execution.id")
                self.jobs[ev["Job ID"]] = JobStats(int(tag) if tag not in (None, "") else None,
                                                   int(exe) if exe not in (None, "") else None)
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev.get("Stage ID"))
                if jid is None:
                    continue
                job = self.jobs[jid]
                info = ev.get("Task Info") or {}
                if info.get("Failed") or info.get("Killed"):
                    job.tasks_failed += 1
                m = ev.get("Task Metrics") or {}
                job.gc_ms += m.get("JVM GC Time", 0)
                job.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                job.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                job.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"):
                self._plans.setdefault(ev["executionId"], []).append(ev.get("sparkPlanInfo") or {})
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                acc = self._driver_accums.setdefault(ev["executionId"], {})
                for aid, val in ev.get("accumUpdates", []):
                    acc[aid] = acc.get(aid, 0) + val

    @classmethod
    def read(cls, path: str) -> "EventLog":
        with open(path) as fh:
            return cls(fh)

    def planned_scan_bytes(self, path_fragment: str) -> dict[int, int]:
        """Per SQL execution: bytes of the files its parquet scans over
        ``path_fragment`` planned to read (the scan node's driver-side "size of
        files read" metric, i.e. after file pruning, before row-group skipping)."""
        out = {}
        for exe, plans in self._plans.items():
            ids = set()
            for plan in plans:
                for node in _walk(plan):
                    where = (node.get("metadata") or {}).get("Location", "") + node.get("simpleString", "")
                    if node.get("nodeName", "").startswith("Scan") and path_fragment in where:
                        ids.update(m["accumulatorId"] for m in node.get("metrics", [])
                                   if m.get("name") == "size of files read")
            acc = self._driver_accums.get(exe, {})
            total = sum(acc.get(i, 0) for i in ids)
            if ids:
                out[exe] = total
        return out


def _walk(plan: dict):
    yield plan
    for child in plan.get("children", []):
        yield from _walk(child)


def attribute(log: EventLog, spans: list[Span]) -> dict[int, JobStats]:
    """Per span: the summed stats of the jobs tagged with it (its own jobs,
    not its children's)."""
    out: dict[int, JobStats] = {}
    known = {s.id for s in spans}
    for job in log.jobs.values():
        if job.span is None or job.span not in known:
            continue
        acc = out.setdefault(job.span, JobStats(job.span, None, jobs=0))
        acc.jobs += 1
        acc.tasks_failed += job.tasks_failed
        acc.shuffle_write_bytes += job.shuffle_write_bytes
        acc.spill_bytes += job.spill_bytes
        acc.gc_ms += job.gc_ms
        acc.output_bytes += job.output_bytes
    return out


def descendants(spans: list[Span]) -> dict[int, list[int]]:
    """span id -> ids of the span and every span nested under it."""
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.id)
    out = {}
    for s in spans:
        todo, seen = [s.id], []
        while todo:
            i = todo.pop()
            seen.append(i)
            todo.extend(kids.get(i, []))
        out[s.id] = seen
    return out
