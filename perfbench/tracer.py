"""Span tracer for the traced benchmark run.

Spans are opened in the benchmark's own files around calls into the
engine's layers, or by wrapping a named function of an engine module
for the length of the run. Each span runs its Spark jobs under its
own job group, so the Spark event log ties every job, and through it
every task, to exactly one span. Spans stay in memory and are written
out when the run ends.

Per span the tracer derives:

- self time: the span's interval minus the part its child spans cover;
- driver time: self time during which none of the span's own jobs ran
  (planning, Python and py4j);
- jobs, tasks, task CPU, GC, shuffle write, spill and failed tasks
  from the event log.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from collections import defaultdict
from dataclasses import dataclass
from pathlib import Path

GROUP_PREFIX = "perfbench-span-"

# Per-span counters read from the event log, in output order.
TASK_FIELDS = ("jobs", "tasks", "task_cpu_s", "gc_s", "shuffle_write_mb", "spill_mb", "failed_tasks")


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    attrs: dict
    start: float
    end: float = 0.0
    pass_no: int = 0


@dataclass
class JobStats:
    group: str | None
    start: float
    end: float | None = None
    tasks: int = 0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    failed_tasks: int = 0


class Tracer:
    """Collects spans; a disabled tracer opens none."""

    def __init__(self, spark=None, enabled: bool = False):
        self._sc = spark.sparkContext if spark is not None else None
        self.enabled = enabled
        self.spans: list[Span] = []
        self.pass_no = 0
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        # Parent of spans opened by threads with no span of their own
        # (the client threads of a pass).
        self.root: Span | None = None

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: Span | None) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty("spark.jobGroup.id", f"{GROUP_PREFIX}{span.id}" if span else None)

    @contextlib.contextmanager
    def span(self, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else self.root
        s = Span(next(self._ids), parent.id if parent else None, layer, attrs, time.time(), pass_no=self.pass_no)
        stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            self._set_group(parent)
            with self._lock:
                self.spans.append(s)

    @contextlib.contextmanager
    def pass_span(self, pass_no: int):
        """The root span of one pass, shared by every thread in it."""
        self.pass_no = pass_no
        with self.span("bench", **{"pass": pass_no}) as s:
            self.root = s
            try:
                yield s
            finally:
                self.root = None

    def wrap(self, module, attr: str, layer: str) -> None:
        """Replace ``module.attr`` by a traced version until ``unwrap``."""
        original = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(layer, fn=attr):
                return original(*args, **kwargs)

        traced.__wrapped__ = original
        setattr(module, attr, traced)
        self._patches.append((module, attr, original))

    def unwrap(self) -> None:
        while self._patches:
            module, attr, original = self._patches.pop()
            setattr(module, attr, original)

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


# --- interval arithmetic -----------------------------------------------------


def union(intervals) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def subtract(base, remove) -> list[tuple[float, float]]:
    """Parts of the ``base`` intervals not covered by ``remove``."""
    cuts = union(remove)
    out = []
    for a, b in union(base):
        cur = a
        for c, d in cuts:
            if d <= cur or c >= b:
                continue
            if c > cur:
                out.append((cur, c))
            cur = max(cur, d)
            if cur >= b:
                break
        if cur < b:
            out.append((cur, b))
    return out


def length(intervals) -> float:
    return sum(b - a for a, b in intervals)


def self_intervals(spans: list[Span]) -> dict[int, list[tuple[float, float]]]:
    """Each span's interval minus its children's intervals."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return {s.id: subtract([(s.start, s.end)], children[s.id]) for s in spans}


# --- event log -------------------------------------------------------------------


def parse_event_log(path: Path) -> dict[int, JobStats]:
    """Jobs of a Spark event log (uncompressed, not rolled) with their
    job group, interval in epoch seconds and task metrics."""
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = JobStats(props.get("spark.jobGroup.id"), ev["Submission Time"] / 1000)
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                job = jobs.get(ev["Job ID"])
                if job is not None:
                    job.end = ev["Completion Time"] / 1000
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
                if job is None:
                    continue
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                job.tasks += 1
                job.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                job.gc_s += m.get("JVM GC Time", 0) / 1000
                job.shuffle_write_mb += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6
                job.spill_mb += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 1e6
                reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
                job.failed_tasks += int(bool(info.get("Failed")) or reason != "Success")
    return jobs


def span_stats(spans: list[Span], jobs: dict[int, JobStats]) -> dict[int, dict]:
    """Self time, driver time and task counters for every span."""
    own: dict[int, list[JobStats]] = defaultdict(list)
    for job in jobs.values():
        if job.group and job.group.startswith(GROUP_PREFIX):
            own[int(job.group[len(GROUP_PREFIX) :])].append(job)
    selfs = self_intervals(spans)
    out = {}
    for s in spans:
        mine = own.get(s.id, [])
        busy = [(j.start, j.end if j.end is not None else s.end) for j in mine]
        st = {
            "wall_s": length(selfs[s.id]),
            "driver_s": length(subtract(selfs[s.id], busy)),
            "jobs": len(mine),
        }
        for f in TASK_FIELDS[1:]:
            st[f] = sum(getattr(j, f) for j in mine)
        out[s.id] = st
    return out
