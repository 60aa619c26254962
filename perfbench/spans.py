"""Outside-in spans around the package's public calls.

A workload times every operation through :class:`Tracer`. With tracing
off, only the operation itself is timed and no job group is set, so the
untraced run pays nothing per layer. With tracing on, every layer call
gets a span named ``<module>.<function>`` with a build phase (the public
call that returns a DataFrame, including any jobs it fires eagerly) and
an exec phase (the benchmark's action on the result), plus a Spark job
group so its jobs, tasks and failed tasks can be read back from
``SparkContext.statusTracker()`` at the end of the run.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    phase: str
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    build_s: float = 0.0
    exec_s: float = 0.0
    group: str | None = None
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    self_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Records operation spans always and layer spans when ``enabled``.

    ``phase`` tags job groups so the event-log parser can tell timed
    operations from set-up and warm-up ones.
    """

    sc: object
    enabled: bool = False
    phase: str = "setup"
    spans: list[Span] = field(default_factory=list)
    _op: int | None = None

    def op(self, name: str) -> "_OpScope":
        return _OpScope(self, name)

    def call(self, name: str, build, act=None):
        """Run ``build()`` then ``act(result)`` and return ``act``'s value
        (or the built value when ``act`` is None)."""
        if not self.enabled:
            out = build()
            return act(out) if act is not None else out
        sp = Span(name, time.perf_counter(), self.phase, parent=self._op, op=self._op)
        sp.group = f"{self.phase}|{len(self.spans)}|{name}"
        self.spans.append(sp)
        self.sc.setJobGroup(sp.group, name)
        t = None
        try:
            out = build()
            t = time.perf_counter()
            sp.build_s = t - sp.start
            if act is not None:
                out = act(out)
        finally:
            sp.end = time.perf_counter()
            if t is not None:
                sp.exec_s = sp.end - t
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        return out

    def read_job_counters(self) -> None:
        """Fill jobs/tasks/failed_tasks of every layer span from the status
        tracker. Listener events arrive asynchronously, so poll until the
        totals stop changing."""
        tracker = self.sc.statusTracker()
        layer = [s for s in self.spans if s.group]
        prev = None
        for _ in range(50):
            total = 0
            for s in layer:
                s.jobs = s.tasks = s.failed_tasks = 0
                for jid in tracker.getJobIdsForGroup(s.group):
                    s.jobs += 1
                    info = tracker.getJobInfo(jid)
                    for sid in info.stageIds if info else ():
                        st = tracker.getStageInfo(sid)
                        if st is not None:
                            s.tasks += st.numCompletedTasks
                            s.failed_tasks += st.numFailedTasks
                total += s.jobs + s.tasks
            if total == prev and not tracker.getActiveJobsIds():
                return
            prev = total
            time.sleep(0.2)

    def finish(self) -> None:
        """Compute self time: a span's duration minus the union of the
        intervals its child spans cover."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        for i, s in enumerate(self.spans):
            covered, edge = 0.0, s.start
            for c in sorted(kids.get(i, ()), key=lambda c: c.start):
                lo, hi = max(c.start, edge), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            s.self_s = s.dur - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({"id": i, **asdict(s)}) + "\n")


class _OpScope:
    """One timed operation: the root span its layer spans hang under."""

    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name
        self.span: Span | None = None

    def __enter__(self) -> "_OpScope":
        tr = self.tracer
        self.span = Span(self.name, time.perf_counter(), tr.phase)
        tr.spans.append(self.span)
        tr._op = len(tr.spans) - 1
        self.span.op = tr._op
        return self

    def __exit__(self, *exc) -> None:
        self.span.end = time.perf_counter()
        self.tracer._op = None

    @property
    def seconds(self) -> float:
        return self.span.dur


def _event_lines(path: str):
    """Lines of an event log: one file, or a rolling log directory of
    ``events_<n>_*`` files read in order."""
    files = [path]
    if os.path.isdir(path):
        parts = [f for f in os.listdir(path) if f.startswith("events_")]
        parts.sort(key=lambda f: int(f.split("_")[1]))
        files = [os.path.join(path, f) for f in parts]
    for f in files:
        with open(f) as fh:
            yield from fh


def event_log_totals(path: str, group_prefix: str) -> dict[str, float]:
    """Shuffle-write and spill bytes of every task whose job ran in a job
    group starting with ``group_prefix``, from an uncompressed Spark
    event log. Standard library only."""
    stage_group: dict[int, str] = {}
    out = {"shuffle_write_bytes": 0.0, "spill_bytes": 0.0, "tasks": 0.0}
    for line in _event_lines(path):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            for sid in ev.get("Stage IDs", ()):
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            if not stage_group.get(ev.get("Stage ID"), "").startswith(group_prefix):
                continue
            m = ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            out["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            out["tasks"] += 1
    return out
