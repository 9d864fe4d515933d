"""Layer probe for the traced run: spans, Spark job counters, Catalyst
phases and streaming progress, all read from outside the engine.

- Spans are kept in memory (``Tracer``) and written out at the end. A span
  has a name, a kind (the layer), start and end (epoch seconds) and a
  parent id.
- Job, stage and task counts come from the public
  ``SparkContext.statusTracker()``, per job group. Executor run, CPU and
  GC time, shuffle and spill come from the application status store
  (``lastStageAttempt``), which is populated with ``spark.ui.enabled=false``.
- Catalyst phase times come from ``queryExecution().tracker()`` after the
  probe itself forces planning with ``executedPlan()``: a noop write plans
  under its own QueryExecution, whose tracker shows only ``analysis``.
- Micro-batch progress comes from a ``StreamingQueryListener``. Streaming
  jobs run under the query's run id as job group, so each run id is
  mapped to the job group that was current when the query started.
"""

from __future__ import annotations

import datetime
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

#: span kinds, one per layer boundary the benchmark times
KINDS = ("workload", "setup", "op", "construct", "plan", "execute", "batch")


@dataclass
class Span:
    id: int
    name: str
    kind: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans with a per-thread parent stack."""

    def __init__(self):
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> Span | None:
        stack = self._stack()
        return stack[-1] if stack else None

    def add(self, name, kind, start, end, parent=None, **attrs) -> Span:
        with self._lock:
            s = Span(len(self.spans), name, kind, start, end, parent, attrs)
            self.spans.append(s)
        return s

    def span(self, name: str, kind: str, parent: Span | None = None, **attrs):
        return _SpanCtx(self, name, kind, parent, attrs)

    def self_times(self) -> dict[str, float]:
        """Wall seconds during which some span of each kind was running
        but none of its children: the union, per kind, of every span's
        interval minus its children's intervals."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        own: dict[str, list[tuple[float, float]]] = {k: [] for k in KINDS}
        for s in self.spans:
            covered = _merge((max(c.start, s.start), min(c.end, s.end))
                             for c in children.get(s.id, ()))
            at = s.start
            for a, b in covered:
                own[s.kind].append((at, a))
                at = b
            own[s.kind].append((at, s.end))
        return {k: sum(b - a for a, b in _merge(v)) for k, v in own.items()}

    def to_json(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "kind": s.kind, "start": s.start,
             "end": s.end, "parent": s.parent, **s.attrs}
            for s in self.spans
        ]


class _SpanCtx:
    def __init__(self, tracer, name, kind, parent, attrs):
        self.t, self.name, self.kind, self.parent, self.attrs = (
            tracer, name, kind, parent, attrs)

    def __enter__(self) -> Span:
        parent = self.parent or self.t.current()
        self.s = self.t.add(self.name, self.kind, time.time(), 0.0,
                            parent.id if parent else None, **self.attrs)
        self.t._stack().append(self.s)
        return self.s

    def __exit__(self, *exc):
        self.s.end = time.time()
        self.t._stack().pop()
        return False


def _merge(intervals) -> list[tuple[float, float]]:
    """Sorted, disjoint union of the non-empty intervals."""
    out: list[list[float]] = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def catalyst_phases(df) -> dict[str, float]:
    """Force planning of ``df`` and return its Catalyst phase times (ms)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_records: int = 0
    spill_bytes: int = 0
    #: (submission, completion) epoch seconds per job
    intervals: list = field(default_factory=list)

    def add(self, o: "GroupStats") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(o, k))


class JobProbe:
    """Per-job-group Spark counters, read after the listener bus drains."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self.bus = self.sc._jsc.sc().listenerBus()

    def drain(self) -> None:
        """Wait until the status listeners have seen every posted event."""
        self.bus.waitUntilEmpty()

    def group(self, group_id: str) -> GroupStats:
        g = GroupStats()
        for job_id in self.tracker.getJobIdsForGroup(group_id):
            info = self.tracker.getJobInfo(job_id)
            if info is None:
                continue
            g.jobs += 1
            job = self.store.job(job_id)
            sub, end = job.submissionTime(), job.completionTime()
            if sub.isDefined() and end.isDefined():
                g.intervals.append((sub.get().getTime() / 1e3,
                                    end.get().getTime() / 1e3))
            for stage_id in info.stageIds:
                st = self.tracker.getStageInfo(stage_id)
                if st is None or st.numCompletedTasks == 0:
                    continue  # skipped: its shuffle output was reused
                g.stages += 1
                g.tasks += st.numCompletedTasks
                sd = self.store.lastStageAttempt(stage_id)
                g.executor_run_s += sd.executorRunTime() / 1e3
                g.executor_cpu_s += sd.executorCpuTime() / 1e9
                g.gc_s += sd.jvmGcTime() / 1e3
                g.shuffle_write_bytes += sd.shuffleWriteBytes()
                g.shuffle_records += sd.shuffleWriteRecords()
                g.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return g


class StreamProgress(StreamingQueryListener):
    """Per-micro-batch progress plus the run id -> job group mapping.

    ``current_group()`` is called when a query starts: the job group the
    workload is running then owns that query's micro-batch jobs."""

    def __init__(self, current_group):
        self.current_group = current_group
        self.run_group: dict[str, str] = {}
        self.batches: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        with self._lock:
            self.run_group[str(event.runId)] = self.current_group()

    def onQueryProgress(self, event):
        p = event.progress
        with self._lock:
            self.batches.append({
                "run_id": str(p.runId),
                "batch_id": p.batchId,
                "end": _iso_epoch(p.timestamp) + p.batchDuration / 1e3,
                "duration_ms": float(p.batchDuration),
                "input_rows": int(p.numInputRows),
            })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _iso_epoch(ts: str) -> float:
    """Progress timestamps are ISO-8601 UTC strings ('...Z')."""
    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()
