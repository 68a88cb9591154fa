"""Spans for the traced run, Spark job accounting, and stream progress.

A span is recorded from the benchmark's own code around one call into an
engine layer. The layer is the span name's first dotted part
(``index_store.search.exec`` belongs to ``index_store``). While a span is
open its Spark job group is set, so the jobs, stages and tasks it caused
are read back from ``sc.statusTracker()`` afterwards; this works with the
Spark UI off. Spans stay in memory and are written out at exit.

With tracing off ``Tracer.span`` records nothing and touches no Spark
state. The time the tracer spends on its own bookkeeping is summed in
``Tracer.overhead_s``: it is what a traced operation pays on top of the
same untraced operation.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

GROUP_PREFIX = "perfbench-"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    phase: str
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    extra: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def seconds(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
    total, reach = 0.0, float("-inf")
    for start, end in sorted(intervals):
        if end <= reach:
            continue
        total += end - max(start, reach)
        reach = end
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds per layer that its spans spent outside their child spans:
    each span's duration minus the part of it its children cover."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        inner = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in children[s.id]
            if c.end > s.start and c.start < s.end
        ]
        out[s.layer] += s.seconds - covered(inner)
    return dict(out)


def group_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, executed stages, task attempts) of Spark job group ``group``.
    Call after the jobs' events reached the status store."""
    st = sc.statusTracker()
    stage_ids: set[int] = set()
    job_ids = st.getJobIdsForGroup(group)
    for j in job_ids:
        info = st.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = tasks = 0
    for s in stage_ids:
        info = st.getStageInfo(s)
        ran = 0 if info is None else info.numCompletedTasks + info.numFailedTasks
        if ran:
            stages += 1
            tasks += ran
    return len(job_ids), stages, tasks


def scan_rows(jplan) -> int:
    """Sum of the scans' ``numOutputRows`` in an executed physical plan
    (a Py4J handle), looking through adaptive and query-stage wrappers."""
    total, todo = 0, [jplan]
    while todo:
        p = todo.pop()
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(p.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(p.plan())
            continue
        metrics = p.metrics()
        if "Scan" in cls and metrics.contains("numOutputRows"):
            total += metrics.apply("numOutputRows").value()
        kids = p.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return total


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.phase = "setup"
        self.overhead_s = 0.0
        self.sc = None
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._ops = itertools.count(1)

    def attach(self, spark) -> None:
        self.sc = spark.sparkContext

    def new_op(self) -> int:
        return next(self._ops)

    def drain_events(self) -> None:
        """Wait until Spark's listener bus has delivered every event, so
        the status store holds the jobs that just ended."""
        t = time.perf_counter()
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        self.overhead_s += time.perf_counter() - t

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = parent.op
        s = Span(next(self._ids), name, 0.0, 0.0, parent and parent.id, op, self.phase)
        if self.sc is not None:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{s.id}", name)
        self._stack.append(s)
        self.overhead_s += time.perf_counter() - t
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                self.drain_events()
                t = time.perf_counter()
                s.jobs, s.stages, s.tasks = group_counts(self.sc, f"{GROUP_PREFIX}{s.id}")
                if parent is not None:
                    self.sc.setJobGroup(f"{GROUP_PREFIX}{parent.id}", parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.overhead_s += time.perf_counter() - t
            self.spans.append(s)

    def add(self, name: str, start: float, end: float, parent: Span) -> None:
        """Record a span measured elsewhere (a stream micro-batch)."""
        self.spans.append(Span(next(self._ids), name, start, end, parent.id, parent.op, self.phase))

    def dump(self, path: str, meta: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    **meta,
                    "overhead_s": self.overhead_s,
                    "self_s": self_times(self.spans),
                    "spans": [asdict(s) for s in self.spans],
                },
                f,
            )


class StreamProgress:
    """Collects ``StreamingQueryListener`` events: each micro-batch's
    ``durationMs`` by run id, and which runs have terminated."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        owner = self
        self.started: list[str] = []
        self.batches: dict[str, list[dict]] = defaultdict(list)
        self._done: set[str] = set()
        self._cv = threading.Condition()

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with owner._cv:
                    owner.started.append(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                with owner._cv:
                    owner.batches[str(p.runId)].append(
                        {
                            "batch": p.batchId,
                            "rows": p.numInputRows,
                            "timestamp": p.timestamp,
                            "ms": dict(p.durationMs),
                        }
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with owner._cv:
                    owner._done.add(str(event.runId))
                    owner._cv.notify_all()

        self.spark = spark
        self.listener = _Listener()
        spark.streams.addListener(self.listener)

    def mark(self) -> int:
        with self._cv:
            return len(self.started)

    def runs_since(self, mark: int, n: int = 1, timeout: float = 60.0) -> list[str]:
        """The ``n`` run ids started after ``mark()`` returned ``mark``,
        once each has terminated and so delivered its last progress event
        (the listener bus is asynchronous)."""
        deadline = time.monotonic() + timeout
        with self._cv:
            while len(self.started) < mark + n or not all(
                r in self._done for r in self.started[mark : mark + n]
            ):
                left = deadline - time.monotonic()
                if left <= 0:
                    raise TimeoutError("stream runs did not report termination")
                self._cv.wait(left)
            return self.started[mark : mark + n]

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)
