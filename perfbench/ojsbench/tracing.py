"""Spans around the benchmark's calls into the engine.

A span has a name (`<layer>.<call>`), start and end, the span that caused
it and a request id. Every span is timed in both modes, because the
benchmark's own timings are span durations. With tracing on, spans are
also kept in memory (written out when the run ends), and a span opened
with `spark=True` puts its Spark jobs in their own job group and counts
the jobs, stages and tasks they ran through `statusTracker()`. The
tracer's own bookkeeping time is summed as the tracing overhead.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager


class Span:
    __slots__ = ("id", "name", "parent", "request", "start", "end", "counts")

    def __init__(self, sid, name, parent, request):
        self.id = sid
        self.name = name
        self.parent = parent
        self.request = request
        self.start = 0.0
        self.end = 0.0
        self.counts: dict[str, float] = {}

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    def as_dict(self) -> dict:
        return {
            "id": self.id, "name": self.name, "parent": self.parent,
            "request": self.request, "start": self.start, "end": self.end,
            **({"counts": self.counts} if self.counts else {}),
        }


class Tracer:
    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._stack: list[Span] = []
        self._next = 0

    @contextmanager
    def span(self, name: str, request=None, spark: bool = False):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = parent.request
        sp = Span(self._next, name, parent.id if parent else None, request)
        self._next += 1
        count = self.enabled and spark and self.spark is not None
        if count:
            self.spark.sparkContext.setJobGroup(f"perfbench-{sp.id}", name)
        self._stack.append(sp)
        if self.enabled:
            self.overhead_s += time.perf_counter() - t0
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                t1 = time.perf_counter()
                if count:
                    sp.counts.update(self._spark_counts(f"perfbench-{sp.id}"))
                self.spans.append(sp)
                self.overhead_s += time.perf_counter() - t1

    def _spark_counts(self, group: str) -> dict[str, int]:
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", None)
        # Job/stage state reaches the status store through the listener
        # bus; drain it so the counts are complete.
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        jobs = stages = tasks = 0
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        return {"spark_jobs": jobs, "spark_stages": stages,
                "spark_tasks": tasks}

    def note(self, sp: Span, **counts) -> None:
        """Attach counts measured at a span's boundary (traced runs only)."""
        if self.enabled:
            sp.counts.update(counts)

    # --- analysis -------------------------------------------------------

    def self_seconds(self) -> dict[int, float]:
        """Span duration minus the part of it its child spans cover."""
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        out = {}
        for sp in self.spans:
            covered, edge = 0.0, sp.start
            for c in sorted(children.get(sp.id, []), key=lambda s: s.start):
                lo, hi = max(c.start, edge), min(c.end, sp.end)
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            out[sp.id] = sp.seconds - covered
        return out

    def aggregate(self, skip_request=None) -> "Aggregate":
        """Per-name and per-layer medians over the kept spans, leaving out
        the descendants of spans tagged with request `skip_request`."""
        by_id = {sp.id: sp for sp in self.spans}

        def kept(sp: Span) -> bool:
            parent = by_id.get(sp.parent)
            return (skip_request is None or sp.request != skip_request
                    or parent is None or parent.request != sp.request)

        return Aggregate([sp for sp in self.spans if kept(sp)],
                         self.self_seconds())

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([sp.as_dict() for sp in self.spans], f)


class Aggregate:
    def __init__(self, spans: list[Span], selfs: dict[int, float]):
        self.spans = spans
        self.selfs = selfs

    def median_of(self, name: str, key: str | None = None) -> float:
        """Median duration (or count `key`) over the spans called `name`."""
        vals = [sp.seconds if key is None else sp.counts.get(key, 0)
                for sp in self.spans if sp.name == name]
        return float(statistics.median(vals)) if vals else 0.0

    def layer_self_seconds(self) -> dict[str, float]:
        """Per layer: median self time of its spans."""
        by_layer: dict[str, list[float]] = {}
        for sp in self.spans:
            by_layer.setdefault(sp.layer, []).append(self.selfs[sp.id])
        return {k: float(statistics.median(v)) for k, v in by_layer.items()}
