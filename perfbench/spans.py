"""Spans around the benchmark's calls into the program's layers.

A span records a name, start, end, parent span and run id.  While a span
is open it owns a Spark job group, so every job the call starts is
attributed to it; when it closes, the stages of those jobs are read from
Spark's status store (``lastStageAttempt`` works with the UI disabled)
and summed into the span's counters.  A span's counters cover its own
jobs only, never those of its child spans.

Spans stay in memory and are written out once, when the run ends.  With
tracing off, ``Tracer.span`` records nothing and touches no Spark state.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Iterator, Sequence

COUNTERS = (
    "task_cpu_s",
    "task_run_s",
    "gc_s",
    "shuffle_mb",
    "spill_mb",
    "jobs",
    "stages",
    "exchanges",
    "reused_exchanges",
)


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(start: float, end: float, intervals: Sequence[tuple[float, float]]) -> float:
    """Length of ``[start, end]`` covered by the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: Span, spans: Sequence[Span]) -> float:
    """The span's duration minus the part of it its child spans cover."""
    children = [(c.start, c.end) for c in spans if c.parent == span.span_id]
    return span.duration - covered(span.start, span.end, children)


class Tracer:
    """Records spans when ``enabled``; a no-op otherwise."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self.bookkeeping_s = 0.0  # time the tracer itself spent
        self._stack: list[Span] = []
        self._spark = spark
        self._sc = spark.sparkContext
        self._sql_seen = 0

    @contextmanager
    def span(self, name: str, census: bool = False) -> Iterator[Span | None]:
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.span_id if parent else None, self.run_id, 0.0)
        self.spans.append(sp)
        self._stack.append(sp)
        self._sc.setJobGroup(self._group(sp), name)
        sp.start = time.perf_counter()
        self.bookkeeping_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(self._group(parent), parent.name)
            else:
                self._sc._jsc.clearJobGroup()
            self._collect(sp, census)
            self.bookkeeping_s += time.perf_counter() - sp.end

    def _group(self, sp: Span) -> str:
        return f"{self.run_id}/{sp.span_id}"

    def _collect(self, sp: Span, census: bool) -> None:
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(60_000)
        tracker = self._sc.statusTracker()
        store = jsc.statusStore()
        jobs = list(tracker.getJobIdsForGroup(self._group(sp)))
        c = sp.counters
        c["jobs"] = len(jobs)
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                c["stages"] += 1
                c["task_cpu_s"] += sd.executorCpuTime() / 1e9
                c["task_run_s"] += sd.executorRunTime() / 1e3
                c["gc_s"] += sd.jvmGcTime() / 1e3
                c["shuffle_mb"] += sd.shuffleWriteBytes() / 1e6
                c["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 1e6
        if census:
            self._census(sp, set(jobs))

    def _census(self, sp: Span, jobs: set[int]) -> None:
        """Exchange counts of the final (post-AQE) plans of the SQL
        executions that ran this span's jobs."""
        store = self._spark._jsparkSession.sharedState().statusStore()
        n = store.executionsCount()
        fresh = store.executionsList(self._sql_seen, n - self._sql_seen)
        self._sql_seen = n
        for i in range(fresh.length()):
            ex = fresh.apply(i)
            ids = {int(v) for v in ex.jobs().keySet().mkString(",").split(",") if v}
            if not ids & jobs:
                continue
            nodes = store.planGraph(ex.executionId()).allNodes()
            names = [nodes.apply(k).name() for k in range(nodes.length())]
            sp.counters["exchanges"] += names.count("Exchange")
            sp.counters["reused_exchanges"] += names.count("ReusedExchange")

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(asdict(sp)) + "\n")
