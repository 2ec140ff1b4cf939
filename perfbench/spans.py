"""Spans around calls into the program, and the Spark counters of each span.

A span records name, start, end, parent, the run id and the CPU time all
processes of the run used meanwhile.  Spans live in
memory and are written out when the run ends.  The benchmark is a closed
loop with one caller, so at most one span is open per nesting level; the
stream's ``foreachBatch`` callback runs on another Python thread while the
main thread waits inside ``run_available``, and its spans nest under that
call through the shared stack.

With counters on (a traced run), every span tags the Spark jobs it starts
with its own job group (``SparkContext.setJobGroup``; inside ``foreachBatch`` the call lands
on the stream's JVM thread, whose own group is restored afterwards).  When
the run ends, ``attach_counters`` reads the application status store, which
Spark keeps even with the UI disabled, and adds per span: jobs, stages,
input/shuffle/spill bytes, GC and task seconds, and the task-time skew
(max / median executor run time) of its heaviest stage.  The tagging is the
only work a traced run adds inside the measured window; each span records
the seconds it took (``tag_s``).
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

COUNTER_KEYS = (
    "jobs",
    "stages",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "gc_s",
    "task_s",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    cpu_start: float = 0.0
    cpu_end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def cpu(self) -> float:
        return self.cpu_end - self.cpu_start


class Tracer:
    def __init__(self, spark, run_id: str, cpu_clock, counters: bool):
        """``cpu_clock()``: CPU seconds used so far by every process of the
        run; each span records it at start and end.  ``counters``: tag each
        span's Spark jobs, for ``attach_counters``."""
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.cpu_clock = cpu_clock
        self.counters = counters
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _group(self, span: Span) -> str:
        return f"{self.run_id}:{span.id}"

    @contextmanager
    def span(self, name: str, **attrs):
        """Time the block as a span; with counters on, also put the Spark
        jobs it starts into the span's own job group."""
        s = Span(len(self.spans), name, self._stack[-1].id if self._stack else None, 0.0, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        saved = None
        if self.counters:
            t0 = time.monotonic()
            saved = [self.sc.getLocalProperty(p) for p in _GROUP_PROPS]
            self.sc.setJobGroup(self._group(s), name)
            s.attrs["tag_s"] = time.monotonic() - t0
        s.cpu_start = self.cpu_clock()
        s.start = time.monotonic()
        try:
            yield s
        finally:
            s.end = time.monotonic()
            s.cpu_end = self.cpu_clock()
            self._stack.pop()
            if saved is not None:
                t0 = time.monotonic()
                for p, v in zip(_GROUP_PROPS, saved):
                    self.sc.setLocalProperty(p, v)
                s.attrs["tag_s"] += time.monotonic() - t0

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """Duration minus the time its (sequential) child spans cover."""
        return span.dur - sum(c.dur for c in self.children(span))

    # ------------------------------------------------------------ counters
    def attach_counters(self) -> None:
        """Fill ``attrs`` of every span with its own jobs' Spark counters,
        then roll descendants' counters up into ``attrs['incl']``."""
        store = self.sc._jsc.sc().statusStore()
        by_group: dict[str, list[int]] = {}
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            g = j.jobGroup()
            if not g.isDefined():
                continue
            ids = j.stageIds()
            by_group.setdefault(g.get(), []).extend(ids.apply(k) for k in range(ids.size()))
            by_group.setdefault(g.get() + "#jobs", []).append(j.jobId())
        for s in self.spans:
            stage_ids = sorted(set(by_group.get(self._group(s), [])))
            c = dict.fromkeys(COUNTER_KEYS, 0)
            c["jobs"] = len(by_group.get(self._group(s) + "#jobs", []))
            heaviest = None
            for sid in stage_ids:
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                c["stages"] += 1
                c["input_bytes"] += st.inputBytes()
                c["shuffle_read_bytes"] += st.shuffleReadBytes()
                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["spill_bytes"] += st.diskBytesSpilled()
                c["gc_s"] += st.jvmGcTime() / 1000.0
                c["task_s"] += st.executorRunTime() / 1000.0
                if heaviest is None or st.executorRunTime() > heaviest.executorRunTime():
                    heaviest = st
            c["task_skew"] = _task_skew(store, heaviest) if heaviest is not None else 1.0
            s.attrs["counters"] = c
        for s in reversed(self.spans):  # children were appended after parents
            incl = dict(s.attrs["counters"])
            for ch in self.children(s):
                for k in COUNTER_KEYS:
                    incl[k] += ch.attrs["incl"][k]
            s.attrs["incl"] = incl

    def dump(self) -> list[dict]:
        return [
            {
                "id": s.id,
                "name": s.name,
                "parent": s.parent,
                "run_id": self.run_id,
                "start": s.start,
                "end": s.end,
                "cpu_s": s.cpu,
                "self_s": self.self_time(s),
                **s.attrs,
            }
            for s in self.spans
        ]


def _task_skew(store, stage) -> float:
    tasks = store.taskList(stage.stageId(), stage.attemptId(), 100_000)
    times = []
    for i in range(tasks.size()):
        m = tasks.apply(i).taskMetrics()
        if m.isDefined():
            times.append(m.get().executorRunTime())
    med = statistics.median(times) if times else 0
    return max(times) / med if med > 0 else 1.0
