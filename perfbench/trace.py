"""Spans recorded around calls into the engine, and the Spark counters of
each span's job group.

A span records its name, start, end, parent span and trace id (shared by
all spans of one pipeline run, question or operator pass). Spans stay in
memory; ``write`` dumps them when the run ends. Each span owns a Spark job
group, so after the run the scheduler's status store says which jobs,
stages and tasks ran inside it and what they cost. Nothing here changes the
engine: job groups are set on the calling thread and read back through
``SparkContext.statusTracker`` and the driver's ``AppStatusStore``.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    trace: int
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. With a SparkContext, every span sets its own
    job group for the duration of the span and restores the parent's after."""

    def __init__(self, sc=None, clock=time.monotonic):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = sc
        self._clock = clock

    @staticmethod
    def group(span_id: int) -> str:
        return f"perfbench-{span_id}"

    @contextmanager
    def span(self, name: str, new_trace: bool = False, **attrs):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        trace = sid if (parent is None or new_trace) else parent.trace
        s = Span(sid, name, self._clock(), parent.id if parent else None, trace,
                 attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(sid)
        try:
            yield s
        finally:
            s.end = self._clock()
            self._stack.pop()
            self._set_group(self._stack[-1].id if self._stack else None)

    def _set_group(self, span_id: int | None) -> None:
        if self._sc is None:
            return
        if span_id is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(self.group(span_id), self.spans[span_id].name)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_seconds(self, span: Span) -> float:
        return self_time(span, self.children(span))

    def named(self, *names: str) -> list[Span]:
        return [s for s in self.spans if s.name in names]

    def write(self, path: str, counters: dict | None = None) -> None:
        """One JSON line per span, with its job group's Spark counters."""
        with open(path, "w") as f:
            for s in self.spans:
                row = asdict(s)
                if counters is not None:
                    row["spark"] = counters.get(self.group(s.id))
                f.write(json.dumps(row) + "\n")


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover (the
    union of their intervals clipped to the span, so overlapping children
    are not subtracted twice)."""
    covered = 0.0
    cur_start = cur_end = None
    for c in sorted(children, key=lambda c: c.start):
        a, b = max(c.start, span.start), min(c.end, span.end)
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        covered += cur_end - cur_start
    return span.seconds - covered


# -- Spark counters ------------------------------------------------------------

COUNTERS = (
    "jobs", "stages", "stages_skipped", "tasks", "task_failures",
    "run_s", "cpu_s", "gc_s", "shuffle_mb", "spill_mb",
)


def zero_counters() -> dict:
    return {k: 0 for k in COUNTERS}


def add_counters(a: dict, b: dict) -> dict:
    return {k: a[k] + b[k] for k in COUNTERS}


class SparkCounters:
    """Per-job-group scheduler counters, read after the work is done.

    Reads the live status store (``spark.ui.enabled=false`` keeps it: the
    store is fed by the listener bus, not by the UI). A stage shared by
    several jobs is charged once, to the first job that ran it."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._jvm = spark._jvm

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self._jsc.listenerBus().waitUntilEmpty(60_000)

    def _stages(self) -> dict:
        """{stage id: counters summed over its attempts}; a stage counts as
        skipped when no attempt of it ran."""
        jvm = self._jvm
        seq = self._jsc.statusStore().stageList(
            jvm.java.util.ArrayList(), False, False,
            self._sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        out = {}
        for st in jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq):
            d = out.setdefault(st.stageId(), dict(zero_counters(), skipped=True))
            d["skipped"] &= st.status().toString() == "SKIPPED"
            d["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            d["task_failures"] += st.numFailedTasks()
            d["run_s"] += st.executorRunTime() / 1e3
            d["cpu_s"] += st.executorCpuTime() / 1e9
            d["gc_s"] += st.jvmGcTime() / 1e3
            d["shuffle_mb"] += (st.shuffleReadBytes() + st.shuffleWriteBytes()) / 1e6
            d["spill_mb"] += st.diskBytesSpilled() / 1e6
        return out

    def by_group(self, groups: list[str]) -> dict[str, dict]:
        """{group: counters} for every group, all read in one pass."""
        self.drain()
        tracker = self._sc.statusTracker()
        stages = self._stages()
        jobs = {g: sorted(tracker.getJobIdsForGroup(g)) for g in groups}
        stage_ids = {}
        for g in groups:
            for j in jobs[g]:
                info = tracker.getJobInfo(j)
                stage_ids[j] = info.stageIds if info else ()
        owner: dict[int, int] = {}
        for j, sids in stage_ids.items():
            for sid in sids:
                owner[sid] = min(owner.get(sid, j), j)
        out = {}
        for g in groups:
            c = zero_counters()
            c["jobs"] = len(jobs[g])
            for j in jobs[g]:
                for sid in stage_ids[j]:
                    st = stages.get(sid)
                    if st is None or st["skipped"] or owner[sid] != j:
                        c["stages_skipped"] += 1
                        continue
                    c["stages"] += 1
                    for k in ("tasks", "task_failures", "run_s", "cpu_s", "gc_s",
                              "shuffle_mb", "spill_mb"):
                        c[k] += st[k]
            out[g] = c
        return out

    def storage_mb(self) -> float:
        """Block-manager storage in use (memory plus disk) on all executors."""
        seq = self._jsc.statusStore().executorList(True)
        total = 0
        for ex in self._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq):
            total += ex.memoryUsed() + ex.diskUsed()
        return total / 1e6
