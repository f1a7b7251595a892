"""Spans around the benchmark's calls into the program's layers.

A span records its name, wall-clock start and end, its parent and the timed
iteration it belongs to.  Each span runs its Spark jobs under a job group of
its own, so once the run ends the Spark status store tells which jobs,
stages and tasks each span launched.  Nothing is read from the status store
while a span is open: the store is walked once, by :meth:`Tracer.collect`,
after the timed iterations.

Spark keeps only ``spark.ui.retainedJobs`` / ``retainedStages`` entries (1000
by default); the session raises both so that no job of a run is evicted
before :meth:`Tracer.collect` reads it.
"""

from __future__ import annotations

import contextlib
import statistics
import time
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench-span-"

# Spark counters summed over the jobs a span launched itself (not its children)
SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "task_ms", "gc_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    iteration: int | None
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)
    spark: dict = field(default_factory=dict)
    task_ms_list: list = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; a disabled tracer's ``span`` costs nothing
    and sets no job group, so untraced runs launch exactly the program's jobs."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.iteration: int | None = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.id if parent else None, self.iteration,
                  time.perf_counter(), attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(sp)
        sc.setJobGroup(f"{GROUP_PREFIX}{sp.id}", name)
        try:
            yield sp.attrs
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(f"{GROUP_PREFIX}{parent.id}", parent.name)
            else:
                sc._jsc.clearJobGroup()

    # -- after the run ----------------------------------------------------------
    def collect(self) -> int:
        """Attribute every job in the status store to the span whose job group
        it ran under; returns the number of jobs that ran under no span."""
        if not self.enabled:
            return 0
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        stages = {}
        it = store.stageList(None, False, False, sc._gateway.new_array(sc._gateway.jvm.double, 0),
                             sc._jvm.java.util.ArrayList()).iterator()
        while it.hasNext():
            s = it.next()
            if s.status().toString() == "SKIPPED":
                continue
            stages[(s.stageId(), s.attemptId())] = s
        by_stage: dict[int, list] = {}
        for (sid, _), s in stages.items():
            by_stage.setdefault(sid, []).append(s)
        for sp in self.spans:
            sp.spark = dict.fromkeys(SPARK_COUNTERS, 0)
        seen_stages: set[int] = set()
        unowned = 0
        jobs = []
        it = store.jobsList(None).iterator()
        while it.hasNext():
            jobs.append(it.next())
        jobs.sort(key=lambda j: j.jobId())
        for j in jobs:
            group = j.jobGroup()
            gid = group.get() if group.isDefined() else None
            if not (gid and gid.startswith(GROUP_PREFIX)):
                unowned += 1
                continue
            sp = self.spans[int(gid[len(GROUP_PREFIX):])]
            sp.spark["jobs"] += 1
            sids = j.stageIds().iterator()
            while sids.hasNext():
                sid = sids.next()
                # a shuffle map stage shared by later jobs runs once: the
                # first job that ran it owns it, later jobs skip it
                if sid in seen_stages or sid not in by_stage:
                    continue
                seen_stages.add(sid)
                for s in by_stage[sid]:
                    self._add_stage(store, sp, s)
        return unowned

    @staticmethod
    def _add_stage(store, sp: Span, s) -> None:
        c = sp.spark
        c["stages"] += 1
        c["tasks"] += s.numCompleteTasks()
        c["task_ms"] += s.executorRunTime()
        c["gc_ms"] += s.jvmGcTime()
        c["shuffle_read_bytes"] += s.shuffleReadBytes()
        c["shuffle_write_bytes"] += s.shuffleWriteBytes()
        c["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        tasks = store.taskList(s.stageId(), s.attemptId(), 2**31 - 1).iterator()
        while tasks.hasNext():
            m = tasks.next().taskMetrics()
            if m.isDefined():
                sp.task_ms_list.append(m.get().executorRunTime())

    def self_s(self, sp: Span) -> float:
        children = sum(c.wall_s for c in self.spans if c.parent == sp.id)
        return sp.wall_s - children

    def records(self, cores: int) -> list[dict]:
        """Every span as a plain dict, with its self time and derived ratios."""
        out = []
        for sp in self.spans:
            self_s = self.self_s(sp)
            rec = {
                "id": sp.id, "name": sp.name, "parent": sp.parent, "iteration": sp.iteration,
                "start": sp.start, "end": sp.end, "wall_s": sp.wall_s, "self_s": self_s,
                **sp.spark, **sp.attrs,
                "busy_ratio": sp.spark.get("task_ms", 0) / 1000.0 / (self_s * cores) if self_s > 0 else 0.0,
            }
            if sp.task_ms_list:
                rec["task_ms_max"] = max(sp.task_ms_list)
                rec["task_ms_median"] = statistics.median(sp.task_ms_list)
            out.append(rec)
        return out
