"""Traced-run instrumentation, from outside the library.

Each public operator call of a traced repetition runs under its own Spark
job group.  When the call returns, ``StatusStore.group_stats`` collects
that group's jobs and stages from the driver's status store
(``SparkContext.statusStore``, populated with the UI off) and reduces them
to the per-layer counters.  Spans are kept in memory and written out once,
when the run ends.
"""

from __future__ import annotations

import json
import time
from dataclasses import asdict, dataclass, field

#: counter -> unit, reported for every operator (see README.md)
OP_COUNTERS = {
    "jobs": "count", "stages": "count", "tasks": "count", "task_s": "s",
    "jvm_cpu_s": "s", "shuffle_bytes": "bytes", "driver_s": "s",
}


@dataclass
class Span:
    op: str
    rep: int
    pages: int  # input pages the call processed
    traced: bool
    start: float  # epoch seconds
    end: float
    job_ids: list[int] = field(default_factory=list)
    counters: dict = field(default_factory=dict)


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is not None and s <= cur_e:
            cur_e = max(cur_e, e)
            continue
        if cur_e is not None:
            total += cur_e - cur_s
        cur_s, cur_e = s, e
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class StatusStore:
    """Reads one job group's jobs and stages from the driver."""

    def __init__(self, sc):
        self._sc = sc
        self._store = sc._jsc.sc().statusStore()
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters

    def _list(self, seq) -> list:
        return list(self._conv.asJava(seq))

    def group_stats(self, group: str, start: float, end: float) -> tuple[list[int], dict]:
        """(job ids, counters) for every job submitted under ``group``;
        ``start``/``end`` bound the call, for its driver-only time."""
        jvm = self._sc._jvm
        jobs = [
            j for j in self._list(self._store.jobsList(jvm.java.util.ArrayList()))
            if j.jobGroup().isDefined() and j.jobGroup().get() == group
        ]
        stage_ids, intervals = set(), []
        for j in jobs:
            stage_ids.update(self._list(j.stageIds()))
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined():
                s = sub.get().getTime() / 1e3
                e = done.get().getTime() / 1e3 if done.isDefined() else end
                intervals.append((max(s, start), min(e, end)))
        c = dict.fromkeys(OP_COUNTERS, 0)
        c["jobs"] = len(jobs)
        stages = self._list(
            self._store.stageList(
                jvm.java.util.ArrayList(), False, False,
                self._sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
            )
        )
        for s in stages:
            if s.stageId() not in stage_ids or s.status().toString() == "SKIPPED":
                continue
            c["stages"] += 1
            c["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            c["task_s"] += s.executorRunTime() / 1e3
            c["jvm_cpu_s"] += s.executorCpuTime() / 1e9
            c["shuffle_bytes"] += s.shuffleWriteBytes()
        c["driver_s"] = max(0.0, (end - start) - union_seconds(intervals))
        return sorted(j.jobId() for j in jobs), c


class Tracer:
    """Times operator calls.  A traced call also labels its jobs and reads
    their counters; an untraced one only takes two clock readings."""

    def __init__(self, spark):
        self.spans: list[Span] = []
        self._sc = spark.sparkContext
        self._store = StatusStore(self._sc)

    def call(self, op: str, rep: int, pages: int, fn, traced: bool):
        """Run ``fn()`` as operator ``op`` and record its span."""
        group = f"perfbench-{len(self.spans)}-{op}"
        if traced:
            self._sc.setJobGroup(group, op, False)
        start = time.time()
        try:
            return fn()
        finally:
            end = time.time()
            span = Span(op, rep, pages, traced, start, end)
            if traced:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
                span.job_ids, span.counters = self._store.group_stats(group, start, end)
            self.spans.append(span)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")
