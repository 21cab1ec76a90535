"""Spans around the benchmark's calls into each engine layer.

A span records name, start, end, parent and run id. Spans are kept in
memory and written out once, at the end of a run. When a span has a Spark
session, every job it launches runs under the span's own job group, and
the span's Spark counters (shuffle write, executor CPU, GC, failed tasks)
are read from ``statusTracker`` and the status store's
``lastStageAttempt`` for that group only -- jobs of child spans belong to
the children. Tracing off makes ``span`` a no-op.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    counters: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def self_time(spans: list[Span], idx: int) -> float:
    """Duration of ``spans[idx]`` minus the part of it its direct children
    cover (overlapping children are counted once)."""
    s = spans[idx]
    kids = sorted(
        (max(c.start, s.start), min(c.end, s.end))
        for c in spans if c.parent == idx
    )
    covered, cur_start, cur_end = 0.0, None, None
    for a, b in kids:
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
    return s.seconds - covered


def stage_counters(spark, group: str) -> dict:
    """Sum stage metrics over every job of ``group`` (None: jobs that ran
    outside any job group)."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    out = {"jobs": 0, "shuffle_write_mb": 0.0, "executor_cpu_s": 0.0,
           "gc_s": 0.0, "failed_tasks": 0, "input_records": 0}
    for job in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # skipped stage: never attempted, no record
                continue
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["failed_tasks"] += st.numFailedTasks()
            out["input_records"] += st.inputRecords()
    return out


class Tracer:
    """In-memory span recorder; ``enabled=False`` records nothing."""

    def __init__(self, run_id: str, enabled: bool, spark=None):
        self.run_id = run_id
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, spark: bool = True):
        if not self.enabled:
            yield None
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), parent=parent, run_id=self.run_id)
        self.spans.append(sp)
        self._stack.append(idx)
        group = f"{self.run_id}-{idx}"
        sc = self.spark.sparkContext if (spark and self.spark is not None) else None
        if sc is not None:
            sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                if parent is not None:
                    sc.setJobGroup(f"{self.run_id}-{parent}", self.spans[parent].name)
                else:
                    sc._jsc.clearJobGroup()
                sp.counters.update(stage_counters(self.spark, group))

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                rec = asdict(s)
                rec["id"] = i
                rec["self_s"] = self_time(self.spans, i)
                f.write(json.dumps(rec) + "\n")
