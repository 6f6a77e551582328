"""Spans and Spark counters recorded from the benchmark's side of each
call into the program.

A disabled ``Tracer`` records nothing and touches no Spark API, so an
untraced run pays only a context-manager entry per span. An enabled
one keeps spans in memory (written out when the run ends), tags each
operation's jobs with ``setJobGroup`` and reads the status tracker and
status store right after the operation. None of that starts a Spark
job.
"""

from __future__ import annotations

import contextlib
import itertools
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Op:
    """Counters for one traced operation (one request, one query)."""

    name: str
    req: int
    family: str | None = None
    wall_s: float = 0.0
    plan_s: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    shuffle_bytes: int = 0
    trace_s: float = 0.0  # spent in the tracer's own reads, inside the op
    spans: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[tuple] = []  # (id, name, start, end, parent, req)
        self.ops: list[Op] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def reset(self) -> None:
        """Forget what set-up recorded; keep the measured phase only."""
        with self._lock:
            self.spans.clear()
            self.ops.clear()

    # ---- spans ---------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        parent = getattr(self._local, "stack", [None])[-1]
        self._local.stack = getattr(self._local, "stack", [None]) + [sid]
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._local.stack.pop()
            op = getattr(self._local, "op", None)
            with self._lock:
                self.spans.append((sid, name, t0, t1, parent, op.req if op else None))
            if op is not None:
                op.spans[name] = op.spans.get(name, 0.0) + (t1 - t0)

    @contextlib.contextmanager
    def op(self, name: str, family: str | None = None):
        """One user-visible operation: a root span whose Spark jobs are
        grouped under the operation's own id."""
        if not self.enabled:
            yield None
            return
        op = Op(name=name, req=next(self._ids), family=family)
        sc = self.spark.sparkContext
        group = f"perfbench-{op.req}"
        sc.setJobGroup(group, name)
        self._local.op = op
        t0 = time.perf_counter()
        try:
            with self.span(name):
                yield op
        finally:
            t1 = time.perf_counter()
            op.wall_s = t1 - t0
            self._local.op = None
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self._read_counters(group, op)
            op.trace_s += time.perf_counter() - t1
            with self._lock:
                self.ops.append(op)

    def record_plan(self, op: Op | None, df) -> None:
        """Analysis + optimization + planning of the action's query, from
        its ``QueryPlanningTracker``."""
        if op is None:
            return
        t0 = time.perf_counter()
        phases = df._jdf.queryExecution().tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            summary = phases.get(phase)
            if summary.isDefined():
                op.plan_s += summary.get().durationMs() / 1000.0
        op.trace_s += time.perf_counter() - t0

    def _read_counters(self, group: str, op: Op) -> None:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        # job/stage end events reach the status store through the
        # listener bus; drain it so the finished stages are visible
        jsc.listenerBus().waitUntilEmpty(10_000)
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            op.jobs += 1
            for stage_id in info.stageIds:
                data = store.lastStageAttempt(stage_id)
                if data.status().toString() == "SKIPPED":
                    continue  # its shuffle output was reused
                op.stages += 1
                op.tasks += data.numTasks()
                op.executor_run_s += data.executorRunTime() / 1000.0
                op.shuffle_bytes += data.shuffleWriteBytes()

    # ---- report --------------------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part its direct
        children cover."""
        child_time: dict[int, float] = {}
        for _, _, t0, t1, parent, _ in self.spans:
            if parent is not None:
                child_time[parent] = child_time.get(parent, 0.0) + (t1 - t0)
        out: dict[str, float] = {}
        for sid, name, t0, t1, _, _ in self.spans:
            out[name] = out.get(name, 0.0) + (t1 - t0) - child_time.get(sid, 0.0)
        return out

    def dump(self) -> dict:
        return {
            "spans": [
                {"id": s, "name": n, "start": a, "end": b, "parent": p, "req": r}
                for s, n, a, b, p, r in self.spans
            ],
            "ops": [op.__dict__ for op in self.ops],
            "self_time_s": self.self_times(),
        }
