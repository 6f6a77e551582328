"""What every workload shares: the Spark session, timing helpers, the
Spark JVM's peak RSS and the per-layer roll-up of traced operations."""

from __future__ import annotations

import math
import os
import threading
import time
from dataclasses import dataclass, field

from spans import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
CPUS = len(os.sched_getaffinity(0))
HEAP = "2g"


def configure_env() -> None:
    """Point Spark's scratch space, the JVM's temp dir and the Python
    workers' import path at the checkout, before the JVM starts."""
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"  # collected timestamps come back as UTC wall time
    time.tzset()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    # a fixed-size heap: RSS then tracks what the heap holds, not when
    # the collector chose to grow it
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Xms{HEAP} -Djava.io.tmpdir={tmp}' pyspark-shell"
    )


def start_session():
    """The program's own session factory (local[CPUS], its configs)."""
    from crypto_price_tracker_with_etl_dashboard_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark, then close the JVM's stdin (it exits on EOF) and wait
    for it, so no process outlives the run."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile; q in (0, 100)."""
    s = sorted(xs)
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


@dataclass
class Outcome:
    """A workload's run: end-to-end values, per-layer values, counts."""

    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    info: dict[str, float | int | str] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    def record(self, error: str | None) -> None:
        """One attempted operation; ``error`` is None when its output
        checked out."""
        with self._lock:
            self.attempted += 1
            if error is not None:
                self.failed += 1
                if len(self.errors) < 20:
                    self.errors.append(error)


LAYER_METRICS = [
    "session.start_s",
    "api.build_s", "sources.open_s", "sources.leaf_files",
    "spark.plan_s", "spark.action_s", "spark.jobs", "spark.stages", "spark.tasks",
    "spark.executor_run_s", "spark.sched_gap_s", "spark.shuffle_bytes",
    "streaming.trigger_s", "streaming.add_batch_s", "streaming.query_planning_s",
    "streaming.wal_commit_s", "streaming.latest_offset_s", "streaming.get_batch_s",
    "streaming.commit_offsets_s", "streaming.batches", "streaming.input_rows",
    "bench.generator_late_s",
    *(f"queries.{f}.{m}" for f in ("relational", "indicators", "text", "vector", "graph")
      for m in ("build_s", "action_s", "jobs")),
    "operators.cache_mb", "operators.cached_relations",
]


def op_layers(tracer: Tracer, out: Outcome) -> None:
    """Per-operation means of the Spark counters over the traced ops."""
    ops = tracer.ops
    if not ops:
        return
    n = len(ops)
    mean = lambda f: sum(f(o) for o in ops) / n  # noqa: E731
    out.layers.update({
        "api.build_s": mean(lambda o: o.spans.get("api.build", 0.0)),
        "sources.open_s": mean(lambda o: o.spans.get("sources.open", 0.0)),
        "spark.plan_s": mean(lambda o: o.plan_s),
        "spark.action_s": mean(lambda o: o.spans.get("spark.action", 0.0)),
        "spark.jobs": mean(lambda o: o.jobs),
        "spark.stages": mean(lambda o: o.stages),
        "spark.tasks": mean(lambda o: o.tasks),
        "spark.executor_run_s": mean(lambda o: o.executor_run_s),
        "spark.sched_gap_s": mean(lambda o: o.wall_s - o.executor_run_s),
        "spark.shuffle_bytes": mean(lambda o: o.shuffle_bytes),
    })


def cache_layers(spark, out: Outcome) -> None:
    """Cached relations as the block manager reports them."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    cached = [i for i in infos if i.numCachedPartitions() > 0]
    out.layers["operators.cached_relations"] = len(cached)
    out.layers["operators.cache_mb"] = sum(i.memSize() + i.diskSize() for i in cached) / 1e6
