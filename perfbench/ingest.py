"""``ingest``: the reference's ETL + WebSocket loop with readers beside
it. An open-loop generator drops one raw tick file every ``period``
seconds; ``run_ingest_stream`` appends each tick to a fresh copy of a generated
prices table and pushes the snapshot, while READERS closed-loop
callers run ``latest()``/``history()`` on the same table.

Known defects this workload can surface are listed in NOTES.md; they
are counted, never retried.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import threading
import time
from statistics import median

import pyarrow.parquet as pq
from crypto_price_tracker_with_etl_dashboard_spark.streaming.pipeline import run_ingest_stream

import expect
import gen
from common import Outcome, op_layers, percentile
from reads import KINDS, TracedTracker, closed_loop, request
from spans import Tracer

# Sustainable on the seed code with two readers on 4 cores; see the
# rate sweep in NOTES.md.
PERIOD_S = 2.0
READERS = 2
TRIGGER_S = 1
SETUP_REPS = 3
# the readers' mix; the dashboard rollups run once each in set-up
MIX = {"latest": 1, "history": 1}
# Ticks still unpushed this long after the last drop count as backlog.
DRAIN_S = 8.0
PROGRESS_KEYS = {
    "streaming.trigger_s": "triggerExecution", "streaming.add_batch_s": "addBatch",
    "streaming.query_planning_s": "queryPlanning", "streaming.wal_commit_s": "walCommit",
    "streaming.latest_offset_s": "latestOffset", "streaming.get_batch_s": "getBatch",
    "streaming.commit_offsets_s": "commitOffsets",
}


class Pushes:
    """What ``push_fn`` received: per push, the time and the marker tick
    it shows; every push is checked as it arrives."""

    def __init__(self, market: gen.Market, out: Outcome):
        self.market = market
        self.out = out
        self.cond = threading.Condition()
        self.seen: list[tuple[float, int]] = []  # (time, marker tick)

    def push(self, rows: list) -> None:
        now = time.time()
        marker = [r for r in rows if r["symbol"] == gen.MARKER]
        tick = int(marker[0]["current_price"]) if marker else -1
        err = None
        if len(rows) != gen.COINS + 1 or tick < 0:
            err = f"push has {len(rows)} rows, marker {tick}"
        elif self.seen and tick < self.seen[-1][1]:
            err = f"push marker went back from {self.seen[-1][1]} to {tick}"
        else:
            prices = self.market.price[gen.BASE_TICKS + tick]
            idx = {s: i for i, s in enumerate(self.market.symbols)}
            if any(r["current_price"] != prices[idx[r["symbol"]]] for r in rows if r["symbol"] != gen.MARKER):
                err = f"push for tick {tick} has wrong prices"
        self.out.record(err)
        with self.cond:
            self.seen.append((now, tick))
            self.cond.notify_all()

    def last_tick(self) -> int:
        with self.cond:
            return self.seen[-1][1] if self.seen else -1

    def wait_for(self, tick: int, timeout: float) -> bool:
        with self.cond:
            return self.cond.wait_for(lambda: self.seen and self.seen[-1][1] >= tick, timeout)

    def first_seen(self, tick: int) -> float | None:
        with self.cond:
            return next((t for t, k in self.seen if k >= tick), None)


class Stream:
    """One stream run over its own table copy, raw dir and checkpoint."""

    def __init__(self, spark, work: str, name: str, base: str, market, out: Outcome):
        self.dir = os.path.join(work, name)
        self.table = os.path.join(self.dir, "prices")
        self.raw = os.path.join(self.dir, "raw")
        self.staging = os.path.join(self.dir, "staging")
        shutil.copytree(base, self.table)
        os.makedirs(self.raw)
        os.makedirs(self.staging)
        self.market = market
        self.pushes = Pushes(market, out)
        self.query = run_ingest_stream(
            spark, self.raw, self.table, os.path.join(self.dir, "checkpoint"),
            push_fn=self.pushes.push, trigger_seconds=TRIGGER_S,
        )

    def drop(self, tick: int) -> float:
        """Atomically publish raw tick ``tick``; returns the drop time."""
        name = f"tick-{tick:06d}.parquet"
        tmp = os.path.join(self.staging, name)
        pq.write_table(gen.raw_tick_table(self.market, tick), tmp)
        os.rename(tmp, os.path.join(self.raw, name))
        return time.time()


def check_reader(market, kind: str, symbol: str | None, rows: list, lo: int, hi: int,
                 answers: dict) -> str | None:
    """A reader must see the table as it stood after some committed tick
    k with lo <= k <= hi: ``latest()`` all at tick k (the marker row
    names k), ``history()`` exactly ticks 0..k, the rollups those of
    tick k."""

    def at(k: int) -> expect.Answers:
        if k not in answers:
            answers[k] = expect.Answers(market, gen.BASE_TICKS + k, gen.stream_timestamp(k), marker=k)
        return answers[k]

    if kind == "latest":
        marker = [r for r in rows if r["symbol"] == gen.MARKER]
        if len(marker) != 1:
            return "latest without the marker row"
        k = int(marker[0]["current_price"])
    elif kind == "history":
        k = len(rows) - 1
    else:
        if any(at(k).check(kind, rows) is None for k in range(lo, hi + 1)):
            return None
        return f"{kind} matches no tick in [{lo}, {hi}]"
    if not lo <= k <= hi:
        return f"{kind} shows tick {k}, outside the committed range [{lo}, {hi}]"
    if kind == "latest":
        return at(k).check("latest", rows)
    want = expect.history_rows(
        market, symbol, range(gen.BASE_TICKS, gen.BASE_TICKS + k + 1),
        lambda t: gen.stream_timestamp(t - gen.BASE_TICKS))
    return None if [tuple(r) for r in rows] == want else f"history of {symbol} is not ticks 0..{k}"


def progress_layers(query, out: Outcome) -> None:
    """Per-batch medians of the measured batches' progress durations
    (batch 0 is set-up's tick 0)."""
    batches = []
    for p in query.recentProgress:
        p = p if isinstance(p, dict) else json.loads(p.json)
        if p["batchId"] >= 1 and p["numInputRows"] > 0:
            batches.append(p)
    out.layers["streaming.batches"] = len(batches)
    out.layers["streaming.input_rows"] = sum(p["numInputRows"] for p in batches)
    for metric, key in PROGRESS_KEYS.items():
        vals = [p["durationMs"].get(key, 0) / 1000.0 for p in batches]
        out.layers[metric] = median(vals) if vals else 0.0


def run(spark, seed: int, seconds: float, tracer: Tracer, work: str, out: Outcome,
        period: float = PERIOD_S) -> None:
    n_ticks = int(seconds / period) + 2
    market = gen.Market(seed, gen.BASE_TICKS + n_ticks)
    base = os.path.join(work, "base")
    gen.write_prices_table(market, base)
    day = gen.STREAM_DAY.isoformat()

    stream = None
    try:
        # set-up: a stream on a fresh table copy up to its first push (the
        # one full-table read) and a first latest() and history(), repeated;
        # then one request of each remaining kind warms their code
        setup = []
        for rep in range(SETUP_REPS):
            if stream is not None:
                stream.query.stop()
            t0 = time.perf_counter()
            stream = Stream(spark, work, f"run{rep}", base, market, out)
            stream.drop(0)
            if not stream.pushes.wait_for(0, 120):
                raise RuntimeError("the stream never pushed its first tick")
            tracker = TracedTracker(spark, stream.table, tracer)
            for kind in MIX:
                rows, _ = request(tracer, tracker, kind, "c0000", day)
                out.record(check_reader(market, kind, "c0000", rows, 0, 0, {}))
            setup.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        for kind in (k for k in KINDS if k not in MIX):
            rows, _ = request(tracer, tracker, kind, None, day)
            out.record(check_reader(market, kind, None, rows, 0, 0, {}))
        warm_s = time.perf_counter() - t0
        tracer.reset()

        # measured: open-loop ticks beside closed-loop readers.  Ticks are
        # due half-way between the trigger's whole-second boundaries so a
        # tick's wait for the next trigger is the same every run.
        start = math.ceil(time.time()) + 0.5
        due = {t: start + (t - 1) * period for t in range(1, n_ticks) if (t - 1) * period < seconds}
        dropped = [0]
        late: list[float] = []

        def generator() -> None:
            for t, when in due.items():
                time.sleep(max(0.0, when - time.time()))
                late.append(stream.drop(t) - when)
                dropped[0] = t

        seq = iter(gen.request_sequence(seed, 100_000, MIX, stream=20))
        seq_lock = threading.Lock()
        answers: dict[int, expect.Answers] = {}

        def next_request():
            with seq_lock:
                return next(seq)

        def serve_one(req):
            kind, symbol = req
            lo = stream.pushes.last_tick()
            try:
                rows, _ = request(tracer, tracker, kind, symbol, day)
            except Exception as e:  # a failed read counts, the loop goes on
                msg = f"{kind}: {e!r}"[:300]
                return lambda: out.record(msg)
            hi = dropped[0]
            return lambda: out.record(check_reader(market, kind, symbol, rows, lo, hi, answers))

        gen_thread = threading.Thread(target=generator)
        time.sleep(max(0.0, start - time.time()))
        gen_thread.start()
        lat, elapsed = closed_loop(READERS, seconds, next_request, serve_one)
        gen_thread.join()

        last = max(due)
        stream.pushes.wait_for(last, DRAIN_S)
        drained = time.time()
        pushed = stream.pushes.last_tick()
        backlog = last - pushed
        fresh = []
        for t, when in due.items():
            seen = stream.pushes.first_seen(t)
            if seen is None:
                # censored at the end of the drain: at least this stale
                out.record(f"tick {t} never pushed")
                seen = drained
            else:
                out.record(None)
            fresh.append(seen - when)

        rows, final_df = request(tracer, tracker, "latest", None, day)
        out.record(check_reader(market, "latest", None, rows, pushed, pushed, answers))
        exc = stream.query.exception()
        if exc is not None:
            out.record(f"stream died: {exc}"[:300])
        if tracer.enabled:
            progress_layers(stream.query, out)
        try:
            stream.query.stop()
        except Exception as e:  # counted, see NOTES.md (stop with a backlog)
            out.record(f"stream stop: {e!r}"[:300])
    finally:
        if stream is not None and stream.query.isActive:
            stream.query.stop()

    out.e2e.update({
        "setup_s": median(setup) + warm_s,
        "work_p50_s": median(fresh),
        "request_p50_s": median(lat),
        "requests_per_s": len(lat) / elapsed,
    })
    out.info.update({
        "ticks": len(due), "tick_period_s": period, "backlog_ticks": backlog,
        "freshness_p50_s": out.e2e["work_p50_s"], "reader_requests": len(lat),
        "request_p90_s": percentile(lat, 90),
    })
    if tracer.enabled:
        op_layers(tracer, out)
        out.layers["bench.generator_late_s"] = max(late)
        out.layers["sources.leaf_files"] = len(final_df.inputFiles())
