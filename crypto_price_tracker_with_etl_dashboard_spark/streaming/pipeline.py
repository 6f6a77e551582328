"""Structured Streaming ETL pipeline (SURVEY.md section 2.8, section
3.1): the reference's poll -> validate -> append -> re-query ->
broadcast loop (etl/crypto_etl.py:138-157 + api/server.js:166-193)
becomes ONE streaming query:

    raw micro-batch --foreachBatch--> validate/normalize
                                   -> write to prices table
                                   -> fold into the latest snapshot
                                   -> store it as the snapshot file
                                   -> push_fn(snapshot rows)

Delivery semantics: the reference is at-most-once (a failed fetch or
insert skips the batch and keeps looping, etl/crypto_etl.py:47-52,
120-123).  foreachBatch + checkpointing gives at-least-once replay;
the table writes are made IDEMPOTENT (dynamic partition overwrite
keyed by batch/tick — a replayed batch replaces its own previous
output), so table contents are exactly-once, and the snapshot push
is idempotent by construction (full-state broadcast) — strictly
stronger than the reference end to end.  Cancellation exceptions
propagate out of the batch body (``_is_cancellation``); swallowing
them under the T7 catch-all would mark an interrupted batch
committed and silently DROP its tick on restart.

For tests the source is a file stream over a directory of parquet
batch files (each file = one poll result); in production the same
pipeline runs off any streaming source (kafka/rate/custom) — only
``raw_stream`` changes.
"""

from __future__ import annotations

import datetime as dt
from typing import Callable, Optional, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from crypto_price_tracker_with_etl_dashboard_spark.schema import COINGECKO_RAW_SCHEMA
from crypto_price_tracker_with_etl_dashboard_spark.sources.ingest import (
    current_snapshot,
    epoch_micros,
    mark_snapshot_stale,
    stamp_prices,
    validate_and_normalize,
    write_prices,
    write_snapshot,
)
from crypto_price_tracker_with_etl_dashboard_spark.operators.latest import latest_snapshot


_CANCEL_CLASSES = (
    "CancellationException", "InterruptedException", "InterruptedIOException",
    "JobCancellationException", "TaskKilledException", "SparkJobCancelled",
)
# Matched against the TOP-LEVEL JVM exception's own message only —
# NEVER the py4j-flattened stack trace, where a genuine data error
# could incidentally contain a cancellation class name in a "Caused
# by" frame and get mistaken for a shutdown (killing the stream,
# contrary to T7 batch isolation).
_CANCEL_MESSAGES = (
    "cancelled because SparkContext was shut down",
    "SparkContext has been shutdown",
    "as part of cancellation of all jobs",
    "Job cancelled",
)


def _is_cancellation(exc: Exception, spark: Optional[SparkSession] = None) -> bool:
    """True when the batch failed because the QUERY is stopping (job
    cancelled / context shut down), not because the data is bad.
    Cancellations must propagate: swallowing them reports the batch
    as successful, the offset log commits it, and the tick is LOST on
    restart (falsely-committed batch).  Only genuine data errors are
    isolated per the reference's T7 semantics.

    Signals, strongest first: (1) the SparkContext is already stopped
    (probe failures are treated as shutdown ONLY for gateway/
    connection errors — any other probe exception falls through to
    the structural checks); (2) a cancellation/interrupt exception
    CLASS in the Python cause chain; (3) a cancellation CLASS in the
    structured JVM cause chain, or a cancellation message on the
    top-level JVM exception — both via the live exception object,
    never substring-matching the flattened stack text."""
    if spark is not None:
        try:
            # A Python-side spark.stop() sets sparkContext._jsc to
            # None BEFORE the JVM context reports stopped, so the
            # probe below would raise AttributeError (None._jsc.sc())
            # — which is a STOP signal, not a probe failure.  Check
            # it explicitly; without this the strongest signal is
            # dead code for same-process stops.
            if spark.sparkContext._jsc is None:
                return True
            if spark.sparkContext._jsc.sc().isStopped():
                return True
        except Exception as probe_exc:
            from py4j.protocol import Py4JError

            if isinstance(
                probe_exc, (Py4JError, ConnectionError, OSError, AttributeError)
            ):
                return True  # the gateway/context itself is gone: shutting down
            # probe unavailable for a non-connection reason: fall through
    seen, cur = set(), exc
    while cur is not None and id(cur) not in seen:
        seen.add(id(cur))
        if type(cur).__name__ in _CANCEL_CLASSES:
            return True
        cur = cur.__cause__ or cur.__context__
    je = getattr(exc, "java_exception", None)
    if je is None:
        return False
    try:
        msg = je.getMessage()
        if msg and any(s in msg for s in _CANCEL_MESSAGES):
            return True
        hops = 0
        while je is not None and hops < 20:
            if je.getClass().getSimpleName() in _CANCEL_CLASSES:
                return True
            je = je.getCause()
            hops += 1
    except Exception:
        return True  # JVM handle unusable mid-inspection: bridge going down
    return False


def snapshot_for_push(prices: DataFrame) -> DataFrame:
    """The latest-per-symbol snapshot the WebSocket tier re-broadcasts
    (api/server.js:167-185)."""
    return latest_snapshot(prices, tiebreaker="event_id", order_by_cap=True)


class _IncrementalSnapshot:
    """Driver-side incremental latest-per-symbol state for the push
    path.  The snapshot is bounded (<= |symbols| rows — the reference
    serves <= 100, api/server.js:69) while the accumulated prices
    table grows without bound, so re-reading the WHOLE table every
    micro-batch (the naive T3 re-query) is an unbounded full-history
    scan per trigger at scale.  Instead: seed ONCE per (re)start from
    the table — restart-safe, a recovered stream rebuilds exact state
    — then fold each batch's own latest rows into the dict.  Per
    trigger this costs O(|batch| + |symbols|), independent of table
    size.

    Correctness: within a batch, ties on the batch-constant timestamp
    are resolved by the batch's event_id order (same keep-last as a
    full recompute); across batches the newest instant wins.  Two
    batches that tie on the timestamp (same-second polls) are ordered
    only by the event_ids the table holds, which the fold does not
    see, so such a batch reseeds from the table instead.  The fold
    thus reproduces the full-table latest_snapshot exactly.

    :meth:`write_through` also stores the rows as the table's snapshot
    file (sources/ingest.py::write_snapshot), which the API reads
    instead of the whole history.  Before each write it checks that the
    current file is still the one these rows were stored as; any other
    write since (an ``ingest_batch``, an older-partition write, another
    stream) makes it reseed, so none is silently missed."""

    def __init__(self) -> None:
        self.rows: Optional[list] = None
        # the snapshot file ``rows`` were last stored as; None before
        # the first store, and for a table that keeps no file
        self.path: Optional[str] = None
        # full-table reads performed (observability + test pin): must
        # stay at 1 for the lifetime of a stream run — the one-time
        # cold-start/restart seed — unless another writer wrote in
        # between or two batches tied on the timestamp.  Anything higher means the warm path regressed to
        # the unbounded per-trigger history scan.
        self.full_reads: int = 0

    @staticmethod
    def _cap_order(rows: list) -> list:
        # PG ORDER BY market_cap DESC NULLS FIRST parity (O1,
        # api/server.js:76) — same order latest_snapshot emits.
        return sorted(
            rows,
            key=lambda r: (r["market_cap"] is not None, -(r["market_cap"] or 0.0)),
        )

    @staticmethod
    def _latest_rows(prices: DataFrame) -> list:
        return latest_snapshot(prices, tiebreaker="event_id", order_by_cap=False).collect()

    def _fold(self, batch: Union[DataFrame, list]) -> Optional[list]:
        """The held rows with ``batch``'s latest rows folded in
        (cap-descending, NULLs first), or None when the fold cannot
        give the table's answer: no rows held, or a cross-write tie.
        ``batch`` is the stamped batch frame, whose latest rows Spark
        computes, or the batch's rows on the driver in event_id order,
        whose last row per symbol is its latest.  Changes no state."""
        if self.rows is None:
            return None
        by_symbol = {r["symbol"]: r for r in self.rows}
        latest = (
            self._latest_rows(batch) if isinstance(batch, DataFrame)
            else {r["symbol"]: r for r in batch}.values()
        )
        for r in latest:
            prev = by_symbol.get(r["symbol"])
            new = epoch_micros(r["timestamp"])
            old = None if prev is None else epoch_micros(prev["timestamp"])
            if new == old:
                return None  # a tie across two writes: reseed
            if old is None or new > old:
                by_symbol[r["symbol"]] = r
        return self._cap_order(list(by_symbol.values()))

    def _seed(self, spark: SparkSession, table_path: str) -> list:
        # cold start / restart / cross-batch tie: one full read seeds
        # state (the batch must already be in the table)
        self.full_reads += 1
        return self._cap_order(self._latest_rows(spark.read.parquet(table_path)))

    def merge(self, spark: SparkSession, table_path: str, batch: Union[DataFrame, list]) -> list:
        """Fold one written batch into the snapshot (see :meth:`_fold`),
        or reseed from the table; returns the rows to push.  The driver
        orders every push, seed and warm alike, with ``_cap_order``."""
        rows = self._fold(batch)
        self.rows = self._seed(spark, table_path) if rows is None else rows
        return self.rows

    def write_through(
        self, spark: SparkSession, table_path: str,
        batch: Union[DataFrame, list], write: Callable[[], object],
    ) -> list:
        """Fold ``batch`` in (see :meth:`merge`), ``write()`` it to the
        table and store the result as the snapshot file; returns the
        rows to push.  The fold runs before the write, so only the file
        write separates the table's commit from a current snapshot and
        readers rarely find it stale.  The held rows are built on only
        when the snapshot was current, and theirs, before the write;
        otherwise the rows are reseeded after the write, and the file
        is marked stale before it, as the write might land at or below
        the newest leaf."""
        if current_snapshot(table_path) != self.path:
            self.rows = None
            mark_snapshot_stale(table_path)
        rows = self._fold(batch)
        write()
        self.rows = self._seed(spark, table_path) if rows is None else rows
        self.path = write_snapshot(table_path, self.rows)
        return self.rows


# The deterministic batch clock of both streams: batch (or tick) n is
# stamped _EPOCH + n x step, so a replayed batch rewrites exactly the
# (dt, batch) partition it wrote before.
_EPOCH = dt.datetime(2024, 1, 1)


def _clock(step_seconds: int) -> Callable[[int], dt.datetime]:
    return lambda n: _EPOCH + dt.timedelta(seconds=step_seconds * n)


def wall_clock_batch_ts(batch_id: int) -> dt.datetime:
    """Reference-parity batch timestamps: one wall-clock stamp per
    micro-batch, exactly the reference's ingest-time semantics
    (etl/crypto_etl.py:82 — ``datetime.now()`` once per poll).  Pass
    as ``batch_ts_fn`` to :func:`run_ingest_stream` for a live
    deployment where snapshot/history queries must reflect real
    arrival time.  Trade-off vs the default deterministic clock: a
    batch REPLAYED after checkpoint recovery re-stamps with a new
    now(), so if the replay crosses a date boundary the rewrite lands
    in a fresh dt partition and the original partial output survives
    as duplicates — at-least-once across day boundaries instead of
    exactly-once.  (See run_ingest_stream's docstring and README
    "Streaming" for the full decision table.)"""
    return dt.datetime.now()


def _write_tick(
    spark: SparkSession,
    raw: DataFrame,
    batch_ts: dt.datetime,
    batch_id: int,
    table_path: str,
    snapshot: Optional[_IncrementalSnapshot],
) -> Optional[list]:
    """One ETL tick, the body both streams run: validate/normalize with
    the batch-constant timestamp -> idempotent (dt, batch) overwrite
    -> fold into ``snapshot`` and store it as the snapshot file.
    Returns the rows to push, or None when there is no snapshot
    (nothing is pushed)."""
    clean = validate_and_normalize(raw, batch_ts)

    def write() -> DataFrame:
        return write_prices(clean, table_path, batch_id, replace=True)

    if snapshot is None:
        # keeps no snapshot: a tick at or below the newest leaf (a
        # restart's replay, a table an ingest_batch wrote ahead of the
        # stream clock) would leave the old file looking current
        mark_snapshot_stale(table_path)
        write()
        return None
    return snapshot.write_through(spark, table_path, stamp_prices(clean, batch_id), write)


def _start_etl(
    spark: SparkSession,
    stream: DataFrame,
    label: str,
    ticks: Callable[[DataFrame, int], list],
    table_path: str,
    checkpoint_dir: str,
    push_fn: Optional[Callable[[list], None]],
    snapshot: Optional[_IncrementalSnapshot],
    trigger_seconds: Optional[int],
    drain: bool,
) -> StreamingQuery:
    """Start ``stream`` on the shared foreachBatch body: the
    (raw, batch_ts, batch_id) ticks that ``ticks(batch_df, batch_id)``
    returns each run through :func:`_write_tick` in order, then ONE
    push of the merged snapshot per micro-batch.  Triggers every
    ``trigger_seconds``; without it, ``drain`` runs what is available
    and stops, else micro-batches run back to back.

    A failing micro-batch is skipped and the query keeps running (T7:
    the reference rolls the batch back and keeps looping), unless it
    failed because the query is stopping (``_is_cancellation``)."""
    if push_fn is None:
        snapshot = None  # nothing to push: skip the merge's jobs

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        try:
            rows = None
            for raw, batch_ts, batch in ticks(batch_df, batch_id):
                rows = _write_tick(spark, raw, batch_ts, batch, table_path, snapshot)
            if rows is not None:
                push_fn(rows)
        except Exception as exc:
            if _is_cancellation(exc, spark):
                raise  # stopping query: let Spark leave the batch uncommitted
            print(f"[{label}] batch {batch_id} failed, skipping: {exc}")  # T7

    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    elif drain:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_ingest_stream(
    spark: SparkSession,
    raw_dir: str,
    table_path: str,
    checkpoint_dir: str,
    push_fn: Optional[Callable[[list], None]] = None,
    trigger_seconds: Optional[int] = None,
    batch_ts_fn: Optional[Callable[[int], dt.datetime]] = None,
    snapshot_state: Optional[_IncrementalSnapshot] = None,
) -> StreamingQuery:
    """Start the ETL stream: watch ``raw_dir`` for new raw batch
    files; each micro-batch is one tick (its batch id is the table's
    ``batch``), validated/normalized with a batch-constant timestamp,
    written to the partitioned prices table, then the
    incrementally-maintained latest snapshot is pushed
    (``snapshot_state`` injects the state holder — tests use it to pin
    the full-read count; the default builds a fresh one per run).
    Without ``trigger_seconds`` the stream processes what is there
    and stops.

    ``batch_ts_fn`` maps batch_id -> the batch-constant timestamp
    (P5).  The default derives it deterministically from batch_id
    (epoch + batch_id x trigger interval), which keeps the sink
    exactly-once across restarts: the (dt, batch) overwrite partition
    a replayed batch writes is ALWAYS the same one it wrote before.
    Pass ``batch_ts_fn=wall_clock_batch_ts`` to reproduce the
    reference's ingest-time stamps (etl/crypto_etl.py:82) for live
    deployments — but a batch replayed across a day boundary then
    lands in a fresh dt partition, leaving the original partial
    output as duplicates: exactly-once only within a day.  The
    deterministic default trades reference parity for the stronger
    replay guarantee; choose per deployment.
    """
    raw_stream = (
        spark.readStream.schema(COINGECKO_RAW_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(raw_dir)
    )
    stamp = batch_ts_fn or _clock(trigger_seconds or 300)
    return _start_etl(
        spark, raw_stream, "ingest",
        lambda batch_df, batch_id: [(batch_df, stamp(batch_id), batch_id)],
        table_path, checkpoint_dir, push_fn,
        snapshot_state if snapshot_state is not None else _IncrementalSnapshot(),
        trigger_seconds, drain=True,
    )


def run_feed_stream(
    spark: SparkSession,
    table_path: str,
    checkpoint_dir: str,
    push_fn: Optional[Callable[[list], None]] = None,
    feed_options: Optional[dict] = None,
    trigger_seconds: Optional[int] = None,
) -> StreamingQuery:
    """The same ETL loop driven by the ``market_feed`` custom
    DataSource (sources/market_feed.py) instead of a file drop.  A
    micro-batch may hold several poll ticks: each is written as its
    own batch (the tick number is its batch id), and the snapshot is
    pushed once, after the last.

    The batch timestamp derives from the tick number (epoch +
    tick x 5 min), not wall clock — deterministic replay across
    checkpoint recovery, preserving the reference's batch-constant
    timestamp tie semantics (etl/crypto_etl.py:82) under re-delivery
    too: a replayed tick re-writes IDENTICAL rows.
    """
    from crypto_price_tracker_with_etl_dashboard_spark.sources.market_feed import (
        MarketFeedDataSource,
    )

    spark.dataSource.register(MarketFeedDataSource)
    reader = spark.readStream.format("market_feed")
    for k, v in (feed_options or {}).items():
        reader = reader.option(k, v)
    stamp = _clock(300)

    def ticks(batch_df: DataFrame, batch_id: int) -> list:
        found = sorted(r["tick"] for r in batch_df.select("tick").distinct().collect())
        return [(batch_df.filter(F.col("tick") == t), stamp(t), int(t)) for t in found]

    return _start_etl(
        spark, reader.load(), "feed", ticks, table_path, checkpoint_dir, push_fn,
        _IncrementalSnapshot(), trigger_seconds, drain=False,
    )
