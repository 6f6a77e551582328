"""The latest-per-symbol snapshot file the write path keeps under
``<table>/_latest/`` (sources/ingest.py, streaming/pipeline.py::
_IncrementalSnapshot) and the four API reads it serves.

On a current snapshot the reads run a fixed number of jobs at any table
size.  Whichever way the file falls behind the table (deleted, stale
after a push-less tick, another writer between ticks, a write below the
newest leaf, a restarted stream), every read gives exactly the full-scan
answer and the DuckDB twin's answer over the same parquet files."""

from __future__ import annotations

import calendar
import datetime as dt
import os
import shutil
import threading
import time

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from crypto_price_tracker_with_etl_dashboard_spark.api import PriceTracker
from crypto_price_tracker_with_etl_dashboard_spark.queries import ORACLE_SQL
from crypto_price_tracker_with_etl_dashboard_spark.schema import COINGECKO_RAW_SCHEMA
from crypto_price_tracker_with_etl_dashboard_spark.sources import PRICES_CTE_SQL
from crypto_price_tracker_with_etl_dashboard_spark.sources.ingest import (
    SNAPSHOT_DIR,
    current_snapshot,
)
from crypto_price_tracker_with_etl_dashboard_spark.streaming import run_ingest_stream
from crypto_price_tracker_with_etl_dashboard_spark.streaming.pipeline import (
    _IncrementalSnapshot,
    _write_tick,
)
from tests.conftest import jobs_run

# the API read -> its registered DuckDB twin
TWINS = {
    "latest": "latest_snapshot",
    "top_symbols": "topk_other",
    "market_distribution": "market_share",
    "symbols": "distinct_symbols",
}
T0 = dt.datetime(2024, 1, 1)


def _coins(tick: int, symbols=("btc", "eth", "sol", "ada", "dot", "xrp", "bnb", "trx", "ltc")):
    """One poll: every coin priced from ``tick``; one NULL and one zero
    cap keep the NULLS-FIRST order and the cap > 0 filter in play."""
    rows = []
    for i, s in enumerate(symbols):
        cap = None if s == "dot" else 0.0 if s == "xrp" else float((i + 1) * 1000 + tick)
        rows.append({"symbol": s.upper(), "name": s.title(),
                     "current_price": float(100 * tick + i), "market_cap": cap,
                     "total_volume": float(i)})
    return rows


def _tick(spark, table, tick, state, symbols=None):
    """One stream tick through the streams' shared body, stamped on the
    5-minute stream clock."""
    rows = _coins(tick) if symbols is None else _coins(tick, symbols)
    raw = spark.createDataFrame([tuple(r.values()) for r in rows], COINGECKO_RAW_SCHEMA)
    return _write_tick(spark, raw, T0 + dt.timedelta(minutes=5 * tick), tick, table, state)


def _utc_micros(ts) -> int:
    # DuckDB returns naive UTC wall times, pyarrow aware instants
    seconds = int(ts.timestamp()) if ts.tzinfo else calendar.timegm(ts.timetuple())
    return seconds * 1_000_000 + ts.microsecond


def _local_micros(ts) -> int:
    # Spark collects naive local wall times
    return int(ts.replace(microsecond=0).timestamp()) * 1_000_000 + ts.microsecond


def _norm(kind: str, rows: list, micros) -> object:
    """Rows as comparable values: ``latest`` as a set (one row per
    symbol) with its timestamps as instants, plus its cap order."""
    rows = [tuple(r) for r in rows]
    if kind == "latest":
        caps = [r[3] for r in rows]
        ordered = caps == sorted(caps, key=lambda c: (c is not None, -(c or 0.0)))
        return {r[:5] + (micros(r[5]),) for r in rows}, ordered
    if kind == "symbols":
        return rows
    return sorted(rows)


def _answers(app: PriceTracker) -> dict:
    return {kind: _norm(kind, getattr(app, kind)().collect(), _local_micros) for kind in TWINS}


def _duckdb_answers(table: str) -> dict:
    prices = f"""
prices AS (
  SELECT symbol, name, current_price, market_cap, total_volume, timestamp, event_id
  FROM read_parquet('{table}/dt=*/batch=*/*.parquet', hive_partitioning = true)
)
"""
    con = duckdb.connect()
    out = {}
    for kind, twin in TWINS.items():
        rows = con.execute(ORACLE_SQL[twin].replace(PRICES_CTE_SQL, prices)).fetchall()
        if kind == "latest":
            # the twin leaves order to the caller: sort as the API does
            rows.sort(key=lambda r: (r[3] is not None, -(r[3] or 0.0)))
        out[kind] = _norm(kind, rows, _utc_micros)
    return out


def _assert_reads(spark, table: str, snapshot: bool) -> dict:
    """The four reads on ``table`` equal the full scan and the DuckDB
    twins; ``snapshot`` says whether they were served from the file."""
    assert (current_snapshot(table) is not None) == snapshot
    got = _answers(PriceTracker(spark, table))
    full = _answers(PriceTracker(spark, spark.read.parquet(table)))
    assert got == full == _duckdb_answers(table)
    assert got["latest"][1]  # cap desc, NULLs first
    return got


@pytest.mark.parametrize("ticks", [64, 1024])
def test_snapshot_read_jobs(spark, tmp_path, ticks):
    """On a current snapshot: warm latest() 1 job, the two rollups 2,
    symbols() 1, at 64 and at 1,024 partitions; the answers equal the
    full scan's."""
    table = str(tmp_path / "prices")
    symbols = [f"c{i}" for i in range(5)]
    for t in range(ticks):  # one dt=/batch= leaf per tick, written with pyarrow
        ts = dt.datetime(2023, 12, 1) + dt.timedelta(minutes=5 * t)
        leaf = os.path.join(table, f"dt={ts.date()}", f"batch={t}")
        os.makedirs(leaf)
        pq.write_table(pa.table({
            "symbol": symbols, "name": symbols,
            "current_price": [float(t + i) for i in range(5)],
            "market_cap": [None, 0.0, *(float(t * 10 + i) for i in range(3))],
            "total_volume": [1.0] * 5,
            "timestamp": pa.array([ts.replace(tzinfo=dt.timezone.utc)] * 5,
                                  pa.timestamp("us", tz="UTC")),
            "event_id": pa.array(range(5), pa.int64()),
        }), os.path.join(leaf, "part-0.parquet"))
    app = PriceTracker(spark, table)
    app.ingest_batch(_coins(1)[:3], batch_ts=dt.datetime(2024, 1, 1))
    assert current_snapshot(table) is not None
    want = {"latest": 1, "top_symbols": 2, "market_distribution": 2, "symbols": 1}
    for kind, jobs in want.items():
        jobs_run(spark, f"snap-{ticks}-{kind}-cold", lambda: getattr(app, kind)().collect())
        _, n = jobs_run(spark, f"snap-{ticks}-{kind}-warm", lambda: getattr(app, kind)().collect())
        assert n == jobs, kind
    full = _answers(PriceTracker(spark, spark.read.parquet(table)))
    assert _answers(app) == full


def test_deleted_snapshot_falls_back_then_reseeds(spark, tmp_path):
    table = str(tmp_path / "prices")
    app = PriceTracker(spark, table)
    app.ingest_batch(_coins(1), batch_ts=T0)
    app.ingest_batch(_coins(2)[2:], batch_ts=T0 + dt.timedelta(days=1))
    _assert_reads(spark, table, snapshot=True)

    shutil.rmtree(os.path.join(table, SNAPSHOT_DIR))
    _assert_reads(spark, table, snapshot=False)

    # the writer's held rows are no longer the current file's: reseed
    app.ingest_batch(_coins(3)[:4], batch_ts=T0 + dt.timedelta(days=2))
    assert app._written.full_reads == 2
    _assert_reads(spark, table, snapshot=True)


def test_empty_poll_on_a_new_table(spark, tmp_path):
    """A poll with no valid row writes nothing and keeps no snapshot,
    even before the table has any file to seed one from."""
    table = str(tmp_path / "prices")
    app = PriceTracker(spark, table)
    assert app.ingest_batch([{"symbol": None, "name": "x", "current_price": 1.0}], T0) == 0
    assert current_snapshot(table) is None
    app.ingest_batch(_coins(1), batch_ts=T0)
    _assert_reads(spark, table, snapshot=True)


def test_push_less_tick_leaves_a_stale_snapshot(spark, tmp_path):
    table = str(tmp_path / "prices")
    state = _IncrementalSnapshot()
    _tick(spark, table, 0, state)
    _tick(spark, table, 1, state, symbols=("btc", "eth", "new"))
    _assert_reads(spark, table, snapshot=True)

    assert _tick(spark, table, 2, None, symbols=("btc", "sol", "late")) is None
    _assert_reads(spark, table, snapshot=False)

    pushed = _tick(spark, table, 3, state, symbols=("eth",))
    assert state.full_reads == 2
    got = _assert_reads(spark, table, snapshot=True)
    assert _norm("latest", pushed, _local_micros) == got["latest"]


def test_push_less_tick_at_or_below_the_newest_leaf(spark, tmp_path):
    """A push-less tick that lands below the newest leaf, or rewrites
    it, leaves the watermark as it was: the marker it adds first makes
    the reads fall back, and the older file stays for readers mid-scan."""
    table = str(tmp_path / "prices")
    app = PriceTracker(spark, table)
    # a poll stamped after the stream clock: the ticks all land below it
    app.ingest_batch(_coins(5), batch_ts=T0 + dt.timedelta(days=30))
    kept = current_snapshot(table)
    assert _tick(spark, table, 0, None, symbols=("btc", "only")) is None
    assert os.path.exists(kept)
    _assert_reads(spark, table, snapshot=False)
    assert _tick(spark, table, 1, None, symbols=("eth", "other")) is None
    _assert_reads(spark, table, snapshot=False)

    # a replay of the stream's own newest leaf, with other rows
    table = str(tmp_path / "replayed")
    state = _IncrementalSnapshot()
    _tick(spark, table, 0, state)
    _tick(spark, table, 1, state)
    _assert_reads(spark, table, snapshot=True)
    assert _tick(spark, table, 1, None, symbols=("sol", "replayed")) is None
    got = _assert_reads(spark, table, snapshot=False)
    assert "replayed" in {r[0] for r in got["latest"][0]}


def test_same_second_polls_tie_in_the_table(spark, tmp_path):
    """Two polls that share ``batch_ts`` tie on the timestamp; the
    table orders them by the event_ids each write numbered, so the
    second poll reseeds instead of folding in.  A symbol twice in one
    poll keeps its last row, as the window does."""
    table = str(tmp_path / "prices")
    app = PriceTracker(spark, table)
    symbols = ("btc", "eth", "sol", "ada", "dot", "xrp", "bnb", "trx", "ltc")
    app.ingest_batch(_coins(1, symbols), batch_ts=T0)
    _assert_reads(spark, table, snapshot=True)
    app.ingest_batch(_coins(2, symbols[::-1]), batch_ts=T0)
    assert app._written.full_reads == 2
    _assert_reads(spark, table, snapshot=True)

    twice = _coins(3, ("btc", "eth")) + _coins(4, ("sol", "btc"))
    app.ingest_batch(twice, batch_ts=T0 + dt.timedelta(minutes=1))
    assert app._written.full_reads == 2  # folded on the driver
    got = _assert_reads(spark, table, snapshot=True)
    assert {r[2] for r in got["latest"][0] if r[0] == "btc"} == {401.0}


def test_ingest_batch_between_stream_ticks(spark, tmp_path):
    table = str(tmp_path / "prices")
    state = _IncrementalSnapshot()
    _tick(spark, table, 0, state)
    _tick(spark, table, 1, state)

    app = PriceTracker(spark, table)
    app.ingest_batch(_coins(7, ("btc", "fresh")), batch_ts=T0 + dt.timedelta(minutes=7))
    _assert_reads(spark, table, snapshot=True)

    pushed = _tick(spark, table, 2, state, symbols=("eth",))
    assert state.full_reads == 2  # the ingest made the held rows stale
    got = _assert_reads(spark, table, snapshot=True)
    assert _norm("latest", pushed, _local_micros) == got["latest"]
    assert {r[0] for r in got["latest"][0]} >= {"fresh"}


def test_ingest_batch_below_the_newest_leaf(spark, tmp_path):
    """A write into an older partition leaves the newest leaf as it
    was, but stores a new snapshot version, so the stream's held rows
    are not built on."""
    table = str(tmp_path / "prices")
    state = _IncrementalSnapshot()
    _tick(spark, table, 0, state)
    _tick(spark, table, 1, state)
    before = current_snapshot(table)

    app = PriceTracker(spark, table)
    # older than every tick: its btc loses, its new symbol is the latest
    app.ingest_batch(_coins(9, ("btc", "old")), batch_ts=T0 - dt.timedelta(days=3))
    after = current_snapshot(table)
    assert after != before and os.path.basename(after)[12:] == os.path.basename(before)[12:]
    _assert_reads(spark, table, snapshot=True)

    # the tracker's own second write below the newest leaf folds in
    app.ingest_batch(_coins(8, ("older",)), batch_ts=T0 - dt.timedelta(days=5))
    assert app._written.full_reads == 1
    _assert_reads(spark, table, snapshot=True)

    _tick(spark, table, 2, state, symbols=("sol",))
    assert state.full_reads == 2
    got = _assert_reads(spark, table, snapshot=True)
    assert {"old", "older"} <= {r[0] for r in got["latest"][0]}


def _raw(spark, raw_dir, tick, symbols=None):
    rows = _coins(tick) if symbols is None else _coins(tick, symbols)
    spark.createDataFrame([tuple(r.values()) for r in rows], COINGECKO_RAW_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(raw_dir)


def test_restarted_stream_rebuilds_the_snapshot(spark, tmp_path):
    raw_dir, table, ckpt = (str(tmp_path / n) for n in ("raw", "prices", "ckpt"))
    pushes: list[list] = []
    _raw(spark, raw_dir, 0)
    _raw(spark, raw_dir, 1, ("btc", "eth"))
    run_ingest_stream(spark, raw_dir, table, ckpt, push_fn=pushes.append).awaitTermination(120)
    _assert_reads(spark, table, snapshot=True)

    _raw(spark, raw_dir, 2, ("sol", "new"))
    state = _IncrementalSnapshot()
    run_ingest_stream(
        spark, raw_dir, table, ckpt, push_fn=pushes.append, snapshot_state=state
    ).awaitTermination(120)
    assert len(pushes) == 3 and state.full_reads == 1
    got = _assert_reads(spark, table, snapshot=True)
    assert _norm("latest", pushes[-1], _local_micros) == got["latest"]
    assert len(os.listdir(os.path.join(table, SNAPSHOT_DIR))) == 3  # current + 2 kept


@pytest.fixture
def new_york():
    """The driver's local time zone set to America/New_York; the
    session time zone stays UTC."""
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        yield
    finally:
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()


def test_round_trip_in_another_time_zone(spark, tmp_path, new_york):
    """Collected timestamps are naive New York wall times here; the
    file stores the instants, so reads from it equal the full scan,
    across a DST change too."""
    table = str(tmp_path / "prices")
    app = PriceTracker(spark, table)
    app.ingest_batch(_coins(1), batch_ts=dt.datetime(2024, 3, 9, 23, 30))
    # 05:30Z and 06:30Z are the two 01:30s of 2024-11-03 in New York:
    # both collect as a naive 01:30, told apart only by fold
    first = dt.datetime(2024, 11, 3, 5, 30, 0, 250, tzinfo=dt.timezone.utc)
    second = first + dt.timedelta(hours=1)
    app.ingest_batch(_coins(2, ("btc", "eth")), batch_ts=first)
    app.ingest_batch(_coins(3, ("sol", "ada")), batch_ts=second)
    got = _assert_reads(spark, table, snapshot=True)
    stored = pq.read_table(current_snapshot(table)).column("timestamp").to_pylist()
    assert {_utc_micros(t) for t in stored} == {r[5] for r in got["latest"][0]}
    assert {first, second} <= set(stored)

    state = _IncrementalSnapshot()
    _tick(spark, table, 0, state, symbols=("btc",))  # 2024-01-01, below the newest leaf
    _assert_reads(spark, table, snapshot=True)


def test_readers_during_a_stream_see_committed_ticks(spark, tmp_path):
    """Two threads loop latest() while a stream runs 10 ticks: no read
    fails, and each answer is the pushed answer of some tick."""
    raw_dir, table, ckpt = (str(tmp_path / n) for n in ("raw", "prices", "ckpt"))
    pushes: list[list] = []
    _raw(spark, raw_dir, 0)
    run_ingest_stream(spark, raw_dir, table, ckpt, push_fn=pushes.append).awaitTermination(120)
    for t in range(1, 11):
        _raw(spark, raw_dir, t)

    app = PriceTracker(spark, table)
    answers: list = []
    errors: list = []
    done = threading.Event()

    def reader():
        while not done.is_set():
            try:
                answers.append(_norm("latest", app.latest().collect(), _local_micros))
            except Exception as e:  # counted: the test expects none
                errors.append(e)

    threads = [threading.Thread(target=reader) for _ in range(2)]
    for th in threads:
        th.start()
    try:
        run_ingest_stream(spark, raw_dir, table, ckpt, push_fn=pushes.append).awaitTermination(300)
    finally:
        done.set()
        for th in threads:
            th.join(120)
    assert errors == []
    assert len(pushes) == 11 and len(answers) > 0
    committed = [_norm("latest", rows, _local_micros) for rows in pushes]
    assert all(a in committed for a in answers)
