"""Streaming pipeline tests (SURVEY.md section 5.4): micro-batch
ingest through foreachBatch, snapshot monotonicity, failed-batch
isolation, and the stateful streaming operators."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from crypto_price_tracker_with_etl_dashboard_spark.schema import COINGECKO_RAW_SCHEMA
from crypto_price_tracker_with_etl_dashboard_spark.streaming import run_ingest_stream


def _write_raw_batch(spark, path, rows):
    spark.createDataFrame(rows, schema=COINGECKO_RAW_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


BATCH1 = [
    ("BTC", "Bitcoin", 100.0, 1e9, 1e6),
    ("ETH", "Ethereum", 50.0, 5e8, 1e5),
    (None, "Bad", 1.0, None, None),  # dropped by validation
]
BATCH2 = [
    ("BTC", "Bitcoin", 110.0, 1.1e9, 1e6),
    ("SOL", "Solana", 20.0, 2e8, 5e4),
]


def test_ingest_stream_end_to_end(spark, tmp_path):
    raw_dir = str(tmp_path / "raw")
    table = str(tmp_path / "prices")
    ckpt = str(tmp_path / "ckpt")
    pushes: list[list] = []

    _write_raw_batch(spark, raw_dir, BATCH1)
    q = run_ingest_stream(spark, raw_dir, table, ckpt, push_fn=pushes.append)
    q.awaitTermination(120)

    out = spark.read.parquet(table)
    assert out.count() == 2  # bad row dropped
    assert {r["symbol"] for r in out.collect()} == {"btc", "eth"}
    # snapshot push happened, ordered desc by cap
    assert len(pushes) == 1
    assert [r["symbol"] for r in pushes[-1]] == ["btc", "eth"]

    # second poll: restart from checkpoint picks up only the new file
    _write_raw_batch(spark, raw_dir, BATCH2)
    q = run_ingest_stream(spark, raw_dir, table, ckpt, push_fn=pushes.append)
    q.awaitTermination(120)

    out = spark.read.parquet(table)
    assert out.count() == 4
    snap = {r["symbol"]: r for r in pushes[-1]}
    assert snap["btc"]["current_price"] == 110.0  # latest wins
    assert set(snap) == {"btc", "eth", "sol"}     # eth stale but present


def test_snapshot_push_is_incremental(spark, tmp_path):
    """Scale pin: after the one-time seed, the push path must NOT
    re-read the accumulated prices table per micro-batch (the
    unbounded full-history scan VERDICT r1 flagged) — state merges
    driver-side from the batch's own rows."""
    import datetime as dt

    from crypto_price_tracker_with_etl_dashboard_spark.schema import PRICES_SCHEMA
    from crypto_price_tracker_with_etl_dashboard_spark.streaming.pipeline import (
        _IncrementalSnapshot,
    )

    table = str(tmp_path / "prices")
    t0 = dt.datetime(2024, 1, 1, 0, 0)
    spark.createDataFrame(
        [("btc", "Bitcoin", 100.0, 1e9, 1e6, t0)], PRICES_SCHEMA
    ).write.parquet(table)

    snap = _IncrementalSnapshot()
    first = snap.merge(spark, table, spark.read.parquet(table))
    assert [r["symbol"] for r in first] == ["btc"]

    batch2 = spark.createDataFrame(
        [
            ("btc", "Bitcoin", 110.0, 1.1e9, 1e6, t0 + dt.timedelta(minutes=5)),
            ("sol", "Solana", 20.0, 2e8, 5e4, t0 + dt.timedelta(minutes=5)),
        ],
        PRICES_SCHEMA,
    )
    # a bogus table path proves the warm path never touches the table
    rows = snap.merge(spark, str(tmp_path / "does_not_exist"), batch2)
    got = {r["symbol"]: r["current_price"] for r in rows}
    assert got == {"btc": 110.0, "sol": 20.0}
    assert [r["symbol"] for r in rows] == ["btc", "sol"]  # cap desc


def test_push_merge_orders_on_driver(spark, tmp_path):
    """The push path computes unordered snapshot rows in Spark and
    orders them on the driver: a seed merge runs schema inference plus
    the window's two jobs, a warm merge only the window's two, and no
    merge runs a range-sort job.  The rows come out cap-descending with
    NULLs first and equal a full recompute as a multiset."""
    import datetime as dt
    from collections import Counter

    from crypto_price_tracker_with_etl_dashboard_spark.schema import PRICES_SCHEMA
    from crypto_price_tracker_with_etl_dashboard_spark.streaming.pipeline import (
        _IncrementalSnapshot,
        snapshot_for_push,
    )
    from tests.conftest import jobs_run

    table = str(tmp_path / "prices")
    t0 = dt.datetime(2024, 1, 1, 0, 0)
    t1 = t0 + dt.timedelta(minutes=5)

    def batch(rows, batch_id):
        return (
            spark.createDataFrame(rows, PRICES_SCHEMA)
            .withColumn("event_id", F.monotonically_increasing_id())
            .withColumn("dt", F.to_date("timestamp"))
            .withColumn("batch", F.lit(batch_id))
        )

    def write(df):
        df.write.mode("append").partitionBy("dt", "batch").parquet(table)

    first = batch([
        ("btc", "Bitcoin", 100.0, 1e9, 1e6, t0),
        ("eth", "Ethereum", 50.0, 5e8, 1e5, t0),
        ("doge", "Dogecoin", 1.0, None, 5.0, t0),
        ("zero", "ZeroCap", 2.0, 0.0, 1.0, t0),
    ], 0)
    write(first)
    state = _IncrementalSnapshot()
    seed, jobs = jobs_run(spark, "push-seed", lambda: state.merge(spark, table, first))
    assert jobs == 3
    assert [r["market_cap"] for r in seed] == [None, 1e9, 5e8, 0.0]
    assert Counter(seed) == Counter(snapshot_for_push(spark.read.parquet(table)).collect())

    second = batch([
        ("eth", "Ethereum", 55.0, 2e9, 1e5, t1),
        ("eth", "Ethereum", 56.0, 3e9, 1e5, t1),  # same-tick tie: later event wins
        ("zero", "ZeroCap", 2.2, 0.0, 1.0, t1),
        ("sol", "Solana", 20.0, None, 5e4, t1),
    ], 1)
    write(second)
    warm, jobs = jobs_run(spark, "push-warm", lambda: state.merge(spark, table, second))
    assert jobs == 2
    assert state.full_reads == 1
    caps = [r["market_cap"] for r in warm]
    assert caps[:2] == [None, None] and caps[2:] == [3e9, 1e9, 0.0]
    assert Counter(warm) == Counter(snapshot_for_push(spark.read.parquet(table)).collect())


def test_write_tick_jobs(spark, tmp_path):
    """The ETL tick body both streams run: validate -> one overwrite
    write job -> snapshot merge.  A seed tick runs 4 jobs (write,
    schema inference, the window's two) and a warm tick 3 (write, the
    window's two), as the per-stream inline bodies did; without a
    snapshot a tick is the write alone."""
    import datetime as dt

    from crypto_price_tracker_with_etl_dashboard_spark.streaming.pipeline import (
        _IncrementalSnapshot,
        _write_tick,
    )
    from tests.conftest import jobs_run

    table = str(tmp_path / "prices")
    t0 = dt.datetime(2024, 1, 1)
    state = _IncrementalSnapshot()

    def tick(rows, batch_id, snapshot):
        raw = spark.createDataFrame(rows, COINGECKO_RAW_SCHEMA)
        ts = t0 + dt.timedelta(minutes=5 * batch_id)
        return jobs_run(
            spark, f"tick-{batch_id}",
            lambda: _write_tick(spark, raw, ts, batch_id, table, snapshot),
        )

    seed, jobs = tick(BATCH1, 0, state)
    assert jobs == 4 and [r["symbol"] for r in seed] == ["btc", "eth"]
    warm, jobs = tick(BATCH2, 1, state)
    assert jobs == 3 and state.full_reads == 1
    assert {r["symbol"]: r["current_price"] for r in warm} == {
        "btc": 110.0, "eth": 50.0, "sol": 20.0,
    }
    assert tick(BATCH2, 2, None) == (None, 1)
    stored = spark.read.parquet(table)
    assert sorted(r["batch"] for r in stored.select("batch").distinct().collect()) == [0, 1, 2]
    assert stored.count() == 6


def test_multi_batch_push_within_one_run(spark, tmp_path):
    """Two raw files -> two micro-batches in ONE stream run: the
    second push exercises the warm incremental merge (no reseed) and
    must still reflect latest-per-symbol across both batches."""
    raw_dir = str(tmp_path / "raw")
    table = str(tmp_path / "prices")
    ckpt = str(tmp_path / "ckpt")
    pushes: list[list] = []

    _write_raw_batch(spark, raw_dir, BATCH1)
    _write_raw_batch(spark, raw_dir, BATCH2)
    q = run_ingest_stream(spark, raw_dir, table, ckpt, push_fn=pushes.append)
    q.awaitTermination(120)

    assert len(pushes) == 2
    snap = {r["symbol"]: r for r in pushes[-1]}
    assert set(snap) == {"btc", "eth", "sol"}
    assert snap["btc"]["current_price"] == 110.0


def test_batch_constant_timestamp_within_batch(spark, tmp_path):
    raw_dir = str(tmp_path / "raw")
    table = str(tmp_path / "prices")
    _write_raw_batch(spark, raw_dir, BATCH1)
    q = run_ingest_stream(spark, raw_dir, table, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    stamps = {r["timestamp"] for r in spark.read.parquet(table).collect()}
    assert len(stamps) == 1  # P5: one timestamp per micro-batch


def test_failed_push_does_not_kill_stream(spark, tmp_path):
    raw_dir = str(tmp_path / "raw")
    table = str(tmp_path / "prices")

    def exploding_push(rows):
        raise RuntimeError("sink down")

    _write_raw_batch(spark, raw_dir, BATCH1)
    q = run_ingest_stream(spark, raw_dir, table, str(tmp_path / "ckpt"), push_fn=exploding_push)
    q.awaitTermination(120)
    assert q.exception() is None  # batch isolated, stream alive
    # The append ran before the push failed (at-most-once per batch,
    # reference parity T7)
    assert spark.read.parquet(table).count() == 2


def test_streaming_sessionize_closes_on_gap(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState): a later
    event beyond the gap closes the open session and emits it."""
    import datetime as dt

    from pyspark.sql.types import LongType, StructField, StructType, TimestampType

    from crypto_price_tracker_with_etl_dashboard_spark.streaming.sessionize import (
        streaming_sessionize,
    )

    schema = StructType(
        [StructField("user_id", LongType()), StructField("ts", TimestampType())]
    )
    pdir = str(tmp_path / "events_stream")
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    batch1 = [
        (1, t0),
        (1, t0 + dt.timedelta(minutes=10)),   # same session (gap 30 min)
        (2, t0),
    ]
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode("append").parquet(pdir)
    stream = spark.readStream.schema(schema).parquet(pdir)
    q = (
        streaming_sessionize(stream, gap_seconds=1800)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions_test")
        .start()
    )
    try:
        q.processAllAvailable()
        # nothing closed yet: both sessions still open in state
        assert spark.sql("SELECT * FROM sessions_test").count() == 0

        batch2 = [(1, t0 + dt.timedelta(hours=2))]  # gap > 30 min -> closes
        spark.createDataFrame(batch2, schema).coalesce(1).write.mode("append").parquet(pdir)
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM sessions_test").collect()
        assert len(rows) == 1
        r = rows[0]
        assert r["user_id"] == 1 and r["n_events"] == 2
        assert r["session_start"] == t0
        assert r["session_end"] == t0 + dt.timedelta(minutes=10)
    finally:
        q.stop()


def test_streaming_ohlc_emits_on_watermark(spark, tmp_path):
    """Tumbling-window OHLC in append mode: a candle is emitted once
    the watermark passes its window end."""
    import datetime as dt

    from crypto_price_tracker_with_etl_dashboard_spark.schema import PRICES_SCHEMA
    from crypto_price_tracker_with_etl_dashboard_spark.streaming.windows import ohlc_candles

    pdir = str(tmp_path / "prices_ohlc")
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    batch1 = [
        ("btc", "Bitcoin", 100.0, 1e9, 10.0, t0),
        ("btc", "Bitcoin", 120.0, 1e9, 5.0, t0 + dt.timedelta(minutes=2)),
        ("btc", "Bitcoin", 90.0, 1e9, 2.5, t0 + dt.timedelta(minutes=4)),
    ]
    spark.createDataFrame(batch1, PRICES_SCHEMA).coalesce(1).write.mode("append").parquet(pdir)
    stream = spark.readStream.schema(PRICES_SCHEMA).parquet(pdir)
    q = (
        ohlc_candles(stream, window="5 minutes", watermark="10 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ohlc_test")
        .start()
    )
    try:
        q.processAllAvailable()
        # advance event time far enough to close the first window
        late = [("btc", "Bitcoin", 200.0, 1e9, 1.0, t0 + dt.timedelta(minutes=30))]
        spark.createDataFrame(late, PRICES_SCHEMA).coalesce(1).write.mode("append").parquet(pdir)
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM ohlc_test").collect()
        assert len(rows) == 1
        r = rows[0]
        assert r["symbol"] == "btc" and r["n_ticks"] == 3
        assert (r["open"], r["high"], r["low"], r["close"]) == (100.0, 120.0, 90.0, 90.0)
        assert r["volume"] == 17.5
        assert r["window_start"] == t0
    finally:
        q.stop()


def test_dedup_stream_drops_redelivered(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a row re-delivered in a later
    micro-batch (same key, within the watermark) is emitted once."""
    import datetime as dt

    from pyspark.sql.types import (
        DoubleType, StringType, StructField, StructType, TimestampType,
    )

    from crypto_price_tracker_with_etl_dashboard_spark.streaming import dedup_stream

    schema = StructType(
        [
            StructField("symbol", StringType()),
            StructField("current_price", DoubleType()),
            StructField("timestamp", TimestampType()),
        ]
    )
    pdir = str(tmp_path / "dedup_stream")
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    spark.createDataFrame(
        [("btc", 100.0, t0), ("eth", 50.0, t0)], schema
    ).coalesce(1).write.mode("append").parquet(pdir)
    stream = spark.readStream.schema(schema).parquet(pdir)
    q = (
        dedup_stream(stream, ["symbol", "timestamp"])
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_test")
        .start()
    )
    try:
        q.processAllAvailable()
        # redelivery of btc@t0 plus one genuinely new row
        spark.createDataFrame(
            [("btc", 100.0, t0), ("btc", 101.0, t0 + dt.timedelta(minutes=1))],
            schema,
        ).coalesce(1).write.mode("append").parquet(pdir)
        q.processAllAvailable()
        rows = spark.sql("SELECT symbol, current_price FROM dedup_test").collect()
        got = sorted((r["symbol"], r["current_price"]) for r in rows)
        assert got == [("btc", 100.0), ("btc", 101.0), ("eth", 50.0)]
    finally:
        q.stop()


def test_interval_join_streams(spark, tmp_path):
    """Stream-stream interval join: trades match quotes within the
    lookback window only; out-of-window quotes don't join."""
    import datetime as dt

    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType, TimestampType,
    )

    from crypto_price_tracker_with_etl_dashboard_spark.streaming import (
        interval_join_streams,
    )

    qschema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("qts", TimestampType()),
            StructField("quote_price", DoubleType()),
        ]
    )
    tschema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("tts", TimestampType()),
            StructField("trade_id", LongType()),
        ]
    )
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    qdir, tdir = str(tmp_path / "quotes"), str(tmp_path / "trades")
    spark.createDataFrame(
        [
            (1, t0, 10.0),                                # in window for trade@t0+5m
            (1, t0 - dt.timedelta(minutes=30), 9.0),      # too old -> no match
            (2, t0 + dt.timedelta(minutes=6), 99.0),      # after trade@t0+5m -> no match
        ],
        qschema,
    ).coalesce(1).write.mode("append").parquet(qdir)
    spark.createDataFrame(
        [(1, t0 + dt.timedelta(minutes=5), 100), (2, t0 + dt.timedelta(minutes=5), 200)],
        tschema,
    ).coalesce(1).write.mode("append").parquet(tdir)

    trades = spark.readStream.schema(tschema).parquet(tdir)
    quotes = spark.readStream.schema(qschema).parquet(qdir)
    joined = interval_join_streams(
        trades, quotes, on="user_id", left_ts="tts", right_ts="qts",
        lookback="10 minutes",
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssjoin_test")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT trade_id, quote_price FROM ssjoin_test"
        ).collect()
        assert [(r["trade_id"], r["quote_price"]) for r in rows] == [(100, 10.0)]
    finally:
        q.stop()


def test_push_socket_example_broadcasts_snapshot(spark, tmp_path):
    """Worked push-sink example (examples/push_socket_server.py): a
    TCP subscriber receives the reference's broadcast envelope
    (api/server.js:182) after the micro-batch commits."""
    import json
    import socket

    from examples.push_socket_server import SnapshotBroadcastServer

    server = SnapshotBroadcastServer()
    try:
        client = socket.create_connection(server.address, timeout=10)
        import time

        time.sleep(0.2)  # let the acceptor register the client

        raw_dir = str(tmp_path / "raw")
        _write_raw_batch(spark, raw_dir, BATCH1)
        q = run_ingest_stream(
            spark, raw_dir, str(tmp_path / "prices"), str(tmp_path / "ckpt"),
            push_fn=server.push,
        )
        q.awaitTermination(120)

        client.settimeout(10)
        buf = b""
        while not buf.endswith(b"\n"):
            buf += client.recv(65536)
        msg = json.loads(buf.decode())
        assert msg["type"] == "latest_crypto_update"
        assert [d["symbol"] for d in msg["data"]] == ["btc", "eth"]
        client.close()
    finally:
        server.close()


def test_streaming_document_dedup_matches_batch(spark, tmp_path):
    """The streaming content-fingerprint dedup must emit exactly the
    batch exact_dedup keepers over the same data (arrivals id-ordered,
    so first-arrival == min-id): the bridge a continuously-ingesting
    training pipeline needs between the batch dedup surface and its
    stream."""
    import datetime as dt

    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType, TimestampType,
    )

    from crypto_price_tracker_with_etl_dashboard_spark.functions.dedup import (
        exact_dedup,
    )
    from crypto_price_tracker_with_etl_dashboard_spark.streaming import (
        dedup_documents_stream,
    )

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("ingest_ts", TimestampType()),
        ]
    )
    pdir = str(tmp_path / "doc_stream")
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    batch1 = [(0, "alpha beta", t0), (1, "gamma delta", t0)]
    # doc 2 normalizes to doc 0's content (case + whitespace runs);
    # doc 3 is genuinely new
    batch2 = [
        (2, "Alpha   BETA", t0 + dt.timedelta(minutes=1)),
        (3, "epsilon", t0 + dt.timedelta(minutes=1)),
    ]
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(pdir)
    stream = spark.readStream.schema(schema).parquet(pdir)
    q = (
        dedup_documents_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("doc_dedup_stream")
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(batch2, schema).coalesce(1).write.mode(
            "append"
        ).parquet(pdir)
        q.processAllAvailable()
        streamed = spark.sql(
            "SELECT doc_id, fp FROM doc_dedup_stream"
        ).collect()
    finally:
        q.stop()

    all_docs = spark.createDataFrame(batch1 + batch2, schema)
    batch_kept = {
        (r["kept_doc_id"], r["fp"]) for r in exact_dedup(all_docs).collect()
    }
    assert {(r["doc_id"], r["fp"]) for r in streamed} == batch_kept
    assert len(streamed) == 3  # 0, 1, 3 — doc 2's re-arrival dropped


def test_multi_batch_run_reads_table_exactly_once(spark, tmp_path):
    """End-to-end scan pin (r5 verdict ask #6): across a THREE-batch
    stream run, the push path performs exactly ONE full-table read —
    the cold-start seed — and every later trigger folds only its own
    batch into the in-memory state.  The final pushed snapshot must
    still equal a from-scratch recompute over the whole table."""
    from crypto_price_tracker_with_etl_dashboard_spark.streaming.pipeline import (
        _IncrementalSnapshot,
        snapshot_for_push,
    )

    raw_dir = str(tmp_path / "raw")
    table = str(tmp_path / "prices")
    ckpt = str(tmp_path / "ckpt")
    pushes: list[list] = []
    state = _IncrementalSnapshot()

    _write_raw_batch(spark, raw_dir, BATCH1)
    _write_raw_batch(spark, raw_dir, BATCH2)
    _write_raw_batch(spark, raw_dir, [("ADA", "Cardano", 2.0, 7e7, 1e4)])
    q = run_ingest_stream(
        spark, raw_dir, table, ckpt, push_fn=pushes.append, snapshot_state=state
    )
    q.awaitTermination(180)

    assert len(pushes) == 3
    assert state.full_reads == 1  # the seed; warm merges never rescan
    expect = [
        (r["symbol"], r["current_price"])
        for r in snapshot_for_push(spark.read.parquet(table)).collect()
    ]
    got = [(r["symbol"], r["current_price"]) for r in pushes[-1]]
    assert got == expect


def test_streaming_vwap_matches_batch_query(spark, tmp_path):
    """vwap_windows on a stream (append mode, incremental state)
    must produce the EXACT rows the batch form produces on the same
    data — the fixed-point partials are integers, so micro-batch
    accumulation vs one-shot aggregation cannot differ by an ulp."""
    import datetime as dt

    from crypto_price_tracker_with_etl_dashboard_spark.schema import PRICES_SCHEMA
    from crypto_price_tracker_with_etl_dashboard_spark.streaming.windows import (
        vwap_windows,
    )

    pdir = str(tmp_path / "prices_vwap")
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    batch1 = [
        ("btc", "Bitcoin", 100.0, 1e9, 1.0, t0),
        ("btc", "Bitcoin", 120.0, 1e9, 3.0, t0 + dt.timedelta(minutes=10)),
        ("eth", "Ethereum", 10.0, 1e9, 2.0, t0 + dt.timedelta(minutes=20)),
        ("eth", "Ethereum", 0.0, 1e9, 0.0, t0),  # zero volume -> excluded
    ]
    spark.createDataFrame(batch1, PRICES_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(pdir)
    stream = spark.readStream.schema(PRICES_SCHEMA).parquet(pdir)
    q = (
        vwap_windows(stream, window="1 hour", watermark="10 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("vwap_test")
        .start()
    )
    try:
        q.processAllAvailable()
        late = [("btc", "Bitcoin", 1.0, 1e9, 1.0, t0 + dt.timedelta(hours=3))]
        spark.createDataFrame(late, PRICES_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(pdir)
        q.processAllAvailable()
        got = {
            (r["symbol"], r["window_start"]): (r["vwap"], r["n_ticks"])
            for r in spark.sql("SELECT * FROM vwap_test").collect()
        }
        # closed first-hour windows for both symbols
        assert got[("btc", t0)] == ((100.0 * 1 + 120.0 * 3) / 4.0, 2)
        assert got[("eth", t0)] == (10.0, 1)
        # batch form on the same rows yields the identical windows
        batch_df = spark.createDataFrame(batch1 + late, PRICES_SCHEMA)
        batch = {
            (r["symbol"], r["window_start"]): (r["vwap"], r["n_ticks"])
            for r in vwap_windows(batch_df).collect()
        }
        for k, v in got.items():
            assert batch[k] == v
    finally:
        q.stop()


def test_is_cancellation_detects_python_side_stop():
    """After spark.stop() from Python, sparkContext._jsc is None —
    the isStopped() probe must read that as shutdown, not fall
    through to the structural checks (which a plain post-stop Python
    error would not satisfy)."""
    from types import SimpleNamespace

    from crypto_price_tracker_with_etl_dashboard_spark.streaming.pipeline import (
        _is_cancellation,
    )

    fake = SimpleNamespace(sparkContext=SimpleNamespace(_jsc=None))
    assert _is_cancellation(RuntimeError("boom"), fake) is True


class _FakeState:
    """Minimal GroupState stand-in for unit-testing the sessionize
    kernel without a running stream."""

    def __init__(self, value=None):
        self._v = value
        self.hasTimedOut = False

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def remove(self):
        self._v = None

    def setTimeoutDuration(self, ms):
        pass


def test_sessionize_kernel_splits_late_earlier_session():
    """A late cross-batch event more than a gap BEFORE the open
    session must become its own closed session (the batch twin splits
    it) — not silently fold into the open session."""
    import pandas as pd

    from crypto_price_tracker_with_etl_dashboard_spark.streaming.sessionize import (
        make_sessionize_fn,
    )

    fn = make_sessionize_fn(gap_seconds=300)
    state = _FakeState((1000, 1000, 1))
    out = list(
        fn((7,), iter([pd.DataFrame({"ts": [pd.Timestamp(500, unit="s")]})]), state)
    )
    assert state.get == (1000, 1000, 1)  # open session untouched
    assert len(out) == 1
    (row,) = out[0].to_dict("records")
    assert (
        row["session_start"], row["session_end"], row["n_events"]
    ) == (pd.Timestamp(500, unit="s"), pd.Timestamp(500, unit="s"), 1)


def test_sessionize_kernel_extends_start_backwards_and_drops_nat():
    import pandas as pd

    from crypto_price_tracker_with_etl_dashboard_spark.streaming.sessionize import (
        make_sessionize_fn,
    )

    fn = make_sessionize_fn(gap_seconds=300)
    state = _FakeState((1000, 1000, 1))
    # 800 is within the gap BEFORE the open start: merge, extending
    # session_start backwards; the NULL ts must be dropped, not crash
    batch = pd.DataFrame({"ts": [pd.Timestamp(800, unit="s"), pd.NaT]})
    out = list(fn((7,), iter([batch]), state))
    assert out == []
    assert state.get == (800, 1000, 2)


def test_streaming_ema_matches_batch_operator(spark, tmp_path):
    """The streaming EMA twin emits EXACTLY the batch operator's rows
    after any prefix of in-order micro-batches — same integer
    recursion, same fixed-point values, bit for bit."""
    import datetime as dt

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from crypto_price_tracker_with_etl_dashboard_spark.operators.indicators import (
        ema_macd,
    )
    from crypto_price_tracker_with_etl_dashboard_spark.streaming.indicators import (
        streaming_ema_macd,
    )

    schema = StructType(
        [
            StructField("symbol", StringType()),
            StructField("timestamp", TimestampType()),
            StructField("event_id", LongType()),
            StructField("current_price", DoubleType()),
        ]
    )
    t0 = dt.datetime(2024, 1, 1)

    def tick(sym, minute, eid, price):
        return (sym, t0 + dt.timedelta(minutes=minute), eid, price)

    batch1 = [
        tick("btc", 0, 1, 100.0),
        tick("btc", 1, 2, 101.5),
        tick("eth", 0, 3, 10.0),
        # within-batch disorder is fine: sorted by ts before folding
        tick("eth", 2, 5, 10.4),
        tick("eth", 1, 4, 10.2),
    ]
    batch2 = [
        tick("btc", 2, 6, 99.25),
        tick("eth", 3, 7, 10.6),
        tick("btc", 3, 8, 103.0),
    ]

    pdir = str(tmp_path / "prices_stream")
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode("append").parquet(pdir)
    stream = spark.readStream.schema(schema).parquet(pdir)
    q = (
        streaming_ema_macd(stream, fast=2, slow=4)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ema_stream_test")
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(batch2, schema).coalesce(1).write.mode("append").parquet(pdir)
        q.processAllAvailable()
        streamed = {
            (r["symbol"], r["rn"]): (r["ema_fast"], r["ema_slow"], r["macd"])
            for r in spark.sql("SELECT * FROM ema_stream_test").collect()
        }
    finally:
        q.stop()

    all_rows = spark.createDataFrame(batch1 + batch2, schema)
    batch = {
        (r["symbol"], r["rn"]): (r["ema_fast"], r["ema_slow"], r["macd"])
        for r in ema_macd(
            all_rows, "symbol", ["timestamp", "event_id"], "current_price",
            fast=2, slow=4,
        ).collect()
    }
    assert streamed == batch
    assert len(streamed) == 8


def test_streaming_cms_equals_batch_sketch(spark, tmp_path):
    """The streaming CMS is a plain update-mode aggregation whose
    state is bounded by depth*width cells with NO watermark; after
    two micro-batches the snapshot equals cms_build over everything
    ingested (sketch linearity)."""
    from crypto_price_tracker_with_etl_dashboard_spark.functions.sketch import (
        cms_build,
        streaming_cms,
    )

    pdir = str(tmp_path / "keys_stream")
    b1 = [(i % 5,) for i in range(40)]
    b2 = [(99,)] * 17
    spark.createDataFrame(b1, "k bigint").coalesce(1).write.mode("append").parquet(pdir)
    stream = spark.readStream.schema("k bigint").parquet(pdir)
    q = (
        streaming_cms(stream, "k", depth=4, width=16)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("cms_stream_test")
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(b2, "k bigint").coalesce(1).write.mode("append").parquet(pdir)
        q.processAllAvailable()
        streamed = {
            (r["j"], r["bucket"]): r["cnt"]
            for r in spark.sql("SELECT * FROM cms_stream_test").collect()
        }
    finally:
        q.stop()
    whole = {
        (r["j"], r["bucket"]): r["cnt"]
        for r in cms_build(
            spark.createDataFrame(b1 + b2, "k bigint"), "k", depth=4, width=16
        ).collect()
    }
    assert streamed == whole
    assert len(streamed) <= 4 * 16


def test_cms_estimate_zero_for_unseen_key_with_empty_cell(spark):
    """A key that hashes to ANY never-incremented cell must estimate
    0 — the left-join/coalesce path; an inner join would silently
    overestimate from the key's other (collided) cells."""
    from crypto_price_tracker_with_etl_dashboard_spark.functions.sketch import (
        cms_build,
        cms_estimate,
    )

    base = spark.createDataFrame([(1,), (2,)], "k bigint")
    sketch = cms_build(base, "k", depth=4, width=256)
    # width 256 >> 2 keys: an unseen key almost surely hits an empty
    # cell in at least one row; scan a few to make the test robust
    probes = spark.createDataFrame([(x,) for x in range(100, 110)], "k bigint")
    est = cms_estimate(sketch, probes, "k", depth=4, width=256)
    assert est.filter("est = 0").count() >= 1
    assert est.filter("est < 0").count() == 0


def test_streaming_histogram_bounded_state_and_clamping(spark, tmp_path):
    """Fixed-bounds streaming histogram: state stays <= n_buckets
    rows, out-of-range values clamp into the edge buckets, and after
    two micro-batches the snapshot equals a batch aggregation over
    everything ingested."""
    from crypto_price_tracker_with_etl_dashboard_spark.functions.sketch import (
        streaming_histogram,
    )

    pdir = str(tmp_path / "vals_stream")
    b1 = [(float(v),) for v in range(10)]          # 0..9
    b2 = [(-5.0,), (99.0,), (5.0,)]                # clamps + one in-range
    spark.createDataFrame(b1, "v double").coalesce(1).write.mode("append").parquet(pdir)
    stream = spark.readStream.schema("v double").parquet(pdir)
    q = (
        streaming_histogram(stream, "v", lo=0.0, hi=10.0, n_buckets=5)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("hist_stream_test")
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(b2, "v double").coalesce(1).write.mode("append").parquet(pdir)
        q.processAllAvailable()
        hist = {
            r["bucket"]: r["n"]
            for r in spark.sql("SELECT * FROM hist_stream_test").collect()
        }
    finally:
        q.stop()
    # 13 values over 5 buckets of width 2: -5 clamps to bucket 0,
    # 99 clamps to bucket 4, 5.0 joins bucket 2
    assert sum(hist.values()) == 13
    assert len(hist) <= 5
    assert hist == {0: 3, 1: 2, 2: 3, 3: 2, 4: 3}


def test_streaming_ema_state_survives_restart(spark, tmp_path):
    """Stopping the EMA stream and restarting from its checkpoint
    resumes the per-key recursion EXACTLY where it left off: rows
    emitted after the restart carry the rn/EMA values the batch
    operator assigns over the full concatenated history — state is
    neither reset nor replayed."""
    import datetime as dt

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from crypto_price_tracker_with_etl_dashboard_spark.operators.indicators import (
        ema_macd,
    )
    from crypto_price_tracker_with_etl_dashboard_spark.streaming.indicators import (
        streaming_ema_macd,
    )

    schema = StructType(
        [
            StructField("symbol", StringType()),
            StructField("timestamp", TimestampType()),
            StructField("event_id", LongType()),
            StructField("current_price", DoubleType()),
        ]
    )
    t0 = dt.datetime(2024, 1, 1)
    batch1 = [("btc", t0 + dt.timedelta(minutes=i), i, 100.0 + i) for i in range(3)]
    batch2 = [("btc", t0 + dt.timedelta(minutes=3 + i), 10 + i, 90.0 + i) for i in range(3)]

    pdir = str(tmp_path / "prices_stream")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "ema_out")

    def start():
        # file sink, not memory: the memory sink rejects checkpoint
        # recovery ("does not support recovering"), and the parquet
        # sink additionally proves no row is duplicated or skipped
        # across the restart (its manifest is part of the checkpoint)
        stream = spark.readStream.schema(schema).parquet(pdir)
        return (
            streaming_ema_macd(stream, fast=2, slow=4)
            .writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .format("parquet")
            .option("path", out)
            .start()
        )

    spark.createDataFrame(batch1, schema).coalesce(1).write.mode("append").parquet(pdir)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # restart from the checkpoint, then feed more data
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode("append").parquet(pdir)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    streamed_rows = spark.read.parquet(out).collect()
    streamed = {r["rn"]: (r["ema_fast"], r["ema_slow"]) for r in streamed_rows}
    batch = {
        r["rn"]: (r["ema_fast"], r["ema_slow"])
        for r in ema_macd(
            spark.createDataFrame(batch1 + batch2, schema),
            "symbol", ["timestamp", "event_id"], "current_price",
            fast=2, slow=4,
        ).collect()
    }
    # exactly-once across the restart: all 6 ticks present once, and
    # the post-restart rows (rn 4..6) carry the values the batch
    # operator assigns over the FULL history — the recursion resumed
    # from checkpointed state, neither reset nor replayed
    assert len(streamed_rows) == 6
    assert streamed == batch, (streamed, batch)


def _cdc_schema():
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    return StructType(
        [
            StructField("k", LongType()),
            StructField("name", StringType()),
            StructField("val", DoubleType()),
            StructField("op", StringType()),
            StructField("seq", LongType()),
        ]
    )


def test_cdc_apply_merges_batches_and_survives_restart(spark, tmp_path):
    """Change batches stream into a materialized table: inserts,
    then update+delete, then — after a stop/restart from the same
    checkpoint — another update.  The committed table equals the
    sequential batch-merge at every step, and version history stays
    readable (time travel) until pruned."""
    from crypto_price_tracker_with_etl_dashboard_spark.streaming.cdc import (
        current_version,
        prune_versions,
        read_cdc_table,
        run_cdc_apply,
    )

    schema = _cdc_schema()
    src = str(tmp_path / "changes")
    tdir = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    def put(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def start():
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(src)
        return run_cdc_apply(spark, stream, tdir, "k", ckpt)

    put([(1, "a", 1.0, "I", 1), (2, "b", 2.0, "I", 1)])
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    t1 = {
        r["k"]: (r["name"], r["val"])
        for r in read_cdc_table(spark, tdir).collect()
    }
    assert t1 == {1: ("a", 1.0), 2: ("b", 2.0)}

    put([(2, "B", 9.0, "U", 2), (1, "a", 1.0, "D", 2), (3, "c", 3.0, "I", 2)])
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    t2 = {
        r["k"]: (r["name"], r["val"])
        for r in read_cdc_table(spark, tdir).collect()
    }
    assert t2 == {2: ("B", 9.0), 3: ("c", 3.0)}

    # restart from the same checkpoint: only the NEW batch applies
    put([(3, "C", 4.0, "U", 3)])
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    t3 = {
        r["k"]: (r["name"], r["val"])
        for r in read_cdc_table(spark, tdir).collect()
    }
    assert t3 == {2: ("B", 9.0), 3: ("C", 4.0)}

    # versions accumulate; pruning keeps the committed one
    cur = current_version(tdir)
    pruned = prune_versions(tdir, keep=1)
    assert cur not in pruned
    assert read_cdc_table(spark, tdir).count() == 2


def test_cdc_reader_ignores_uncommitted_partial_version(spark, tmp_path):
    """Commit-last pointer semantics: a crashed batch that wrote its
    version directory but died before the rename is INVISIBLE —
    readers stay on the last committed version."""
    import os

    from crypto_price_tracker_with_etl_dashboard_spark.streaming.cdc import (
        _commit_pointer,
        read_cdc_table,
    )

    tdir = str(tmp_path / "table")
    os.makedirs(tdir)
    spark.createDataFrame([(1, "good")], ["k", "name"]).write.parquet(
        os.path.join(tdir, "v=7")
    )
    _commit_pointer(tdir, 7)
    # simulated crash: v=8 fully written, pointer never moved
    spark.createDataFrame([(2, "partial")], ["k", "name"]).write.parquet(
        os.path.join(tdir, "v=8")
    )
    rows = read_cdc_table(spark, tdir).collect()
    assert [(r["k"], r["name"]) for r in rows] == [(1, "good")]


def test_streaming_burst_alerts_fire_once_on_close(spark, tmp_path):
    """Hopping-window rate alert (streaming/alerts.py): a burst of 5
    events inside 10 minutes fires alerts for the windows that cover
    it, each emitted exactly once when the watermark closes it; a
    quiet key never alerts."""
    import datetime as dt

    from pyspark.sql.types import (
        LongType, StructField, StructType, TimestampType,
    )

    from crypto_price_tracker_with_etl_dashboard_spark.streaming.alerts import (
        burst_alerts,
    )

    schema = StructType([
        StructField("user_id", LongType()),
        StructField("ts", TimestampType()),
    ])
    pdir = str(tmp_path / "ev")
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    burst = [(1, t0 + dt.timedelta(seconds=30 * i)) for i in range(5)]
    quiet = [(2, t0), (2, t0 + dt.timedelta(minutes=20))]
    spark.createDataFrame(burst + quiet, schema).coalesce(1).write.mode(
        "append"
    ).parquet(pdir)
    stream = spark.readStream.schema(schema).parquet(pdir)
    q = (
        burst_alerts(
            stream, threshold=5,
            window="10 minutes", slide="5 minutes", watermark="10 minutes",
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("burst_test")
        .start()
    )
    try:
        q.processAllAvailable()
        # event time must advance past window end + watermark
        spark.createDataFrame(
            [(3, t0 + dt.timedelta(hours=1))], schema
        ).coalesce(1).write.mode("append").parquet(pdir)
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM burst_test ORDER BY window_start").collect()
        # the 2-minute burst at 12:00-12:02 is covered by the hopping
        # windows starting 11:55 and 12:00 (length 10m, stride 5m)
        assert [r["user_id"] for r in rows] == [1, 1]
        assert all(r["n_events"] == 5 for r in rows)
        starts = [r["window_start"] for r in rows]
        assert starts == [
            t0 - dt.timedelta(minutes=5), t0
        ]
        # exactly-once: re-draining emits nothing new
        q.processAllAvailable()
        assert spark.sql("SELECT COUNT(*) c FROM burst_test").collect()[0]["c"] == 2
    finally:
        q.stop()


def test_burst_alerts_batch_twin_matches(spark):
    """The same function on a static frame gives the batch answer —
    the exact-forensics twin contract."""
    import datetime as dt

    from crypto_price_tracker_with_etl_dashboard_spark.streaming.alerts import (
        burst_alerts,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [(1, t0 + dt.timedelta(seconds=30 * i)) for i in range(5)]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    out = burst_alerts(
        df, threshold=5, window="10 minutes", slide="5 minutes"
    ).collect()
    assert len(out) == 2 and all(r["n_events"] == 5 for r in out)


def test_wap_publishes_only_on_green_audits(spark, tmp_path):
    """Write-Audit-Publish (sources/wap.py): a failing audit leaves
    the published pointer on the previous version; a green batch
    advances it; readers always see a complete version."""
    import pytest

    from crypto_price_tracker_with_etl_dashboard_spark.sources.wap import (
        AuditFailure,
        audit_min_rows,
        audit_no_nulls,
        audit_unique_key,
        write_audit_publish,
    )
    from crypto_price_tracker_with_etl_dashboard_spark.streaming.cdc import (
        current_version,
        read_cdc_table,
    )

    tdir = str(tmp_path / "t")
    good = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    audits = {
        "min_rows": audit_min_rows(1),
        "no_null_keys": audit_no_nulls("k"),
        "unique_key": audit_unique_key("k"),
    }
    v0 = write_audit_publish(good, tdir, audits)
    assert v0 == 0 and current_version(tdir) == 0
    assert read_cdc_table(spark, tdir).count() == 2

    # bad batch: duplicate key AND a null key -> both audits report
    bad = spark.createDataFrame([(1, "x"), (1, "y"), (None, "z")], ["k", "v"])
    with pytest.raises(AuditFailure) as ei:
        write_audit_publish(bad, tdir, audits)
    assert ei.value.violations == {"no_null_keys": 1, "unique_key": 1}
    # pointer untouched: readers still see the good version
    assert current_version(tdir) == 0
    assert read_cdc_table(spark, tdir).count() == 2
    # staging retained for debugging
    import os
    assert os.path.isdir(str(tmp_path / "t" / "v=1"))

    # next good batch publishes OVER the failed staging version
    v2 = write_audit_publish(good.limit(1), tdir, audits)
    assert v2 == 1 and current_version(tdir) == 1
    assert read_cdc_table(spark, tdir).count() == 1


def test_streaming_hll_equals_batch_and_survives_duplicates(spark, tmp_path):
    """The streaming HLL register table is a bounded (<= HLL_M rows)
    update-mode max-aggregate; after two micro-batches — the second a
    pure REPLAY of part of the first — the snapshot equals
    hll_registers over the DISTINCT stream: max-idempotence makes the
    sketch immune to at-least-once duplicate delivery."""
    from crypto_price_tracker_with_etl_dashboard_spark.functions.sketch import (
        HLL_M,
        hll_merge_estimate,
        hll_registers,
        streaming_hll,
    )

    pdir = str(tmp_path / "hll_stream")
    b1 = [(i,) for i in range(300)]
    b2 = [(i,) for i in range(100)]  # duplicates of batch 1's prefix
    spark.createDataFrame(b1, "k bigint").coalesce(1).write.mode("append").parquet(pdir)
    stream = spark.readStream.schema("k bigint").parquet(pdir)
    q = (
        streaming_hll(stream, "k")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("hll_stream_test")
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(b2, "k bigint").coalesce(1).write.mode("append").parquet(pdir)
        q.processAllAvailable()
        streamed = {
            (r["bucket"],): r["max_rho"]
            for r in spark.sql("SELECT * FROM hll_stream_test").collect()
        }
    finally:
        q.stop()
    whole = {
        (r["bucket"],): r["max_rho"]
        for r in hll_registers(
            spark.createDataFrame(b1, "k bigint"), "k"
        ).collect()
    }
    assert streamed == whole
    assert len(streamed) <= HLL_M
    est = hll_merge_estimate(
        hll_registers(spark.createDataFrame(b1 + b2, "k bigint"), "k")
    ).collect()[0]["n_estimate"]
    est_clean = hll_merge_estimate(
        hll_registers(spark.createDataFrame(b1, "k bigint"), "k")
    ).collect()[0]["n_estimate"]
    assert est == est_clean


def test_streaming_freshness_equals_batch_and_survives_replay(spark, tmp_path):
    """The streaming freshness snapshot (max ts per type) is a
    bounded watermark-free aggregate; after a replayed micro-batch
    the last_ts column still equals the batch aggregate over the
    distinct stream (max-idempotence), while the count column — like
    any counting aggregate — honestly reflects at-least-once
    delivery.  The staleness the batch query derives from last_ts is
    therefore replay-proof."""
    import datetime as dt

    from crypto_price_tracker_with_etl_dashboard_spark.streaming.alerts import (
        streaming_freshness,
    )

    pdir = str(tmp_path / "fresh_stream")
    t0 = dt.datetime(2024, 1, 1)
    b1 = [
        (i, t0 + dt.timedelta(minutes=i), "view" if i % 2 == 0 else "purchase")
        for i in range(40)
    ]
    b2 = b1[:10]  # pure replay
    schema = "event_id bigint, ts timestamp, event_type string"
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(pdir)
    stream = spark.readStream.schema(schema).parquet(pdir)
    q = (
        streaming_freshness(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("fresh_stream_test")
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(pdir)
        q.processAllAvailable()
        streamed = {
            r["event_type"]: r["last_ts"]
            for r in spark.sql("SELECT * FROM fresh_stream_test").collect()
        }
    finally:
        q.stop()
    batch = {
        r["event_type"]: r["last_ts"]
        for r in streaming_freshness(spark.createDataFrame(b1, schema)).collect()
    }
    assert streamed == batch
    assert len(streamed) == 2


# ---------------------------------------------------------------------------
# Streaming abandonment twin (batch: queries/behavior.py::events_abandonment)
# ---------------------------------------------------------------------------


def test_abandonment_fold_unit():
    """Kernel semantics without a stream: expiry before resolution,
    purchase converts the whole unexpired pending list, state carries
    unresolved views across batches."""
    import pandas as pd

    from crypto_price_tracker_with_etl_dashboard_spark.streaming.abandonment import (
        make_abandonment_fn,
    )

    fn = make_abandonment_fn(window_min=1)  # 60 s window
    state = _FakeState()

    def batch(rows):
        return pd.DataFrame(
            {
                "ts": [pd.Timestamp(t, unit="s") for t, _et, _e in rows],
                "event_type": [et for _t, et, _e in rows],
                "event_id": [e for _t, _et, e in rows],
            }
        )

    # view@0, view@30, purchase@50 -> both convert (within 60 s)
    out = list(fn((7,), iter([batch([(0, "view", 1), (30, "view", 2), (50, "purchase", 3)])]), state))
    verdicts = list(zip(out[0]["event_id"], out[0]["converted"]))
    assert verdicts == [(1, True), (2, True)]
    assert state.get == ([], [])

    # view@100; then a click@200 expires it (window closed at 160)
    out = list(fn((7,), iter([batch([(100, "view", 4)])]), state))
    assert out == []
    assert state.get == ([100_000_000], [4])
    out = list(fn((7,), iter([batch([(200, "click", 5)])]), state))
    verdicts = list(zip(out[0]["event_id"], out[0]["converted"]))
    assert verdicts == [(4, False)]

    # boundary: purchase exactly at view_ts + window converts
    out = list(fn((7,), iter([batch([(300, "view", 6), (360, "purchase", 7)])]), state))
    verdicts = list(zip(out[0]["event_id"], out[0]["converted"]))
    assert verdicts == [(6, True)]
    # ...but one microsecond past does not
    out = list(fn((7,), iter([batch([(400, "view", 8)])]), state))
    assert out == []
    late = batch([(460, "purchase", 9)])
    late.loc[0, "ts"] = pd.Timestamp(460_000_001, unit="us")
    out = list(fn((7,), iter([late]), state))
    verdicts = list(zip(out[0]["event_id"], out[0]["converted"]))
    assert verdicts == [(8, False)]


def test_streaming_abandonment_matches_batch_verdicts(spark, tmp_path):
    """After in-order micro-batches, the streamed per-view verdicts
    equal the batch forward-window computed over the concatenated
    input, for every view whose window a later event has closed."""
    import datetime as dt

    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from crypto_price_tracker_with_etl_dashboard_spark.streaming.abandonment import (
        streaming_abandonment,
    )

    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("event_id", LongType()),
            StructField("event_type", StringType()),
        ]
    )
    t0 = dt.datetime(2024, 1, 1)

    def ev(user, minute, eid, et):
        return (user, t0 + dt.timedelta(minutes=minute), eid, et)

    batch1 = [
        ev(1, 0, 1, "view"),
        ev(1, 20, 2, "purchase"),   # converts view 1
        ev(2, 0, 3, "view"),
        ev(2, 90, 4, "click"),      # expires view 3 (window 60)
        ev(1, 30, 5, "view"),       # pending at end of batch 1
    ]
    batch2 = [
        ev(1, 80, 6, "purchase"),   # converts view 5 (80 <= 30+60)
        ev(2, 100, 7, "view"),
        ev(2, 300, 8, "click"),     # expires view 7
        ev(1, 300, 9, "click"),     # nothing pending for user 1
    ]

    pdir = str(tmp_path / "events_stream")
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode("append").parquet(pdir)
    stream = spark.readStream.schema(schema).parquet(pdir)
    q = (
        streaming_abandonment(stream, window_min=60)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("abandon_stream_test")
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(batch2, schema).coalesce(1).write.mode("append").parquet(pdir)
        q.processAllAvailable()
        streamed = {
            r["event_id"]: (r["user_id"], r["view_ts"], r["converted"])
            for r in spark.sql("SELECT * FROM abandon_stream_test").collect()
        }
    finally:
        q.stop()

    # batch forward-window verdicts over the concatenated input
    all_events = spark.createDataFrame(batch1 + batch2, schema)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    verdicts = (
        all_events.withColumn(
            "next_purchase",
            F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).over(w),
        )
        .withColumn(
            "horizon",
            F.max("ts").over(Window.partitionBy("user_id")),
        )
        .filter(F.col("event_type") == "view")
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("view_ts"),
            F.expr(
                "next_purchase IS NOT NULL"
                " AND next_purchase <= ts + INTERVAL 60 MINUTES"
            ).alias("converted"),
            F.expr("horizon > ts + INTERVAL 60 MINUTES OR (next_purchase"
                   " IS NOT NULL AND next_purchase <= ts + INTERVAL 60"
                   " MINUTES)").alias("resolved"),
        )
        .collect()
    )
    expected = {
        r["event_id"]: (r["user_id"], r["view_ts"], r["converted"])
        for r in verdicts
        if r["resolved"]
    }
    assert expected  # the fixture resolves every view
    assert streamed == expected


def test_abandonment_fold_tie_order_and_timeout_flush():
    """(a) Timestamp ties resolve by event_id regardless of physical
    arrival order inside the micro-batch (the batch twin's ORDER BY
    ts, event_id); (b) the hasTimedOut branch emits every pending view
    as abandoned exactly once and drops the state; (c) with a flush
    timeout configured, an empty pending list removes the state so no
    spurious timeout fires."""
    import pandas as pd

    from crypto_price_tracker_with_etl_dashboard_spark.streaming.abandonment import (
        make_abandonment_fn,
    )

    def batch(rows):
        return pd.DataFrame(
            {
                "ts": [pd.Timestamp(t, unit="s") for t, _et, _e in rows],
                "event_type": [et for _t, et, _e in rows],
                "event_id": [e for _t, _et, e in rows],
            }
        )

    # (a) purchase (eid 1) and view (eid 2) share ts=100.  In
    # (ts, event_id) order the purchase precedes the view, so the view
    # must stay pending — even when the view arrives physically first.
    fn = make_abandonment_fn(window_min=1)
    state = _FakeState()
    out = list(
        fn((7,), iter([batch([(100, "view", 2), (100, "purchase", 1)])]), state)
    )
    assert out == []  # view pending, not converted by the earlier-eid purchase
    assert state.get == ([100_000_000], [2])

    # ...and the mirror order: view eid 1 then purchase eid 2 at the
    # same ts converts, whichever arrives first physically.
    for arrival in ([(100, "view", 1), (100, "purchase", 2)],
                    [(100, "purchase", 2), (100, "view", 1)]):
        fn2 = make_abandonment_fn(window_min=1)
        s2 = _FakeState()
        out = list(fn2((7,), iter([batch(arrival)]), s2))
        verdicts = list(zip(out[0]["event_id"], out[0]["converted"]))
        assert verdicts == [(1, True)]

    # (b) timed-out invocation flushes pending views as abandoned and
    # removes the state
    fn3 = make_abandonment_fn(window_min=1, flush_timeout_min=0.05)
    s3 = _FakeState()
    out = list(fn3((9,), iter([batch([(0, "view", 11), (10, "view", 12)])]), s3))
    assert out == []
    assert s3.get == ([0, 10_000_000], [11, 12])
    s3.hasTimedOut = True
    flushed = list(fn3((9,), iter([]), s3))
    verdicts = list(zip(flushed[0]["event_id"], flushed[0]["converted"]))
    assert verdicts == [(11, False), (12, False)]
    assert list(flushed[0]["view_ts"]) == [
        pd.Timestamp(0, unit="s"),
        pd.Timestamp(10, unit="s"),
    ]
    assert not s3.exists

    # (c) flush mode with nothing pending leaves no state behind
    fn4 = make_abandonment_fn(window_min=1, flush_timeout_min=0.05)
    s4 = _FakeState()
    out = list(fn4((9,), iter([batch([(0, "view", 21), (30, "purchase", 22)])]), s4))
    verdicts = list(zip(out[0]["event_id"], out[0]["converted"]))
    assert verdicts == [(21, True)]
    assert not s4.exists


def test_streaming_abandonment_timeout_flush_bounded_latency(spark, tmp_path):
    """With flush_timeout_min set, a pending view resolves (abandoned)
    within roughly one processing-time timeout of the stream going
    idle — no heartbeat event required."""
    import datetime as dt
    import time

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from crypto_price_tracker_with_etl_dashboard_spark.streaming.abandonment import (
        streaming_abandonment,
    )

    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("event_id", LongType()),
            StructField("event_type", StringType()),
        ]
    )
    t0 = dt.datetime(2024, 1, 1)
    pdir = str(tmp_path / "events_stream_flush")
    spark.createDataFrame(
        [(1, t0, 1, "view")], schema
    ).coalesce(1).write.mode("append").parquet(pdir)

    stream = spark.readStream.schema(schema).parquet(pdir)
    # 0.05 min = 3 s processing-time flush.  NOTE: no
    # processAllAvailable() anywhere — while a group-state timeout is
    # armed the engine always has another batch to run, so
    # processAllAvailable never latches quiescence (it blocks
    # forever); an explicit 1 s trigger + sink polling is the
    # supported way to observe a timeout-driven emission.
    q = (
        streaming_abandonment(stream, window_min=60, flush_timeout_min=0.05)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("abandon_flush_test")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        # the view's 60-min EVENT-time window never closes on its own
        # (no later event exists); only the processing-time flush can
        # resolve it.  Poll bounded: expect the abandoned verdict
        # within a few trigger cycles of the 3 s idle deadline.
        deadline = time.time() + 90
        rows = []
        while time.time() < deadline:
            rows = spark.sql("SELECT * FROM abandon_flush_test").collect()
            if rows:
                break
            time.sleep(0.5)
        assert len(rows) == 1
        assert rows[0]["event_id"] == 1
        assert rows[0]["converted"] is False
        assert rows[0]["view_ts"] == t0
        assert rows[0]["user_id"] == 1
    finally:
        q.stop()
