"""Ingest validate/project/normalize semantics (etl/crypto_etl.py:
82-106): required-field drops, null-tolerant optional fields,
lowercase normalization, batch-constant timestamp."""

from __future__ import annotations

import datetime as dt

import pytest

from crypto_price_tracker_with_etl_dashboard_spark.sources import (
    coingecko_rows_to_df,
    validate_and_normalize,
)

BATCH_TS = dt.datetime(2024, 3, 1, 12, 0, 0)

RAW = [
    {"symbol": "BTC", "name": "Bitcoin", "current_price": 100.0,
     "market_cap": 1e9, "total_volume": 1e6, "extra_field": "noise"},
    {"symbol": None, "name": "NoSym", "current_price": 1.0},     # dropped
    {"symbol": "ETH", "name": None, "current_price": 2.0},      # dropped
    {"symbol": "SOL", "name": "Solana", "current_price": None}, # dropped
    {"symbol": "ADA", "name": "Cardano", "current_price": 3.0,
     "market_cap": None, "total_volume": None},                  # kept
]


def test_required_field_rows_dropped(spark):
    out = validate_and_normalize(coingecko_rows_to_df(spark, RAW), BATCH_TS).collect()
    assert sorted(r["symbol"] for r in out) == ["ada", "btc"]


def test_nullable_fields_survive(spark):
    out = {r["symbol"]: r for r in
           validate_and_normalize(coingecko_rows_to_df(spark, RAW), BATCH_TS).collect()}
    assert out["ada"]["market_cap"] is None
    assert out["ada"]["total_volume"] is None


def test_symbol_lowercased_and_extra_dropped(spark):
    df = validate_and_normalize(coingecko_rows_to_df(spark, RAW), BATCH_TS)
    assert "extra_field" not in df.columns
    assert {r["symbol"] for r in df.collect()} == {"btc", "ada"}


def test_batch_constant_timestamp(spark):
    """One now() per batch stamped on every row (etl/crypto_etl.py:82)
    — NOT per-row current_timestamp(); tie semantics depend on it."""
    out = validate_and_normalize(coingecko_rows_to_df(spark, RAW), BATCH_TS).collect()
    assert {r["timestamp"] for r in out} == {BATCH_TS}


def test_batch_and_stream_write_layouts_agree(spark, tmp_path):
    """The facade's batch append and the streaming sink must produce
    ONE table layout — (dt, batch) partitions + event_id — or mixing
    the two write paths breaks partition discovery outright and the
    batch path loses the keep-last tiebreak."""
    import datetime as dt

    from crypto_price_tracker_with_etl_dashboard_spark.api import PriceTracker

    table = str(tmp_path / "prices")
    tr = PriceTracker(spark, table)
    rows = [
        {"symbol": "BTC", "name": "Bitcoin", "current_price": 1.0,
         "market_cap": 10.0, "total_volume": 5.0},
        {"symbol": "BTC", "name": "Bitcoin", "current_price": 2.0,
         "market_cap": 11.0, "total_volume": 6.0},
    ]
    n = tr.ingest_batch(rows, batch_ts=dt.datetime(2024, 1, 1, 12, 0, 0))
    assert n == 2
    df = spark.read.parquet(table)
    assert {"batch", "event_id"} <= set(df.columns)
    # keep-last within the batch-constant timestamp: the SECOND row
    # wins via the event_id tiebreak, deterministically
    (latest,) = tr.latest().collect()
    assert latest["current_price"] == 2.0


def test_same_second_polls_both_keep_their_rows(spark, tmp_path):
    """``ingest_batch`` appends: two polls stamped with the same
    ``batch_ts`` share one (dt, batch) partition and keep all rows."""
    from crypto_price_tracker_with_etl_dashboard_spark.api import PriceTracker

    table = str(tmp_path / "prices")
    tr = PriceTracker(spark, table)
    ts = dt.datetime(2024, 1, 1, 12, 0, 0)
    assert tr.ingest_batch(RAW, batch_ts=ts) == 2
    assert tr.ingest_batch(RAW, batch_ts=ts) == 2
    stored = spark.read.parquet(table)
    assert stored.count() == 4
    assert stored.select("dt", "batch").distinct().count() == 1


@pytest.mark.parametrize("local", [True, False])
def test_same_second_polls_later_poll_wins(spark, tmp_path, monkeypatch, local):
    """Two appends into one partition never share an event_id, and the
    later poll's row is every symbol's latest (keep-last by arrival),
    whatever row position each symbol had in either poll.  A table off
    the local filesystem finds the partition's greatest event_id with
    Spark instead of reading its files on the driver."""
    from crypto_price_tracker_with_etl_dashboard_spark.api import PriceTracker
    from crypto_price_tracker_with_etl_dashboard_spark.sources import ingest

    if not local:
        monkeypatch.setattr(ingest, "_local_root", lambda table_path: None)
    table = str(tmp_path / "prices")
    tr = PriceTracker(spark, table)
    symbols = [f"c{i}" for i in range(9)]
    ts = dt.datetime(2024, 1, 1, 12, 0, 0)
    for poll, order in ((1, symbols), (2, symbols[::-1])):
        tr.ingest_batch(
            [{"symbol": s, "name": s, "current_price": float(poll)} for s in order],
            batch_ts=ts,
        )
    stored = spark.read.parquet(table)
    assert stored.select("event_id").distinct().count() == 18
    latest = PriceTracker(spark, stored).latest().collect()
    assert sorted((r["symbol"], r["current_price"]) for r in latest) == [(s, 2.0) for s in symbols]


def test_replace_write_rewrites_its_own_partition(spark, tmp_path):
    """``write_prices(replace=True)`` (the streams' sink) overwrites
    only the (dt, batch) partition it writes: a replayed batch leaves
    one copy, and other batches stay."""
    from crypto_price_tracker_with_etl_dashboard_spark.sources.ingest import write_prices

    table = str(tmp_path / "prices")
    clean = validate_and_normalize(coingecko_rows_to_df(spark, RAW), BATCH_TS)
    for batch_id in (7, 8, 7):
        out = write_prices(clean, table, batch_id, replace=True)
    assert {"dt", "batch", "event_id"} <= set(out.columns)
    stored = spark.read.parquet(table)
    assert sorted(r["batch"] for r in stored.collect()) == [7, 7, 8, 8]


# one (regex, what) per piece of the prices-table layout
_LAYOUT = {
    r"partitionBy\(\s*[\"']dt[\"']\s*,\s*[\"']batch[\"']": "partitionBy(dt, batch)",
    r"partitionOverwriteMode": "partitionOverwriteMode",
    r"[\"']event_id[\"']\s*,\s*F\.monotonically_increasing_id\(": "event_id stamp",
}


def test_table_layout_is_written_in_one_place():
    """Census: only ``sources/ingest.py::write_prices`` spells out the
    prices-table layout, so every write path (``ingest_batch`` and
    both streams) writes the same one."""
    import os
    import re

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "crypto_price_tracker_with_etl_dashboard_spark",
    )
    found = {what: {} for what in _LAYOUT.values()}
    for root, _, files in os.walk(pkg):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path) as f:
                text = f.read()
            for pattern, what in _LAYOUT.items():
                n = len(re.findall(pattern, text))
                if n:
                    found[what][os.path.relpath(path, pkg)] = n
    want = {"sources/ingest.py": 1}
    assert found == {what: want for what in _LAYOUT.values()}


def test_load_table_does_not_leak_nanos_conf(spark):
    from crypto_price_tracker_with_etl_dashboard_spark.sources import load_table
    from tests.conftest import SF_SMALL

    key = "spark.sql.legacy.parquet.nanosAsLong"
    df = load_table(spark, SF_SMALL, "events")
    assert spark.conf.get(key, None) in (None, "false")
    assert df.count() > 0  # scoped conf: the read still executes


def test_load_table_threads_mix_ns_and_us_files(spark, tmp_path):
    """One thread reads a TIMESTAMP(NANOS) events file while another
    reads a microsecond one on the same session: each result equals
    its single-thread read, and the nanos conf is never set."""
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow as pa
    import pyarrow.parquet as pq

    from crypto_price_tracker_with_etl_dashboard_spark.sources import load_table

    stamps = ["2024-01-01T00:00:00.123456789", "2024-01-02T03:04:05.987654321"]
    for unit in ("ns", "us"):
        (tmp_path / unit).mkdir()
        pq.write_table(
            pa.table({
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(stamps, pa.string()).cast(pa.timestamp("ns"))
                .cast(pa.timestamp(unit), safe=False),
                "value": [1.0, 2.0],
            }),
            str(tmp_path / unit / "events.parquet"),
        )

    def read(unit):
        return sorted(load_table(spark, str(tmp_path / unit), "events").collect())

    alone = {unit: read(unit) for unit in ("ns", "us")}
    assert alone["ns"] == alone["us"]  # ns truncates to the us values
    key = "spark.sql.legacy.parquet.nanosAsLong"
    with ThreadPoolExecutor(2) as pool:
        for _ in range(4):
            got = dict(zip(("ns", "us"), pool.map(read, ("ns", "us"))))
            assert got == alone
            assert spark.conf.get(key, None) in (None, "false")
