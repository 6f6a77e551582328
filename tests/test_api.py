"""End-to-end test of the PriceTracker facade: the full reference
workflow — two ETL ticks, then every read endpoint — against a
path-backed partitioned prices table."""

from __future__ import annotations

import datetime as dt

from crypto_price_tracker_with_etl_dashboard_spark.api import PriceTracker
from tests.conftest import jobs_run

BATCH1 = [
    {"symbol": "BTC", "name": "Bitcoin", "current_price": 100.0,
     "market_cap": 1e9, "total_volume": 1e6},
    {"symbol": "ETH", "name": "Ethereum", "current_price": 50.0,
     "market_cap": 5e8, "total_volume": 1e5},
    {"symbol": "BAD", "name": None, "current_price": 1.0,
     "market_cap": None, "total_volume": None},  # dropped (P2)
]
BATCH2 = [
    {"symbol": "BTC", "name": "Bitcoin", "current_price": 110.0,
     "market_cap": 1.1e9, "total_volume": 1.1e6},
    {"symbol": "DOGE", "name": "Dogecoin", "current_price": 0.1,
     "market_cap": None, "total_volume": 2e4},  # null cap: kept (P9 filters later)
]


def test_price_tracker_end_to_end(spark, tmp_path):
    table = str(tmp_path / "prices")
    app = PriceTracker(spark, table)

    t1 = dt.datetime(2024, 1, 10, 0, 0, 0)
    t2 = dt.datetime(2024, 1, 12, 0, 0, 0)
    assert app.ingest_batch(BATCH1, batch_ts=t1) == 2  # BAD dropped
    assert app.ingest_batch(BATCH2, batch_ts=t2) == 2

    # latest(): one row per symbol; PG NULLS-FIRST cap ordering puts
    # the null-cap doge first, then btc, eth by cap desc
    latest = app.latest().collect()
    assert [r["symbol"] for r in latest] == ["doge", "btc", "eth"]
    assert latest[1]["current_price"] == 110.0  # batch-2 btc won

    # history(): symbol lookup is case-insensitive, bounds inclusive
    # start / exclusive next-day end
    hist = app.history("BTC", start_date="2024-01-10", end_date="2024-01-11").collect()
    assert [r["current_price"] for r in hist] == [100.0]
    hist_all = app.history("btc").collect()
    assert [r["current_price"] for r in hist_all] == [100.0, 110.0]

    # dashboard: top-K (+Other when beyond K), market share sums to 100
    top = app.top_symbols(k=1).collect()
    assert top[0]["label"] == "BTC" and top[1]["label"] == "Other"
    share = {r["label"]: r["pct"] for r in app.market_distribution(k=7).collect()}
    assert abs(sum(share.values()) - 100.0) < 0.05
    assert share["BTC"] == 68.75  # 1.1e9 / 1.6e9

    assert [r["symbol"] for r in app.symbols().collect()] == ["btc", "doge", "eth"]

    # ohlc(): btc has two ticks in two different 5-min windows
    candles = app.ohlc("5 minutes").filter("symbol = 'btc'").collect()
    assert len(candles) == 2
    assert sorted(c["open"] for c in candles) == [100.0, 110.0]


def test_api_indicator_extensions(spark, prices_fixture):
    from crypto_price_tracker_with_etl_dashboard_spark.api import PriceTracker

    app = PriceTracker(spark, prices_fixture)
    vw = app.vwap().collect()
    assert vw and all(r["vwap"] is not None for r in vw)
    dd = {r["symbol"]: r["max_drawdown"] for r in app.max_drawdown().collect()}
    assert set(dd) <= set(r["symbol"] for r in prices_fixture.collect())
    assert all(0.0 <= v < 1.0 for v in dd.values())
    # fixture series are short; a small period still exercises the path
    rs = app.rsi(period=2).collect()
    assert all(0.0 <= r["rsi"] <= 100.0 for r in rs)
    em = app.ema_macd(fast=2, slow=4).collect()
    # macd is (ef-es)/SCALE in exact integers; ema_fast - ema_slow
    # re-subtracts two already-divided doubles, so compare to float tol
    assert em and all(
        abs(r["macd"] - (r["ema_fast"] - r["ema_slow"])) < 1e-9 for r in em
    )
    # rn == 1 rows seed both EMAs at the first price -> macd 0
    assert all(r["macd"] == 0.0 for r in em if r["rn"] == 1)


def test_warm_prices_deref_runs_no_spark_job(spark, tmp_path):
    """More batch directories than Spark's default 32-path
    parallel-discovery threshold: the factory session still lists them
    on the driver and the tracker reuses its resolved schema, so a warm
    open runs no listing or schema-inference job.  The bounded reads
    sort in one partition, so none of them runs a range-sampling job."""
    from pyspark.sql import functions as F

    table = str(tmp_path / "prices")
    n_batches = 40
    ids = spark.range(0, n_batches * 3, 1, 1)  # 3 coins per batch, one writer task
    tick = F.floor(F.col("id") / 3)
    (
        ids.select(
            F.concat(F.lit("c"), (F.col("id") % 3).cast("string")).alias("symbol"),
            F.lit("Coin").alias("name"),
            (F.col("id") + 1).cast("double").alias("current_price"),
            (F.col("id") * 10).cast("double").alias("market_cap"),
            F.lit(1.0).alias("total_volume"),
            (F.lit(dt.datetime(2024, 1, 1)) + F.make_interval(mins=tick.cast("int")))
            .alias("timestamp"),
            F.col("id").alias("event_id"),
            F.lit(dt.date(2024, 1, 1)).alias("dt"),
            tick.cast("int").alias("batch"),
        )
        .write.partitionBy("dt", "batch")
        .parquet(table)
    )

    app = PriceTracker(spark, table)
    jobs_run(spark, "api-prices-cold", lambda: app.prices)
    warm, jobs = jobs_run(spark, "api-prices-warm", lambda: app.prices)
    assert jobs == 0
    assert len(warm.inputFiles()) == n_batches  # every batch= directory listed
    latest, jobs = jobs_run(spark, "api-latest-warm", lambda: app.latest().collect())
    assert jobs == 3  # window shuffle map, single-partition shuffle map, result
    assert [(r["symbol"], r["current_price"]) for r in latest] == [
        ("c2", 120.0), ("c1", 119.0), ("c0", 118.0)
    ]
    jobs_run(spark, "api-history-cold", lambda: app.history("c1").collect())
    hist, jobs = jobs_run(spark, "api-history-warm", lambda: app.history("c1").collect())
    assert jobs == 2  # single-partition shuffle map, result
    assert [r["current_price"] for r in hist] == [float(3 * b + 2) for b in range(n_batches)]
    jobs_run(spark, "api-symbols-cold", lambda: app.symbols().collect())
    syms, jobs = jobs_run(spark, "api-symbols-warm", lambda: app.symbols().collect())
    assert jobs == 3  # distinct shuffle map, single-partition shuffle map, result
    assert [r["symbol"] for r in syms] == ["c0", "c1", "c2"]


def test_prices_sees_batches_appended_after_schema_resolved(spark, tmp_path):
    table = str(tmp_path / "prices")
    app = PriceTracker(spark, table)
    app.ingest_batch(BATCH1, batch_ts=dt.datetime(2024, 1, 10))
    assert [r["symbol"] for r in app.latest().collect()] == ["btc", "eth"]

    app.ingest_batch(BATCH2, batch_ts=dt.datetime(2024, 1, 12))
    latest = app.latest().collect()
    assert [r["symbol"] for r in latest] == ["doge", "btc", "eth"]
    assert latest[1]["current_price"] == 110.0
    assert [r["current_price"] for r in app.history("btc").collect()] == [100.0, 110.0]


def test_racing_first_prices_derefs_match_sequential(spark, tmp_path):
    import sys
    import threading

    table = str(tmp_path / "prices")
    writer = PriceTracker(spark, table)
    writer.ingest_batch(BATCH1, batch_ts=dt.datetime(2024, 1, 10))
    writer.ingest_batch(BATCH2, batch_ts=dt.datetime(2024, 1, 12))

    def reads(app, order):
        calls = {"latest": app.latest, "history": lambda: app.history("btc")}
        return {name: calls[name]().collect() for name in order}

    expected = reads(PriceTracker(spark, table), ("latest", "history"))

    app = PriceTracker(spark, table)  # schema not yet resolved
    start = threading.Barrier(2, timeout=60)
    results: dict[int, dict] = {}

    def caller(i, order):
        start.wait()
        results[i] = reads(app, order)

    threads = [
        threading.Thread(target=caller, args=(0, ("latest", "history"))),
        threading.Thread(target=caller, args=(1, ("history", "latest"))),
    ]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert results == {0: expected, 1: expected}
