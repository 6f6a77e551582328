"""History-slice bound semantics (SURVEY.md section 2.2 P6-P8): the
end bound is EXCLUSIVE start-of-next-day, so end-date 23:59:59.999
rows are kept and next-day 00:00:00.000 rows are dropped."""

from __future__ import annotations

from crypto_price_tracker_with_etl_dashboard_spark.operators import history_slice


def test_end_date_inclusive_to_millisecond(prices_fixture):
    out = history_slice(prices_fixture, "btc", "2024-01-10", "2024-01-11").collect()
    prices = [r["current_price"] for r in out]
    assert 101.0 in prices  # 2024-01-11T23:59:59.999 kept
    assert 102.0 not in prices  # 2024-01-12T00:00:00.000 excluded


def test_start_inclusive(prices_fixture):
    out = history_slice(prices_fixture, "btc", "2024-01-12", None).collect()
    prices = [r["current_price"] for r in out]
    assert 102.0 in prices  # exactly at start midnight
    assert 101.0 not in prices


def test_symbol_lookup_lowercased(prices_fixture):
    """api/server.js:102 lowercases the symbol param."""
    out = history_slice(prices_fixture, "BTC", None, None).collect()
    assert len(out) == 5


def test_chronological_order(prices_fixture):
    out = history_slice(prices_fixture, "btc", None, None).collect()
    stamps = [r["timestamp"] for r in out]
    assert stamps == sorted(stamps)


def test_history_rejects_malformed_dates(prices_fixture):
    """A malformed bound must raise, not cast to NULL and silently
    return an empty history (non-ANSI cast semantics)."""
    import pytest

    with pytest.raises(ValueError, match="start_date"):
        history_slice(prices_fixture, "btc", start_date="05/01/2024")
    with pytest.raises(ValueError, match="end_date"):
        history_slice(prices_fixture, "btc", end_date="not-a-date")


def _scans(plan) -> list:
    """FileSourceScanExec nodes of an executed plan, looking through
    adaptive query stages."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _scans(plan.executedPlan())
    if name.endswith("QueryStageExec"):
        return _scans(plan.plan())
    if name == "FileSourceScanExec":
        return [plan]
    kids = plan.children()
    return [s for i in range(kids.size()) for s in _scans(kids.apply(i))]


def test_history_prunes_dt_partitions(spark, tmp_path):
    """The timestamp bounds imply dt bounds, so a one-day history reads
    only that day's files and still returns the unpruned answer."""
    import datetime as dt
    import glob

    from crypto_price_tracker_with_etl_dashboard_spark.api import PriceTracker

    table = str(tmp_path / "prices")
    app = PriceTracker(spark, table)
    for day in (1, 3, 5):
        for hour in (0, 23):
            app.ingest_batch(
                [{"symbol": "BTC", "name": "Bitcoin", "current_price": 100.0 * day + hour,
                  "market_cap": 1e9, "total_volume": 1e6}],
                batch_ts=dt.datetime(2024, 1, day, hour),
            )

    hist = app.history("btc", "2024-01-03", "2024-01-03")
    rows = hist.collect()
    assert [r["current_price"] for r in rows] == [300.0, 323.0]
    unpruned = history_slice(app.prices.drop("dt"), "btc", "2024-01-03", "2024-01-03")
    assert rows == unpruned.collect()

    (scan,) = _scans(hist._jdf.queryExecution().executedPlan())
    assert "PartitionFilters: []" not in scan.toString()
    day_files = glob.glob(f"{table}/dt=2024-01-03/*/*.parquet")
    assert len(day_files) < len(glob.glob(f"{table}/*/*/*.parquet"))
    assert scan.metrics().apply("numFiles").value() == len(day_files)


def test_history_dt_bounds_keep_rows_from_other_time_zones(spark, tmp_path):
    """dt is the date in the writing session's zone, the bounds are
    midnights in the caller's: a row whose dt is one day after (or
    before) its date in the caller's zone is still returned."""
    import datetime as dt

    from crypto_price_tracker_with_etl_dashboard_spark.api import PriceTracker
    from pyspark.sql.types import DateType, StructField, StructType

    from crypto_price_tracker_with_etl_dashboard_spark.schema import PRICES_SCHEMA

    table = str(tmp_path / "prices")
    rows = [
        # writer ahead of the caller: Jan 2 20:00 here, already Jan 3 there
        ("btc", "Bitcoin", 1.0, 1e9, 1e6, dt.datetime(2024, 1, 2, 20), dt.date(2024, 1, 3)),
        # writer behind the caller: Jan 3 04:00 here, still Jan 2 there
        ("btc", "Bitcoin", 2.0, 1e9, 1e6, dt.datetime(2024, 1, 3, 4), dt.date(2024, 1, 2)),
    ]
    schema = StructType(PRICES_SCHEMA.fields + [StructField("dt", DateType())])
    spark.createDataFrame(rows, schema).write.partitionBy("dt").parquet(table)

    app = PriceTracker(spark, table)
    for day, price in (("2024-01-02", 1.0), ("2024-01-03", 2.0)):
        assert [r["current_price"] for r in app.history("btc", day, day).collect()] == [price]
