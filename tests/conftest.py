from __future__ import annotations

import datetime as dt
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crypto_price_tracker_with_etl_dashboard_spark.session import get_spark
from crypto_price_tracker_with_etl_dashboard_spark.schema import PRICES_SCHEMA

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def jobs_run(spark, group: str, fn):
    """``fn()`` and the number of Spark jobs it started, counted by
    tagging them with a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job-start events reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


@pytest.fixture(scope="session")
def prices_fixture(spark):
    """Hand-built prices rows exercising the reference's edge cases
    (FIXTURES.md section 1): intra-batch ties, null/zero market caps,
    day-boundary rows, stale symbols."""
    rows = [
        # batch 1 @ 2024-01-10 00:00 — all symbols present
        ("btc", "Bitcoin", 100.0, 1000.0, 50.0, ts("2024-01-10T00:00:00")),
        ("eth", "Ethereum", 50.0, 500.0, 20.0, ts("2024-01-10T00:00:00")),
        ("doge", "Dogecoin", 1.0, None, 5.0, ts("2024-01-10T00:00:00")),
        ("zero", "ZeroCap", 2.0, 0.0, 1.0, ts("2024-01-10T00:00:00")),
        ("stale", "StaleCoin", 9.0, 90.0, 9.0, ts("2024-01-10T00:00:00")),
        # day-boundary rows for history tests
        ("btc", "Bitcoin", 101.0, 1010.0, 51.0, ts("2024-01-11T23:59:59.999000")),
        ("btc", "Bitcoin", 102.0, 1020.0, 52.0, ts("2024-01-12T00:00:00")),
        # batch 2 @ 2024-01-12 12:00 — 'stale' absent; btc DUPLICATED
        # in-batch (tie on timestamp)
        ("btc", "Bitcoin", 110.0, 1100.0, 55.0, ts("2024-01-12T12:00:00")),
        ("btc", "Bitcoin", 111.0, 1110.0, 56.0, ts("2024-01-12T12:00:00")),
        ("eth", "Ethereum", 55.0, 550.0, 22.0, ts("2024-01-12T12:00:00")),
        ("doge", "Dogecoin", 1.1, None, 6.0, ts("2024-01-12T12:00:00")),
        ("zero", "ZeroCap", 2.2, 0.0, 1.2, ts("2024-01-12T12:00:00")),
    ]
    df = spark.createDataFrame(rows, schema=PRICES_SCHEMA)
    # event_id = arrival order (tiebreaker column)
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    return df.withColumn(
        "event_id", F.row_number().over(Window.orderBy(F.monotonically_increasing_id()))
    )
