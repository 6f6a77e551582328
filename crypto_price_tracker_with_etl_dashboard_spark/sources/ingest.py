"""Ingest-side operators (SURVEY.md section 2.2 P1-P3, P5; section
2.1 S1-S3): validate / project / normalize a semi-structured batch
into the ``prices`` schema, and write it to the fact table — this
module is the only one that knows the table's on-disk layout.

The reference does this row-at-a-time in Python
(etl/crypto_etl.py:86-106); here it is a pure DataFrame -> DataFrame
transform — JVM-side column expressions only, so Catalyst can fuse it
with the write and it scales to arbitrarily large batches.
"""

from __future__ import annotations

import datetime as dt
from typing import Iterable, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crypto_price_tracker_with_etl_dashboard_spark.schema import COINGECKO_RAW_SCHEMA


def coingecko_rows_to_df(spark: SparkSession, rows: Iterable[Mapping]) -> DataFrame:
    """list[dict] (as returned by the REST fetch, etl/crypto_etl.py:46)
    -> typed DataFrame.  Null-tolerant like the reference's .get()
    projection (etl/crypto_etl.py:88-92); extra JSON fields dropped.
    """
    projected = [
        {k: r.get(k) for k in COINGECKO_RAW_SCHEMA.fieldNames()} for r in rows
    ]
    return spark.createDataFrame(projected, schema=COINGECKO_RAW_SCHEMA)


def validate_and_normalize(raw: DataFrame, batch_ts: dt.datetime) -> DataFrame:
    """P1 projection + P2 required-field filter + P3 lowercase
    normalize + P5 batch-constant timestamp.

    Mirrors etl/crypto_etl.py:82-106: rows missing symbol / name /
    current_price are dropped; market_cap / total_volume stay
    nullable; ONE timestamp is stamped on the whole batch (NOT
    current_timestamp() per row — the reference's tie semantics for
    latest-per-group depend on intra-batch timestamp equality).
    """
    return (
        raw.filter(
            F.col("symbol").isNotNull()
            & F.col("name").isNotNull()
            & F.col("current_price").isNotNull()
        )
        .select(
            F.lower(F.col("symbol")).alias("symbol"),
            F.col("name"),
            F.col("current_price").cast("double").alias("current_price"),
            F.col("market_cap").cast("double").alias("market_cap"),
            F.col("total_volume").cast("double").alias("total_volume"),
            F.lit(batch_ts).cast("timestamp").alias("timestamp"),
        )
    )


def write_prices(
    clean: DataFrame, table_path: str, batch_id: int, *, replace: bool
) -> DataFrame:
    """S3 table sink, the one writer of the prices-table layout: one
    write job per batch (one txn in the reference,
    etl/crypto_etl.py:108-123).  Returns the written frame (layout
    columns included) for the push path's snapshot merge.

    Layout: partitioned by (dt = ingest date, batch = ``batch_id``),
    plus an ``event_id`` column.  ``dt`` lets history queries prune to
    (symbol, day) slices; ``event_id`` is the keep-last tiebreak (P5
    stamps one batch-constant timestamp, so same-symbol duplicates
    within a poll tie on timestamp alone).  Every writer goes through
    here: mixed dt-only and dt/batch directories make Spark's
    partition discovery fail outright.

    ``replace=True`` is a dynamic partition overwrite: a replayed
    stream batch replaces its own earlier (possibly partial) output,
    so at-least-once foreachBatch delivery gives exactly-once table
    contents.  ``replace=False`` appends, so two polls that share a
    ``batch_id`` both keep their rows.
    """
    out = (
        clean.withColumn("dt", F.to_date("timestamp"))
        .withColumn("batch", F.lit(batch_id))
        .withColumn("event_id", F.monotonically_increasing_id())
    )
    writer = out.write.partitionBy("dt", "batch")
    if replace:
        writer = writer.mode("overwrite").option("partitionOverwriteMode", "dynamic")
    else:
        writer = writer.mode("append")
    writer.parquet(table_path)
    return out


def fetch_coingecko(url: str = "https://api.coingecko.com/api/v3/coins/markets", timeout: int = 10):
    """S1 HTTP REST source (etl/crypto_etl.py:40-52). Driver-side
    fetch; error -> None (at-most-once, matching the reference's
    skip-batch-and-continue behavior). Network is unavailable in the
    test container, so this is exercised only via injected fixtures.
    """
    try:
        import requests  # gated: not guaranteed in the image
    except ImportError:
        return None
    params = {
        "vs_currency": "usd",
        "order": "market_cap_desc",
        "per_page": 100,
        "page": 1,
        "sparkline": "false",
    }
    try:
        resp = requests.get(url, params=params, timeout=timeout)
        resp.raise_for_status()
        return resp.json()
    except Exception:
        return None
