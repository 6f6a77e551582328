"""Ingest-side operators (SURVEY.md section 2.2 P1-P3, P5; section
2.1 S1-S3): validate / project / normalize a semi-structured batch
into the ``prices`` schema, and write it to the fact table and its
latest-per-symbol snapshot file — this module is the only one that
knows the table's on-disk layout.

The reference does this row-at-a-time in Python
(etl/crypto_etl.py:86-106); here it is a pure DataFrame -> DataFrame
transform — JVM-side column expressions only, so Catalyst can fuse it
with the write and it scales to arbitrarily large batches.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
from typing import Iterable, Mapping, Optional
from urllib.parse import urlsplit

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crypto_price_tracker_with_etl_dashboard_spark.schema import (
    COINGECKO_RAW_SCHEMA,
    PRICES_COLUMNS,
)


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


def stamp_prices(clean: DataFrame, batch_id: int, first_event_id: int = 0) -> DataFrame:
    """``clean`` with the layout columns :func:`write_prices` stores
    (dt, batch, event_id), event_ids counted from ``first_event_id``.
    The stamp is deterministic for a deterministic ``clean``, so the
    frame evaluated before the write holds the rows and event_ids the
    write stores."""
    return (
        clean.withColumn("dt", F.to_date("timestamp"))
        .withColumn("batch", F.lit(batch_id))
        .withColumn("event_id", F.monotonically_increasing_id() + F.lit(first_event_id))
    )


def _next_event_id(spark: SparkSession, table_path: str, batch_id: int) -> int:
    """One past the greatest event_id already stored under batch
    ``batch_id`` (0 when there is none).  A local table's leaf files are
    read on the driver, one column each; another filesystem's table
    runs one Spark job."""
    root = _local_root(table_path)
    if root is not None:
        pattern = os.path.join(glob.escape(root), "dt=*", f"batch={batch_id}", "*.parquet")
        stored = [pc.max(pq.read_table(f, columns=["event_id"])["event_id"]).as_py()
                  for f in glob.glob(pattern)]
        return max((e for e in stored if e is not None), default=-1) + 1
    try:
        (top,) = (
            spark.read.parquet(table_path).where(F.col("batch") == batch_id)
            .agg(F.max("event_id")).first()
        )
    except AnalysisException:  # no table yet
        return 0
    return 0 if top is None else top + 1


def write_prices(
    clean: DataFrame, table_path: str, batch_id: int, *, replace: bool
) -> DataFrame:
    """S3 table sink, the one writer of the prices-table layout: one
    write job per batch (one txn in the reference,
    etl/crypto_etl.py:108-123).  Returns the written frame
    (:func:`stamp_prices`, layout columns included).

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
    ``batch_id`` both keep their rows; the append numbers its event_ids
    after the ones the partition holds, so no two rows share one and
    the later poll's rows win a timestamp tie (keep-last, the
    reference's arrival order).
    """
    first = 0 if replace else _next_event_id(clean.sparkSession, table_path, batch_id)
    out = stamp_prices(clean, batch_id, first)
    writer = out.write.partitionBy("dt", "batch")
    if replace:
        writer = writer.mode("overwrite").option("partitionOverwriteMode", "dynamic")
    else:
        writer = writer.mode("append")
    writer.parquet(table_path)
    return out


# ---- the latest-per-symbol snapshot file ----------------------------------
#
# A writer that keeps the snapshot (streaming/pipeline.py::
# _IncrementalSnapshot: both streams and PriceTracker.ingest_batch)
# stores the rows it pushes as ONE parquet file,
# ``<table>/_latest/<seq>_<dt>_<batch>.parquet``: ``seq`` numbers the
# versions, and (dt, batch) is the watermark, the newest leaf of the
# table when the file was written.  The file is current while that leaf
# is still the newest and no ``<seq>.stale`` marker follows it; then the
# API serves its <= |symbols| rows instead of a window over the whole
# history.  Hidden names (``_latest``, ``.spark-staging-*``) are skipped
# by Spark's partition discovery, so the table reads as before.
#
# A write that adds a newer leaf makes the file stale by itself.  A
# write that can land at or below the newest leaf (a stream without a
# push, a poll, a writer whose held rows are not the current file's)
# first adds the marker, so the file is never current for a table it
# does not describe.  One writer at a time, as the reference runs one
# ETL process: two concurrent writers could number the same version.
# Only local tables keep a snapshot file; on another filesystem every
# read runs the full window.

SNAPSHOT_DIR = "_latest"
_STALE = ".stale"
# Snapshot files kept: the current one and the two before it, so a
# reader that resolved a file just before a write still finds it while
# its scan runs.
_SNAPSHOT_KEEP = 3
_SNAPSHOT_ARROW = pa.schema(
    [
        ("symbol", pa.string()), ("name", pa.string()),
        ("current_price", pa.float64()), ("market_cap", pa.float64()),
        ("total_volume", pa.float64()), ("timestamp", pa.timestamp("us", tz="UTC")),
    ]
)


def _local_root(table_path: str) -> Optional[str]:
    url = urlsplit(table_path)
    if url.scheme == "file":
        return url.path
    return table_path if url.scheme == "" else None


def _newest_leaf(root: str) -> Optional[tuple[str, int]]:
    """The table's newest (dt, batch) leaf: the greatest ``dt=`` name
    (ISO dates sort as strings), then the greatest ``batch=`` in it.
    Two directory listings on the driver, no Spark job."""
    try:
        days = [n[3:] for n in os.listdir(root) if n.startswith("dt=")]
        if not days:
            return None
        day = max(days)
        batches = [
            int(n[6:]) for n in os.listdir(os.path.join(root, f"dt={day}"))
            if n.startswith("batch=")
        ]
    except FileNotFoundError:
        return None
    return (day, max(batches)) if batches else None


def _snapshot_versions(root: str) -> list[tuple[int, str]]:
    """The snapshot files and stale markers, oldest version first."""
    try:
        names = os.listdir(os.path.join(root, SNAPSHOT_DIR))
    except FileNotFoundError:
        return []
    return sorted(
        (int(n.split("_", 1)[0].split(".", 1)[0]), n)
        for n in names
        if n.endswith((".parquet", _STALE)) and not n.startswith(".")
    )


def current_snapshot(table_path: str) -> Optional[str]:
    """Path of the newest snapshot file when it is current (its
    watermark is the table's newest leaf and no stale marker follows
    it), else None: no file, a write since that kept no snapshot, or a
    table off the local filesystem.  Writers and readers decide
    currency with this one predicate."""
    root = _local_root(table_path)
    versions = [] if root is None else _snapshot_versions(root)
    if not versions or versions[-1][1].endswith(_STALE):
        return None
    name = versions[-1][1]
    day, batch = name[: -len(".parquet")].split("_", 1)[1].rsplit("_", 1)
    if (day, int(batch)) != _newest_leaf(root):
        return None
    return os.path.join(root, SNAPSHOT_DIR, name)


def mark_snapshot_stale(table_path: str) -> None:
    """Make the snapshot not current before a write that may land at
    or below the table's newest leaf, which its watermark cannot show:
    an empty ``<seq>.stale`` version.  Removes nothing, so a reader
    mid-scan keeps its file; the next :func:`write_snapshot` drops the
    marker.  One listing when the newest version is already a marker."""
    root = _local_root(table_path)
    versions = [] if root is None else _snapshot_versions(root)
    if versions and not versions[-1][1].endswith(_STALE):
        name = f"{versions[-1][0] + 1:012d}{_STALE}"
        open(os.path.join(root, SNAPSHOT_DIR, name), "x").close()


def epoch_micros(ts: Optional[dt.datetime]) -> Optional[int]:
    """A collected timestamp as epoch microseconds.  Collected
    timestamps are naive local wall times; .timestamp() maps them back
    to the instant, DST fold included."""
    if ts is None:
        return None
    return int(ts.replace(microsecond=0).timestamp()) * 1_000_000 + ts.microsecond


def write_snapshot(table_path: str, rows: list) -> Optional[str]:
    """Store ``rows`` (the latest row per symbol, in the prices
    columns) as the table's next snapshot version, watermarked with its
    newest leaf; returns the file's path, or None when the table keeps
    no snapshot file.  Written with pyarrow from the driver rows, so it
    runs no Spark job; timestamps are stored as UTC instants.  The file
    appears under its final name by one rename; stale markers and the
    oldest files beyond ``_SNAPSHOT_KEEP`` are then removed."""
    root = _local_root(table_path)
    leaf = None if root is None else _newest_leaf(root)
    if leaf is None:
        return None
    folder = os.path.join(root, SNAPSHOT_DIR)
    os.makedirs(folder, exist_ok=True)
    versions = _snapshot_versions(root)
    seq = versions[-1][0] + 1 if versions else 1
    name = f"{seq:012d}_{leaf[0]}_{leaf[1]}.parquet"
    cols = {c: [r[c] for r in rows] for c in PRICES_COLUMNS}
    cols["timestamp"] = [epoch_micros(t) for t in cols["timestamp"]]
    tmp = os.path.join(folder, f".{name}")
    pq.write_table(pa.Table.from_pydict(cols, schema=_SNAPSHOT_ARROW), tmp)
    os.replace(tmp, os.path.join(folder, name))
    markers = [n for _, n in versions if n.endswith(_STALE)]
    files = [n for _, n in versions if n.endswith(".parquet")]
    for old in markers + files[: max(0, len(files) + 1 - _SNAPSHOT_KEEP)]:
        os.remove(os.path.join(folder, old))
    return os.path.join(folder, name)


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
