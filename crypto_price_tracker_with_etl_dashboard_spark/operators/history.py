"""Per-symbol history slice (entry point 3 in the reference,
api/server.js:90-143): equality predicate on symbol, optional
inclusive start bound, optional EXCLUSIVE start-of-next-day upper
bound (api/server.js:113-124), chronological order.

Scale notes: every write path partitions the prices table by
``dt = to_date(timestamp)``, so each timestamp bound also implies a
``dt`` bound, which prunes partitions; the symbol equality is pushed
to parquet row-group stats.  A 30-day slice of one symbol touches 32
days of partitions regardless of total table size.  The result is one
symbol's slice and the API collects it to the driver anyway, so it is
sorted in one partition: no range-partitioned exchange and no sampling
job re-running the scan.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _parse_bound(d: str | dt.date | dt.datetime, name: str) -> dt.date | dt.datetime:
    """ISO date or datetime, parsed eagerly so a bad bound raises
    instead of silently matching nothing."""
    if isinstance(d, (dt.date, dt.datetime)):
        return d
    s = str(d)
    for parse in (dt.date.fromisoformat, dt.datetime.fromisoformat):
        try:
            return parse(s)
        except ValueError:
            continue
    raise ValueError(
        f"{name} must be an ISO date (YYYY-MM-DD) or datetime, got {d!r}"
    )


def history_slice(
    prices: DataFrame,
    symbol: str,
    start_date: str | dt.date | None = None,
    end_date: str | dt.date | None = None,
) -> DataFrame:
    """``WHERE symbol = $1 [AND timestamp >= start] [AND timestamp <
    end+1day] ORDER BY timestamp`` with the reference's exact bound
    semantics: start is inclusive midnight, end is exclusive midnight
    of the FOLLOWING day (so rows at end_date 23:59:59.999 are kept).
    Symbol lookup is lowercased like api/server.js:102.

    Bounds are validated DRIVER-SIDE: under non-ANSI mode a malformed
    date string would cast to NULL, the bound predicate would
    evaluate NULL on every row, and the API would return a
    plausible-looking EMPTY history with no error (the reference's
    PG query raises on an invalid date).

    When ``prices`` has the ``dt`` partition column, each bound also
    filters ``dt`` so the scan prunes partitions.  ``dt`` is the date
    in the writing session's time zone, while the bounds are midnights
    in the calling process's zone, so a row's ``dt`` can be a day off
    its date here.  The ``dt`` bounds are therefore one day wider on
    each side: no row is lost while the two zones' offsets differ by
    at most 24 h, which every pair of zones except UTC+13/+14 against
    UTC-11/-12 meets.  The ``timestamp`` predicates stay the exact
    filter."""
    prune = "dt" in prices.columns
    day = dt.timedelta(days=1)
    out = prices.filter(F.col("symbol") == F.lower(F.lit(symbol)))
    if start_date is not None:
        start = _parse_bound(start_date, "start_date")
        if not isinstance(start, dt.datetime):
            start = dt.datetime.combine(start, dt.time.min)
        out = out.filter(F.col("timestamp") >= F.lit(start))
        if prune:
            out = out.filter(F.col("dt") >= F.lit(start.date() - day))
    if end_date is not None:
        end = _parse_bound(end_date, "end_date")
        next_day = dt.datetime.combine(
            (end.date() if isinstance(end, dt.datetime) else end) + day,
            dt.time.min,
        )
        out = out.filter(F.col("timestamp") < F.lit(next_day))
        if prune:
            out = out.filter(F.col("dt") <= F.lit(next_day.date()))
    # One symbol's slice, collected by the caller: one partition sorts it.
    return (
        out.select(
            "symbol", "name", "current_price", "market_cap", "total_volume", "timestamp"
        )
        .repartition(1)
        .orderBy(F.col("timestamp").asc())
    )
