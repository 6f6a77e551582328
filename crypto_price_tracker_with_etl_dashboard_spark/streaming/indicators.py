"""Streaming EMA/MACD: the stateful streaming twin of the batch
``operators/indicators.py::ema_macd`` (certified as the
``prices_ema_macd`` oracle row), via ``applyInPandasWithState`` —
the same pattern as the sessionize and VWAP twins: the batch
operator defines the semantics, the stream produces value-IDENTICAL
results incrementally.

State model (per key): the recursion state ``(ef, es, rn)`` — two
fixed-point BIGINT EMA accumulators and the 1-based tick index.
Each micro-batch sorts its own rows by event time and folds them
into the state with the batch operator's own step function
(``operators/indicators.py::ema_step``), the integer recursion the
DuckDB oracle re-derives:

    eu_t = (2*xu_t + (n-1)*eu_{t-1} + (n+1)//2) // (n+1)

so after any prefix of in-order micro-batches the emitted rows match
the batch operator run over the concatenated input bit-for-bit
(asserted in test_streaming).

Ordering contract: WITHIN a micro-batch any arrival order is fine
(rows are sorted by event time before folding, ties by arrival
order); ACROSS micro-batches events must not regress behind an
already-folded tick — an EMA state cannot be rewound (same
O(1)-state trade-off the sessionize twin documents for its
single-interval model).  Feeds that can deliver cross-batch
out-of-order ticks should run the batch operator over at-rest data.

Scale shape: state is hash-partitioned by key in the state store —
3 longs per key; each micro-batch shuffles only its own rows; output
is one row per input event (append mode).
"""

from __future__ import annotations

import math
from typing import Any, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from crypto_price_tracker_with_etl_dashboard_spark.operators.exact import SCALE
from crypto_price_tracker_with_etl_dashboard_spark.operators.indicators import ema_step

EMA_SCHEMA = StructType(
    [
        StructField("symbol", StringType()),
        StructField("ts", TimestampType()),
        StructField("rn", LongType()),
        StructField("ema_fast", DoubleType()),
        StructField("ema_slow", DoubleType()),
        StructField("macd", DoubleType()),
    ]
)

EMA_STATE_SCHEMA = StructType(
    [
        StructField("ef", LongType()),
        StructField("es", LongType()),
        StructField("rn", LongType()),
    ]
)


def make_ema_fn(fast: int = 12, slow: int = 26):
    step = ema_step(fast, slow)

    def fold(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (sym,) = key
        if state.hasTimedOut:  # pragma: no cover - NoTimeout below
            state.remove()
            return
        rows = []
        for i_pdf, pdf in enumerate(pdfs):
            for i_row, (t, p) in enumerate(zip(pdf["ts"], pdf["price"])):
                if pd.isna(t) or pd.isna(p):
                    continue
                rows.append((t, i_pdf, i_row, float(p)))
        if not rows:
            return
        # event-time order; ties keep arrival order (stable by the
        # (batch, row) tuple) — the batch operator's tiebreak column
        # plays this role at rest
        rows.sort(key=lambda r: (r[0], r[1], r[2]))
        st = state.get if state.exists else None
        out = []
        for t, _b, _i, p in rows:
            # HALF_UP like Spark's F.round / DuckDB round (prices are
            # nonnegative); Python round() is HALF_EVEN — not it
            st, _ = step(st, int(math.floor(p * SCALE + 0.5)))
            out.append((t, *st))
        state.update(st)
        ts, ef, es, rn = (list(c) for c in zip(*out))
        yield pd.DataFrame(
            {
                "symbol": [sym] * len(out),
                "ts": ts,
                "rn": rn,
                "ema_fast": [v / SCALE for v in ef],
                "ema_slow": [v / SCALE for v in es],
                "macd": [(f - s) / SCALE for f, s in zip(ef, es)],
            }
        )

    return fold


def streaming_ema_macd(
    prices_stream: DataFrame,
    key: str = "symbol",
    ts_col: str = "timestamp",
    price: str = "current_price",
    fast: int = 12,
    slow: int = 26,
) -> DataFrame:
    """prices stream -> append-mode stream of per-tick EMA/MACD rows
    (one output row per input tick, exactly the batch operator's
    rows)."""
    from pyspark.sql import functions as F

    return (
        prices_stream.select(
            F.col(key).cast("string").alias("symbol"),
            F.col(ts_col).alias("ts"),
            F.col(price).cast("double").alias("price"),
        )
        .groupBy("symbol")
        .applyInPandasWithState(
            make_ema_fn(fast, slow),
            outputStructType=EMA_SCHEMA,
            stateStructType=EMA_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
