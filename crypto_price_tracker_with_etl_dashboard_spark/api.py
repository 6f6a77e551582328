"""User-facing facade: the reference's whole application surface as
one object.

A user of the reference interacts with exactly these operations
(SURVEY.md §3):

    ETL tick        POST-ish: fetch -> validate -> append
                    (etl/crypto_etl.py:138-148)
    GET /api/crypto                    -> latest()
                    (api/server.js:66-86)
    GET /api/crypto/history/:symbol    -> history()
                    (api/server.js:90-143)
    WS latest_crypto_update broadcast  -> start_stream(push_fn=...)
                    (api/server.js:166-193)
    dashboard rollups (client-side JS) -> market_distribution(),
                    top_symbols(), symbols()
                    (frontend/src/App.js:87-142,463-471,569-570)

Each method returns a DataFrame (lazy plan) — callers decide whether
to collect, stream, or write.  The fact table can be a directory of
date-partitioned parquet (production shape) or any prices-schema
DataFrame (tests, derived views).
"""

from __future__ import annotations

import datetime as dt
from typing import Callable, Iterable, Mapping, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from crypto_price_tracker_with_etl_dashboard_spark.operators.dashboard import (
    distinct_symbols,
    market_share,
    topk_with_other,
)
from crypto_price_tracker_with_etl_dashboard_spark.operators.history import history_slice
from crypto_price_tracker_with_etl_dashboard_spark.operators.latest import latest_snapshot
from crypto_price_tracker_with_etl_dashboard_spark.sources.ingest import (
    append_prices,
    coingecko_rows_to_df,
    validate_and_normalize,
)
from crypto_price_tracker_with_etl_dashboard_spark.streaming.pipeline import run_ingest_stream
from crypto_price_tracker_with_etl_dashboard_spark.streaming.windows import ohlc_candles


class PriceTracker:
    """The reference application, Spark-native.

    ``table`` — path to the date-partitioned parquet prices table, or
    a ready DataFrame in the prices schema (symbol, name,
    current_price, market_cap, total_volume, timestamp[, event_id]).
    """

    def __init__(self, spark: SparkSession, table: str | DataFrame):
        self.spark = spark
        self._table = table
        self._schema: Optional[StructType] = None

    @property
    def prices(self) -> DataFrame:
        """The prices table as it stands now.

        A path-backed table's schema is resolved once per tracker, on
        the first deref that succeeds, and reused: every write path
        (``ingest_batch``, the streaming sinks) writes the same
        (dt, batch) + event_id layout, so it cannot change.  Files are
        listed on every deref, so batches appended since are visible.
        """
        if isinstance(self._table, DataFrame):
            return self._table
        if self._schema is None:
            # Racing first derefs each resolve the same schema; either
            # store is correct.
            self._schema = self.spark.read.parquet(self._table).schema
        return self.spark.read.schema(self._schema).parquet(self._table)

    # ---- write path (ETL tier) -------------------------------------------

    def ingest_batch(
        self, rows: Iterable[Mapping], batch_ts: Optional[dt.datetime] = None
    ) -> int:
        """One ETL tick: list[dict] (the JSON a poll returns) ->
        validate/normalize with a batch-constant timestamp -> atomic
        append.  Returns rows written.  Requires a path-backed table."""
        if isinstance(self._table, DataFrame):
            raise ValueError("ingest_batch needs a path-backed prices table")
        ts = batch_ts or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        clean = validate_and_normalize(
            coingecko_rows_to_df(self.spark, rows), ts
        ).cache()
        n = clean.count()
        # batch id = epoch seconds of the batch timestamp: keeps the
        # (dt, batch) layout identical to the streaming sink (see
        # append_prices) and gives repeated polls distinct partitions.
        append_prices(clean, self._table, batch_id=int(ts.timestamp()))
        clean.unpersist()
        return n

    def start_stream(
        self,
        raw_dir: str,
        checkpoint_dir: str,
        push_fn: Optional[Callable[[list], None]] = None,
        trigger_seconds: Optional[int] = None,
    ) -> StreamingQuery:
        """The reference's poll->append->broadcast loop as one
        Structured Streaming query (5-min trigger in production)."""
        if isinstance(self._table, DataFrame):
            raise ValueError("start_stream needs a path-backed prices table")
        return run_ingest_stream(
            self.spark, raw_dir, self._table, checkpoint_dir,
            push_fn=push_fn, trigger_seconds=trigger_seconds,
        )

    # ---- read path (API tier) --------------------------------------------

    def latest(self, order_by_cap: bool = True) -> DataFrame:
        """GET /api/crypto: one row per symbol at its max timestamp,
        ordered by market cap desc (NULLS FIRST, matching PG).  The
        dashboard rollups pass ``order_by_cap=False``: their own
        aggregations destroy row order, so the global sort exchange
        would be paid and thrown away."""
        prices = self.prices
        tiebreak = "event_id" if "event_id" in prices.columns else None
        return latest_snapshot(prices, tiebreaker=tiebreak, order_by_cap=order_by_cap)

    def history(
        self,
        symbol: str,
        start_date: str | dt.date | None = None,
        end_date: str | dt.date | None = None,
    ) -> DataFrame:
        """GET /api/crypto/history/:symbol with the reference's exact
        bounds: inclusive start midnight, exclusive NEXT-day midnight."""
        return history_slice(self.prices, symbol, start_date, end_date)

    # ---- dashboard tier ---------------------------------------------------

    def top_symbols(self, k: int = 7) -> DataFrame:
        """Top-K by market cap + synthetic 'Other' rollup row."""
        return topk_with_other(self.latest(order_by_cap=False), k)

    def market_distribution(self, k: int = 7) -> DataFrame:
        """Percentage-of-total doughnut segments (2 dp)."""
        return market_share(self.latest(order_by_cap=False), k)

    def symbols(self) -> DataFrame:
        """Distinct symbols, lexicographic — the dropdown list."""
        return distinct_symbols(self.prices)

    # ---- extensions -------------------------------------------------------

    def ohlc(self, window: str = "5 minutes") -> DataFrame:
        """Per-symbol tumbling OHLC candles over the price history."""
        # bind once: each `self.prices` deref on a path-backed table
        # lists the table's files again
        prices = self.prices
        tiebreak = "event_id" if "event_id" in prices.columns else None
        return ohlc_candles(prices, window=window, tiebreak_col=tiebreak)

    @staticmethod
    def _order_cols(prices: DataFrame) -> list[str]:
        return (
            ["timestamp", "event_id"]
            if "event_id" in prices.columns
            else ["timestamp"]
        )

    def vwap(self, bucket: str = "hour") -> DataFrame:
        """Per-symbol volume-weighted average price per time bucket
        (exact fixed-point sums — operators/indicators.py)."""
        from crypto_price_tracker_with_etl_dashboard_spark.operators.indicators import (
            vwap,
        )

        return vwap(
            self.prices, key="symbol", ts_col="timestamp",
            price="current_price", volume="total_volume", bucket=bucket,
        )

    def rsi(self, period: int = 14) -> DataFrame:
        """Cutler RSI per symbol over the ordered tick series."""
        from crypto_price_tracker_with_etl_dashboard_spark.operators.indicators import (
            rsi,
        )

        prices = self.prices
        return rsi(
            prices, key="symbol", order_by=self._order_cols(prices),
            price="current_price", period=period,
        )

    def max_drawdown(self) -> DataFrame:
        """Maximum peak-to-trough drawdown per symbol."""
        from crypto_price_tracker_with_etl_dashboard_spark.operators.indicators import (
            max_drawdown,
        )

        prices = self.prices
        return max_drawdown(
            prices, key="symbol", order_by=self._order_cols(prices),
            price="current_price",
        )

    def ema_macd(self, fast: int = 12, slow: int = 26) -> DataFrame:
        """Recursive EMA(fast)/EMA(slow) + MACD per symbol — exact
        integer recursion, one mapInPandas pass
        (operators/indicators.py::ema_macd)."""
        from crypto_price_tracker_with_etl_dashboard_spark.operators.indicators import (
            ema_macd,
        )

        prices = self.prices
        return ema_macd(
            prices, key="symbol", order_by=self._order_cols(prices),
            price="current_price", fast=fast, slow=slow,
        )
