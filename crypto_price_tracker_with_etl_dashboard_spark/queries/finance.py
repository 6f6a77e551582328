"""Financial-indicator queries over the reference's prices table
(derived from events, sources/tables.py::prices_from_events).

The reference's frontend charts the raw price history
(frontend/src/App.js PriceChart) and computes nothing on top; these
are the indicators a price-tracker consumer layers on first — VWAP,
RSI, max drawdown (operators/indicators.py).  Each is one shuffle on
the symbol key with fixed-point-deterministic arithmetic, so every
row is oracle-checkable bit-for-bit.

Registered r6 OUTSIDE the 50-query driver window (the r6 window's
rotation arithmetic is fully committed to re-certifying the r3-stale
TPC-H block); certified this round by tools/check_oracle.py and
scheduled to debut in the r7 driver window (queries/__init__.py
NEW_THIS_ROUND note).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crypto_price_tracker_with_etl_dashboard_spark.operators.indicators import (
    bollinger,
    ema_macd,
    max_drawdown,
    ols_trend,
    lead_lag_corr,
    pairwise_corr,
    rsi,
    sharpe_ratio,
    sql_bollinger,
    sql_ema_macd,
    sql_lead_lag_corr,
    sql_max_drawdown,
    sql_ols_trend,
    sql_pairwise_corr,
    sql_rsi,
    sql_sharpe_ratio,
    sql_stochastic,
    sql_twap,
    sql_vwap,
    stochastic,
    twap,
    vwap,
)
from crypto_price_tracker_with_etl_dashboard_spark.queries import register
from crypto_price_tracker_with_etl_dashboard_spark.sources import (
    PRICES_CTE_SQL,
    prices_from_events,
)

_RSI_PERIOD = 14


def q_prices_vwap_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly VWAP per symbol: sum(price*volume)/sum(volume) in exact
    fixed-point over the positive-volume ticks."""
    prices = prices_from_events(spark, sf_dir)
    return vwap(
        prices, key="symbol", ts_col="timestamp",
        price="current_price", volume="total_volume",
    )


register(
    "prices_vwap_hourly",
    q_prices_vwap_hourly,
    f"""
    WITH {PRICES_CTE_SQL}
    {sql_vwap('prices', 'symbol', 'timestamp', 'current_price', 'total_volume')}
    """,
)


def q_prices_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RSI-14 (Cutler's SMA variant) per symbol tick series,
    tie-broken on event_id; emitted once a full 14-delta window
    exists.  Gains/losses accumulate in fixed-point inside the rows
    frame, so the value is identical regardless of the engine's
    frame-evaluation order."""
    prices = prices_from_events(spark, sf_dir)
    return rsi(
        prices, key="symbol", order_by=["timestamp", "event_id"],
        price="current_price", period=_RSI_PERIOD,
    )


register(
    "prices_rsi",
    q_prices_rsi,
    sql_rsi(
        'prices', 'symbol', ['timestamp', 'event_id'], 'current_price',
        _RSI_PERIOD, extra_ctes=PRICES_CTE_SQL.strip() + ',',
    ),
)


def q_prices_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum peak-to-trough drawdown per symbol over its ordered
    tick history — comparisons and one per-row ratio only, no
    summation, so bit-portable without fixed-point."""
    prices = prices_from_events(spark, sf_dir)
    return max_drawdown(
        prices, key="symbol", order_by=["timestamp", "event_id"],
        price="current_price",
    )


register(
    "prices_max_drawdown",
    q_prices_max_drawdown,
    sql_max_drawdown(
        'prices', 'symbol', ['timestamp', 'event_id'], 'current_price',
        extra_ctes=PRICES_CTE_SQL.strip() + ',',
    ),
)


def q_prices_ema_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMA-12 / EMA-26 / MACD per symbol tick series — the recursive
    (infinite-memory) smoothing RSI's SMA variant avoids, certified
    here via an exact integer recursion both engines re-derive
    bit-for-bit (operators/indicators.py::ema_macd)."""
    prices = prices_from_events(spark, sf_dir)
    return ema_macd(
        prices, key="symbol", order_by=["timestamp", "event_id"],
        price="current_price", fast=12, slow=26,
    )


register(
    "prices_ema_macd",
    q_prices_ema_macd,
    sql_ema_macd(
        'prices', 'symbol', ['timestamp', 'event_id'], 'current_price',
        fast=12, slow=26, extra_ctes=PRICES_CTE_SQL.strip() + ',',
    ),
)


def q_prices_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol OLS price trend (slope/intercept/R^2 against the
    tick index) from exact fixed-point sums
    (operators/indicators.py::ols_trend)."""
    prices = prices_from_events(spark, sf_dir)
    return ols_trend(
        prices, key="symbol", order_by=["timestamp", "event_id"],
        price="current_price",
    )


register(
    "prices_trend",
    q_prices_trend,
    sql_ols_trend(
        'prices', 'symbol', ['timestamp', 'event_id'], 'current_price',
        extra_ctes=PRICES_CTE_SQL.strip() + ',',
    ),
)


def q_prices_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands (SMA-20 +/- 2 population sigmas) per symbol
    tick series, from exact fixed-point frame sums
    (operators/indicators.py::bollinger)."""
    prices = prices_from_events(spark, sf_dir)
    return bollinger(
        prices, key="symbol", order_by=["timestamp", "event_id"],
        price="current_price", period=20, width=2.0,
    )


register(
    "prices_bollinger",
    q_prices_bollinger,
    sql_bollinger(
        'prices', 'symbol', ['timestamp', 'event_id'], 'current_price',
        period=20, width=2.0, extra_ctes=PRICES_CTE_SQL.strip() + ',',
    ),
)


def q_prices_stochastic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stochastic oscillator (%K-14, %D-3) per symbol tick series;
    %K is ppm-quantized so the %D average is an exact integer sum
    (operators/indicators.py::stochastic)."""
    prices = prices_from_events(spark, sf_dir)
    return stochastic(
        prices, key="symbol", order_by=["timestamp", "event_id"],
        price="current_price", k_period=14, d_period=3,
    )


register(
    "prices_stochastic",
    q_prices_stochastic,
    sql_stochastic(
        'prices', 'symbol', ['timestamp', 'event_id'], 'current_price',
        k_period=14, d_period=3, extra_ctes=PRICES_CTE_SQL.strip() + ',',
    ),
)


def q_prices_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-return Pearson correlation between every pair of the
    40 most-ticked symbols — the co-movement matrix
    (operators/indicators.py::pairwise_corr).  Quadratic only in the
    FIXED top-N, linear in the tick table.  Daily buckets over the
    30-day corpus (~64 ticks/symbol/month — finer buckets leave
    almost no aligned observations between two symbols), pairs kept
    at >= 10 common days."""
    prices = prices_from_events(spark, sf_dir)
    return pairwise_corr(
        prices, key="symbol", ts_col="timestamp",
        price="current_price", tiebreak="event_id",
        top_n=40, min_obs=10, bucket="day",
    )


register(
    "prices_corr_matrix",
    q_prices_corr_matrix,
    sql_pairwise_corr(
        'prices', 'symbol', 'timestamp', 'current_price', 'event_id',
        top_n=40, min_obs=10, bucket="day",
        extra_ctes=PRICES_CTE_SQL.strip() + ',',
    ),
)


def q_prices_twap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily TWAP per symbol: each tick's price weighted by the whole
    seconds it stayed the live quote (operators/indicators.py::twap)
    — VWAP's holding-time sibling."""
    prices = prices_from_events(spark, sf_dir)
    return twap(
        prices, key="symbol", ts_col="timestamp",
        price="current_price", tiebreak="event_id", bucket="day",
    )


register(
    "prices_twap_daily",
    q_prices_twap_daily,
    sql_twap(
        'prices', 'symbol', 'timestamp', 'current_price', 'event_id',
        bucket="day", extra_ctes=PRICES_CTE_SQL.strip() + ',',
    ),
)


# ---- robust price-jump detection -------------------------------------------
# The alerting cut on the tick stream: a return is a "jump" when it
# sits more than K MADs from its symbol's median return — the
# moment-free formulation that a handful of flash spikes cannot mask
# (the same argument as events_robust_outliers, applied to ppb-
# quantized returns).  Lower medians via the rank trick (the VALUE
# at rank (n+1)//2 is deterministic even under ties); everything
# integer until the output.  Shuffles: one symbol-key window for the
# returns + two median passes sharing the key; med/MAD tables are
# O(symbols) broadcasts.

_JUMP_K = 8


def jump_detect(prices: DataFrame) -> DataFrame:
    """The MAD jump cut over an existing prices relation (the form
    the worked example composes — one shared prices plan)."""
    from pyspark.sql import Window

    w = Window.partitionBy("symbol").orderBy(
        F.col("timestamp").asc(), F.col("event_id").asc()
    )
    rets = (
        prices.filter(F.col("current_price").isNotNull())
        .select(
            "symbol", "timestamp", "event_id",
            F.col("current_price").alias("__c"),
            F.lag("current_price").over(w).alias("__p"),
        )
        .filter(F.col("__p").isNotNull() & (F.col("__p") != 0.0))
        .select(
            "symbol", "timestamp", "event_id",
            F.round((F.col("__c") - F.col("__p")) / F.col("__p") * 1000000000.0)
            .cast("bigint").alias("ret_ppb"),
        )
    )
    wr = Window.partitionBy("symbol").orderBy("ret_ppb")
    wc = Window.partitionBy("symbol")
    ranked = rets.select(
        "symbol", "ret_ppb",
        F.row_number().over(wr).alias("__rn"),
        F.count("*").over(wc).alias("__n"),
    )
    med = ranked.filter(F.col("__rn") == F.expr("(__n + 1) div 2")).select(
        "symbol", F.col("ret_ppb").alias("__med")
    )
    dev = rets.join(F.broadcast(med), "symbol").withColumn(
        "__d", F.abs(F.col("ret_ppb") - F.col("__med"))
    )
    wd = Window.partitionBy("symbol").orderBy("__d")
    rdev = dev.select(
        "symbol", "__d",
        F.row_number().over(wd).alias("__rn"),
        F.count("*").over(wc).alias("__n"),
    )
    mad = rdev.filter(F.col("__rn") == F.expr("(__n + 1) div 2")).select(
        "symbol", F.col("__d").alias("__mad")
    )
    return (
        dev.join(F.broadcast(mad), "symbol")
        .filter(F.col("__d") > _JUMP_K * F.col("__mad"))
        .select(
            "symbol", "timestamp", "event_id", "ret_ppb",
            F.col("__d").alias("dev_ppb"),
            F.col("__mad").alias("mad_ppb"),
        )
        .orderBy("symbol", "timestamp", "event_id")
    )


def q_prices_jump_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jump_detect(prices_from_events(spark, sf_dir))


def _jump_sql() -> str:
    return f"""
    WITH {PRICES_CTE_SQL.strip()},
    rets AS (
      SELECT symbol, timestamp, event_id,
             CAST(round((c - p) / p * 1000000000.0) AS BIGINT) AS ret_ppb
      FROM (
        SELECT symbol, timestamp, event_id, current_price AS c,
               lag(current_price) OVER (
                 PARTITION BY symbol ORDER BY timestamp ASC, event_id ASC) AS p
        FROM prices WHERE current_price IS NOT NULL
      ) WHERE p IS NOT NULL AND p <> 0.0
    ),
    med AS (
      SELECT symbol, ret_ppb AS med FROM (
        SELECT symbol, ret_ppb,
               row_number() OVER (PARTITION BY symbol ORDER BY ret_ppb) AS rn,
               COUNT(*) OVER (PARTITION BY symbol) AS n
        FROM rets
      ) WHERE rn = (n + 1) // 2
    ),
    dev AS (
      SELECT r.symbol, r.timestamp, r.event_id, r.ret_ppb,
             abs(r.ret_ppb - m.med) AS d
      FROM rets r JOIN med m ON m.symbol = r.symbol
    ),
    mad AS (
      SELECT symbol, d AS mad FROM (
        SELECT symbol, d,
               row_number() OVER (PARTITION BY symbol ORDER BY d) AS rn,
               COUNT(*) OVER (PARTITION BY symbol) AS n
        FROM dev
      ) WHERE rn = (n + 1) // 2
    )
    SELECT dev.symbol, dev.timestamp, dev.event_id, dev.ret_ppb,
           dev.d AS dev_ppb, mad.mad AS mad_ppb
    FROM dev JOIN mad ON mad.symbol = dev.symbol
    WHERE dev.d > {_JUMP_K} * mad.mad
    ORDER BY dev.symbol, dev.timestamp, dev.event_id
    """


register("prices_jump_detect", q_prices_jump_detect, _jump_sql())


def q_prices_heikin_ashi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heikin-Ashi smoothed 5-minute candles: the recursive chart
    variant layered over the certified OHLC query
    (operators/indicators.py::heikin_ashi) — each candle's open
    depends on the whole prior series, so this is the second
    certified arbitrary-length integer recursion after EMA/MACD."""
    from crypto_price_tracker_with_etl_dashboard_spark.operators.indicators import (
        heikin_ashi,
    )
    from crypto_price_tracker_with_etl_dashboard_spark.streaming.windows import (
        ohlc_candles,
    )

    prices = prices_from_events(spark, sf_dir)
    candles = ohlc_candles(prices, tiebreak_col="event_id", exact_volume=True)
    return heikin_ashi(candles, key="symbol", order_col="window_start")


def _heikin_ashi_sql() -> str:
    from crypto_price_tracker_with_etl_dashboard_spark.operators.indicators import (
        sql_heikin_ashi,
    )

    from crypto_price_tracker_with_etl_dashboard_spark.queries.reference import (
        OHLC_CANDLES_CTE_SQL,
    )

    candles_cte = (
        f"{PRICES_CTE_SQL.strip().rstrip(',')},\n    {OHLC_CANDLES_CTE_SQL}"
    )
    return sql_heikin_ashi(candles_cte, "symbol", "window_start")


register("prices_heikin_ashi", q_prices_heikin_ashi, _heikin_ashi_sql())


def q_prices_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag daily-return correlation between every pair of the 8
    most-ticked symbols at lags of -2..+2 days
    (operators/indicators.py::lead_lag_corr) — does one coin's move
    today predict another's tomorrow?  The L = 0 slice reproduces
    prices_corr_matrix; the off-zero lags are the new signal."""
    prices = prices_from_events(spark, sf_dir)
    return lead_lag_corr(
        prices, key="symbol", ts_col="timestamp",
        price="current_price", tiebreak="event_id",
        top_n=8, min_obs=10, bucket="day",
    )


register(
    "prices_lead_lag",
    q_prices_lead_lag,
    sql_lead_lag_corr(
        "prices", key="symbol", ts_col="timestamp",
        price="current_price", tiebreak="event_id",
        top_n=8, min_obs=10, bucket="day",
        extra_ctes=PRICES_CTE_SQL.strip() + ',',
    ),
)


def q_prices_sharpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annualized Sharpe ratio per symbol from daily returns
    (operators/indicators.py::sharpe_ratio) — the risk-adjusted
    scalar next to max_drawdown in any portfolio readout."""
    prices = prices_from_events(spark, sf_dir)
    return sharpe_ratio(
        prices, key="symbol", ts_col="timestamp",
        price="current_price", tiebreak="event_id", min_obs=10,
    )


register(
    "prices_sharpe",
    q_prices_sharpe,
    sql_sharpe_ratio(
        "prices", key="symbol", ts_col="timestamp",
        price="current_price", tiebreak="event_id", min_obs=10,
        extra_ctes=PRICES_CTE_SQL.strip() + ',',
    ),
)


def q_prices_atr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilder ATR-14 per symbol over the certified 5-minute OHLC
    candles (operators/indicators.py::atr) — the volatility overlay
    next to Bollinger/stochastic, and the third certified
    arbitrary-length integer recursion (after EMA/MACD and
    Heikin-Ashi) because the RMA state at candle t depends on every
    prior true range."""
    from crypto_price_tracker_with_etl_dashboard_spark.operators.indicators import atr
    from crypto_price_tracker_with_etl_dashboard_spark.streaming.windows import (
        ohlc_candles,
    )

    prices = prices_from_events(spark, sf_dir)
    candles = ohlc_candles(prices, tiebreak_col="event_id", exact_volume=True)
    return atr(candles, key="symbol", order_col="window_start", n=14)


def _atr_sql() -> str:
    from crypto_price_tracker_with_etl_dashboard_spark.operators.indicators import (
        sql_atr,
    )

    from crypto_price_tracker_with_etl_dashboard_spark.queries.reference import (
        OHLC_CANDLES_CTE_SQL,
    )

    candles_cte = (
        f"{PRICES_CTE_SQL.strip().rstrip(',')},\n    {OHLC_CANDLES_CTE_SQL}"
    )
    return sql_atr(candles_cte, "symbol", "window_start", n=14)


register("prices_atr", q_prices_atr, _atr_sql())



def q_prices_obv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-Balance Volume per symbol (operators/indicators.py::obv):
    final OBV plus its running-path extrema over the tick series —
    the classic volume-flow confirmation indicator (up-tick volume
    accumulates, down-tick volume distributes).  Integer-cent
    cumulative fold ordered by (timestamp, event_id); one shuffle on
    the symbol key, O(symbols) output."""
    from crypto_price_tracker_with_etl_dashboard_spark.operators.indicators import obv

    prices = prices_from_events(spark, sf_dir)
    return obv(
        prices, key="symbol", order_by=["timestamp", "event_id"],
        price="current_price", volume="total_volume",
    )


def _obv_sql() -> str:
    from crypto_price_tracker_with_etl_dashboard_spark.operators.indicators import (
        sql_obv,
    )

    return sql_obv(
        "prices", key="symbol", order_by=["timestamp", "event_id"],
        price="current_price", volume="total_volume",
        extra_ctes=PRICES_CTE_SQL.strip() + ',',
    )


register("prices_obv", q_prices_obv, _obv_sql())


# ---- seasonal-naive forecast backtest ---------------------------------------
# The evaluation half of forecasting (events_holt_forecast builds a
# model; this row certifies how forecast ERROR is measured): the
# seasonal-naive baseline predicts each day's close with the close 7
# days earlier, and the backtest reports per-symbol MAPE — the
# benchmark every real model must beat before it ships.  Error
# quantizes per evaluation point to integer ppm (floor of one double
# expression on exactly-equal inputs), so the aggregate is an
# order-free integer sum on both engines.
_BT_LAG_DAYS = 7


def q_prices_backtest_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    prices = prices_from_events(spark, sf_dir)
    from pyspark.sql import Window

    w = Window.partitionBy("symbol", F.to_date("timestamp")).orderBy(
        F.col("timestamp").desc(), F.col("event_id").desc()
    )
    daily = (
        prices.filter(F.col("current_price") > 0)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "symbol",
            F.to_date("timestamp").alias("day"),
            F.col("current_price").alias("close"),
        )
    )
    pred = daily.select(
        "symbol",
        F.date_add(F.col("day"), _BT_LAG_DAYS).alias("day"),
        F.col("close").alias("pred"),
    )
    evald = daily.join(pred, ["symbol", "day"]).select(
        "symbol",
        F.floor(
            F.abs(F.col("close") - F.col("pred")) * 1000000.0 / F.col("close")
        ).cast("bigint").alias("ape_ppm"),
    )
    return (
        evald.groupBy("symbol")
        .agg(
            F.count("*").alias("n_evals"),
            F.expr("sum(ape_ppm) div count(*)").alias("mape_ppm"),
            F.max("ape_ppm").alias("max_ape_ppm"),
        )
        .orderBy("symbol")
    )


register(
    "prices_backtest_naive",
    q_prices_backtest_naive,
    f"""
    WITH {PRICES_CTE_SQL.strip().rstrip(',')},
    daily AS (
      SELECT symbol, CAST(timestamp AS DATE) AS day, current_price AS close
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY symbol, CAST(timestamp AS DATE)
          ORDER BY timestamp DESC, event_id DESC
        ) AS rn
        FROM prices WHERE current_price > 0
      ) WHERE rn = 1
    ),
    pred AS (
      SELECT symbol, day + {_BT_LAG_DAYS} AS day, close AS pred FROM daily
    ),
    evald AS (
      SELECT d.symbol,
             CAST(floor(abs(d.close - p.pred) * 1000000.0 / d.close) AS BIGINT)
               AS ape_ppm
      FROM daily d JOIN pred p ON d.symbol = p.symbol AND d.day = p.day
    )
    SELECT symbol, COUNT(*) AS n_evals,
           CAST(SUM(ape_ppm) AS BIGINT) // COUNT(*) AS mape_ppm,
           MAX(ape_ppm) AS max_ape_ppm
    FROM evald GROUP BY symbol ORDER BY symbol
    """,
)


# ---- Donchian channel breakouts ----------------------------------------------
# The extremum channel next to Bollinger's stddev channel: upper/lower
# = max/min of the PRIOR 20 ticks (current excluded, the breakout
# convention), a tick breaks out when it exceeds the channel.  Pure
# comparisons on raw doubles (order-free, no accumulation) except the
# channel-width ratio, which floors to integer ppm — so every figure
# is engine-exact.  One shuffle on the symbol key, O(symbols) output.
_DONCHIAN_N = 20


def q_prices_donchian(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    prices = prices_from_events(spark, sf_dir).filter(F.col("current_price") > 0)
    w = (
        Window.partitionBy("symbol")
        .orderBy(F.col("timestamp").asc(), F.col("event_id").asc())
        .rowsBetween(-_DONCHIAN_N, -1)
    )
    chan = prices.select(
        "symbol",
        F.col("current_price").alias("px"),
        F.max("current_price").over(w).alias("upper"),
        F.min("current_price").over(w).alias("lower"),
        F.count("current_price").over(w).alias("nw"),
    ).filter(F.col("nw") == _DONCHIAN_N)
    return (
        chan.groupBy("symbol")
        .agg(
            F.count("*").alias("n_evals"),
            F.sum((F.col("px") > F.col("upper")).cast("bigint")).alias(
                "breakouts_up"
            ),
            F.sum((F.col("px") < F.col("lower")).cast("bigint")).alias(
                "breakouts_down"
            ),
            F.max(
                F.floor(
                    (F.col("upper") - F.col("lower"))
                    * 1000000.0
                    / F.col("lower")
                ).cast("bigint")
            ).alias("max_width_ppm"),
        )
        .orderBy("symbol")
    )


register(
    "prices_donchian",
    q_prices_donchian,
    f"""
    WITH {PRICES_CTE_SQL.strip().rstrip(',')},
    chan AS (
      SELECT symbol, current_price AS px,
             MAX(current_price) OVER w AS upper,
             MIN(current_price) OVER w AS lower,
             COUNT(current_price) OVER w AS nw
      FROM prices WHERE current_price > 0
      WINDOW w AS (PARTITION BY symbol ORDER BY timestamp ASC, event_id ASC
                   ROWS BETWEEN {_DONCHIAN_N} PRECEDING AND 1 PRECEDING)
    )
    SELECT symbol, COUNT(*) AS n_evals,
           CAST(SUM(CASE WHEN px > upper THEN 1 ELSE 0 END) AS BIGINT)
             AS breakouts_up,
           CAST(SUM(CASE WHEN px < lower THEN 1 ELSE 0 END) AS BIGINT)
             AS breakouts_down,
           CAST(MAX(CAST(floor((upper - lower) * 1000000.0 / lower)
                         AS BIGINT)) AS BIGINT) AS max_width_ppm
    FROM chan WHERE nw = {_DONCHIAN_N}
    GROUP BY symbol ORDER BY symbol
    """,
)


# ---- volume profile (volume-at-price histogram) --------------------------------
# The market-profile view: each symbol's price range split into 10
# equal bands, positive-volume ticks binned by price, volume summed
# in exact integer cents per band — where did the volume trade?  The
# per-symbol min/max are order-free comparisons broadcast back; the
# band index is one shared floor expression (top-of-range ticks clamp
# into band 9); a degenerate flat range collapses to band 0.
_VP_BANDS = 10


def q_prices_volume_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    prices = prices_from_events(spark, sf_dir).filter(
        (F.col("current_price") > 0) & (F.col("total_volume") > 0)
    )
    rng = prices.groupBy("symbol").agg(
        F.min("current_price").alias("lo"), F.max("current_price").alias("hi")
    )
    band = F.expr(
        f"CASE WHEN hi = lo THEN CAST(0 AS BIGINT)"
        f" ELSE least(CAST({_VP_BANDS - 1} AS BIGINT),"
        f" CAST(floor((current_price - lo) * {_VP_BANDS}.0 / (hi - lo))"
        f" AS BIGINT)) END"
    )
    return (
        prices.join(F.broadcast(rng), "symbol")
        .select(
            "symbol",
            band.alias("band"),
            F.round(F.col("total_volume") * 100).cast("bigint").alias("__vc"),
        )
        .groupBy("symbol", "band")
        .agg(
            F.count("*").alias("n_ticks"),
            F.sum("__vc").cast("bigint").alias("volume_cents"),
        )
        .orderBy("symbol", "band")
    )


register(
    "prices_volume_profile",
    q_prices_volume_profile,
    f"""
    WITH {PRICES_CTE_SQL.strip().rstrip(',')},
    pos AS (
      SELECT * FROM prices WHERE current_price > 0 AND total_volume > 0
    ),
    rng AS (
      SELECT symbol, MIN(current_price) AS lo, MAX(current_price) AS hi
      FROM pos GROUP BY symbol
    )
    SELECT p.symbol,
           CASE WHEN r.hi = r.lo THEN CAST(0 AS BIGINT)
                ELSE LEAST(CAST({_VP_BANDS - 1} AS BIGINT),
                           CAST(floor((p.current_price - r.lo) * {_VP_BANDS}.0
                                      / (r.hi - r.lo)) AS BIGINT)) END AS band,
           COUNT(*) AS n_ticks,
           CAST(SUM(CAST(round(p.total_volume * 100) AS BIGINT)) AS BIGINT)
             AS volume_cents
    FROM pos p JOIN rng r USING (symbol)
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)


# ---- historical Value-at-Risk -------------------------------------------------
# Per-symbol 95% historical VaR: the 5th-percentile tick-to-tick
# return as an EXACT order statistic (k-th smallest with k =
# max(1, floor(n/20)), row_number-selected with a deterministic
# tiebreak) — no interpolation, no float quantile estimator, so the
# figure is engine-exact.  Returns quantize per tick to integer ppm
# (one shared floor expression); one shuffle on the symbol key.


def q_prices_var_historical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    prices = prices_from_events(spark, sf_dir).filter(F.col("current_price") > 0)
    w = Window.partitionBy("symbol").orderBy(
        F.col("timestamp").asc(), F.col("event_id").asc()
    )
    prev = F.lag("current_price").over(w)
    rets = prices.select(
        "symbol",
        "event_id",
        F.floor(
            (F.col("current_price") - prev) * 1000000.0 / prev
        ).cast("bigint").alias("ret_ppm"),
    ).filter(F.col("ret_ppm").isNotNull())
    wr = Window.partitionBy("symbol").orderBy(
        F.col("ret_ppm").asc(), F.col("event_id").asc()
    )
    ranked = rets.withColumn("__rn", F.row_number().over(wr))
    counts = rets.groupBy("symbol").agg(F.count("*").alias("n_returns"))
    return (
        ranked.join(F.broadcast(counts), "symbol")
        .filter(
            F.col("__rn")
            == F.greatest(F.lit(1).cast("bigint"), F.expr("n_returns div 20"))
        )
        .select(
            "symbol",
            F.col("n_returns").cast("bigint").alias("n_returns"),
            F.col("ret_ppm").alias("var95_ppm"),
        )
        .orderBy("symbol")
    )


register(
    "prices_var_historical",
    q_prices_var_historical,
    f"""
    WITH {PRICES_CTE_SQL.strip().rstrip(',')},
    rets AS (
      SELECT symbol, event_id,
             CAST(floor((current_price - prev) * 1000000.0 / prev) AS BIGINT)
               AS ret_ppm
      FROM (
        SELECT symbol, event_id, current_price,
               lag(current_price) OVER (
                 PARTITION BY symbol ORDER BY timestamp ASC, event_id ASC
               ) AS prev
        FROM prices WHERE current_price > 0
      ) WHERE prev IS NOT NULL
    ),
    ranked AS (
      SELECT symbol, ret_ppm,
             row_number() OVER (PARTITION BY symbol
                                ORDER BY ret_ppm ASC, event_id ASC) AS rn,
             COUNT(*) OVER (PARTITION BY symbol) AS n_returns
      FROM rets
    )
    SELECT symbol, CAST(n_returns AS BIGINT) AS n_returns,
           ret_ppm AS var95_ppm
    FROM ranked
    WHERE rn = GREATEST(1, n_returns // 20)
    ORDER BY symbol
    """,
)


def q_prices_garch_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GARCH(1,1) conditional volatility per symbol
    (operators/indicators.py::garch_vol) — the volatility-clustering
    model a risk desk runs beside the historical-VaR tail estimate;
    the fifth certified arbitrary-length integer recursion."""
    from crypto_price_tracker_with_etl_dashboard_spark.operators.indicators import (
        garch_vol,
    )

    prices = prices_from_events(spark, sf_dir)
    return garch_vol(
        prices, key="symbol", order_by=["timestamp", "event_id"],
        price="current_price",
    )


def _garch_sql() -> str:
    from crypto_price_tracker_with_etl_dashboard_spark.operators.indicators import (
        sql_garch_vol,
    )

    return sql_garch_vol(
        "prices", key="symbol", order_by=["timestamp", "event_id"],
        price="current_price", extra_ctes=PRICES_CTE_SQL.strip() + ',',
    )


register("prices_garch_vol", q_prices_garch_vol, _garch_sql())


# ---- Amihud illiquidity -----------------------------------------------------
# Market-microstructure staple: Amihud (2002) illiquidity = the mean
# of |return| per unit of volume — how much does a currency unit of
# flow move the price?  Per tick the ratio quantizes to an exact
# integer (|ret_ppm| scaled per 1e6 volume-cents, truncating
# division on nonnegative terms), so the per-symbol mean is an
# order-free integer fold.  One shuffle on the symbol key.


def q_prices_amihud(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    prices = prices_from_events(spark, sf_dir).filter(
        (F.col("current_price") > 0) & (F.col("total_volume") > 0)
    )
    w = Window.partitionBy("symbol").orderBy(
        F.col("timestamp").asc(), F.col("event_id").asc()
    )
    prev = F.lag("current_price").over(w)
    per_tick = prices.select(
        "symbol",
        F.floor(
            F.abs(F.col("current_price") - prev) * 1000000.0 / prev
        ).cast("bigint").alias("__aret_ppm"),
        F.round(F.col("total_volume") * 100).cast("bigint").alias("__vc"),
    ).filter(F.col("__aret_ppm").isNotNull())
    scored = per_tick.select(
        "symbol",
        F.expr("__aret_ppm * 1000000 div __vc").alias("illiq_q"),
    )
    return (
        scored.groupBy("symbol")
        .agg(
            F.count("*").cast("bigint").alias("n_ticks"),
            F.expr("sum(illiq_q) div count(*)").alias("amihud_q"),
        )
        .orderBy(F.col("amihud_q").desc(), "symbol")
    )


register(
    "prices_amihud",
    q_prices_amihud,
    f"""
    WITH {PRICES_CTE_SQL.strip().rstrip(',')},
    per_tick AS (
      SELECT symbol,
             CAST(floor(abs(current_price - prev) * 1000000.0 / prev)
                  AS BIGINT) AS aret_ppm,
             CAST(round(total_volume * 100) AS BIGINT) AS vc
      FROM (
        SELECT symbol, current_price, total_volume,
               lag(current_price) OVER (
                 PARTITION BY symbol ORDER BY timestamp ASC, event_id ASC
               ) AS prev
        FROM prices WHERE current_price > 0 AND total_volume > 0
      ) WHERE prev IS NOT NULL
    ),
    scored AS (
      SELECT symbol, aret_ppm * 1000000 // vc AS illiq_q FROM per_tick
    )
    SELECT symbol, COUNT(*) AS n_ticks,
           CAST(SUM(illiq_q) AS BIGINT) // COUNT(*) AS amihud_q
    FROM scored GROUP BY symbol
    ORDER BY amihud_q DESC, symbol
    """,
)


# ---- CAPM beta vs the equal-weight market -----------------------------------
# Systematic-risk decomposition: regress each symbol's 5-minute
# return on the equal-weight market return.  Per-bucket returns
# quantize to integer ppm (floored, winsorized +-100% like GARCH);
# the market return per bucket is the floored integer mean; beta is
# the OLS slope from five exact BIGINT sufficient statistics and ONE
# shared double expression (the lineitem_quantity_model discipline).
_BETA_EXPR = (
    "(CAST(n AS DOUBLE) * CAST(Sxy AS DOUBLE)"
    " - CAST(Sx AS DOUBLE) * CAST(Sy AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(Syy AS DOUBLE)"
    "    - CAST(Sy AS DOUBLE) * CAST(Sy AS DOUBLE))"
)


def q_prices_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    prices = prices_from_events(spark, sf_dir).filter(F.col("current_price") > 0)
    w = Window.partitionBy("symbol", F.to_date("timestamp")).orderBy(
        F.col("timestamp").desc(), F.col("event_id").desc()
    )
    daily = (
        prices.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "symbol",
            F.to_date("timestamp").alias("day"),
            F.col("current_price").alias("close"),
        )
    )
    wd = Window.partitionBy("symbol").orderBy("day")
    rets = (
        daily.withColumn("__prev", F.lag("close").over(wd))
        .filter(F.col("__prev").isNotNull())
        .select(
            "symbol", "day",
            F.greatest(
                F.lit(-1000000).cast("bigint"),
                F.least(
                    F.lit(1000000).cast("bigint"),
                    F.floor(
                        (F.col("close") - F.col("__prev"))
                        * 1000000.0
                        / F.col("__prev")
                    ).cast("bigint"),
                ),
            ).alias("x"),
        )
    )
    market = rets.groupBy("day").agg(
        F.floor(F.sum("x").cast("double") / F.count("*"))
        .cast("bigint")
        .alias("y")
    )
    joined = rets.join(F.broadcast(market), "day")
    stats = joined.groupBy("symbol").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("Sx"),
        F.sum("y").cast("bigint").alias("Sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("Sxy"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("Syy"),
    )
    return (
        stats.filter(F.col("n") >= 10)
        .select("symbol", "n", F.expr(_BETA_EXPR).alias("beta"))
        .orderBy("symbol")
    )


register(
    "prices_beta",
    q_prices_beta,
    f"""
    WITH {PRICES_CTE_SQL.strip().rstrip(',')},
    daily AS (
      SELECT symbol, CAST(timestamp AS DATE) AS day, current_price AS close
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY symbol, CAST(timestamp AS DATE)
          ORDER BY timestamp DESC, event_id DESC
        ) AS rn
        FROM prices WHERE current_price > 0
      ) WHERE rn = 1
    ),
    rets AS (
      SELECT symbol, day,
             GREATEST(CAST(-1000000 AS BIGINT), LEAST(CAST(1000000 AS BIGINT),
               CAST(floor((close - prev) * 1000000.0 / prev) AS BIGINT))) AS x
      FROM (
        SELECT symbol, day, close,
               lag(close) OVER (PARTITION BY symbol ORDER BY day) AS prev
        FROM daily
      ) WHERE prev IS NOT NULL
    ),
    market AS (
      SELECT day,
             CAST(floor(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS y
      FROM rets GROUP BY day
    ),
    stats AS (
      SELECT r.symbol,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(r.x) AS BIGINT) AS Sx,
             CAST(SUM(m.y) AS BIGINT) AS Sy,
             CAST(SUM(r.x * m.y) AS BIGINT) AS Sxy,
             CAST(SUM(m.y * m.y) AS BIGINT) AS Syy
      FROM rets r JOIN market m USING (day)
      GROUP BY r.symbol
    )
    SELECT symbol, n, {_BETA_EXPR} AS beta
    FROM stats WHERE n >= 10
    ORDER BY symbol
    """,
)


# ---- pairs-trading spread monitor ----------------------------------------------
# Statistical-arbitrage observability for a FIXED candidate pair: the
# daily spread between the two symbols' cumulative ppm returns, its
# exact integer mean, and the CURRENT day's deviation from that mean
# quantized against the exact integer variance (deviation² * 1e6 vs
# variance — a z²-style signal without any float std).  The pair is
# fixed configuration (pairs selection is prices_corr_matrix's job).
_PAIR_A = "c1"
_PAIR_B = "c2"


def q_prices_pair_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    prices = prices_from_events(spark, sf_dir).filter(
        (F.col("current_price") > 0)
        & F.col("symbol").isin(_PAIR_A, _PAIR_B)
    )
    w = Window.partitionBy("symbol", F.to_date("timestamp")).orderBy(
        F.col("timestamp").desc(), F.col("event_id").desc()
    )
    daily = (
        prices.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "symbol",
            F.to_date("timestamp").alias("day"),
            F.col("current_price").alias("close"),
        )
    )
    a = daily.filter(F.col("symbol") == _PAIR_A).select(
        "day", F.col("close").alias("ca")
    )
    b = daily.filter(F.col("symbol") == _PAIR_B).select(
        "day", F.col("close").alias("cb")
    )
    # spread: ppm log-free ratio gap — floor(ca*1e6/cb), CLAMPED to
    # [0, 1e7] (10x) so every sufficient statistic and the integer
    # cross-multiplied 2-sigma compare stay inside BIGINT
    spread = a.join(b, "day").select(
        "day",
        F.least(
            F.lit(10_000_000).cast("bigint"),
            F.floor(F.col("ca") * 1000000.0 / F.col("cb")).cast("bigint"),
        ).alias("ratio_ppm"),
    )
    stats = spread.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("ratio_ppm").cast("bigint").alias("S"),
        F.sum(F.col("ratio_ppm") * F.col("ratio_ppm")).cast("bigint").alias("SS"),
        F.max("day").alias("last_day"),
    )
    last = spread.join(
        F.broadcast(stats.select(F.col("last_day").alias("day"))), "day"
    ).select(F.col("ratio_ppm").alias("last_ratio_ppm"))
    return (
        stats.crossJoin(F.broadcast(last))
        .select(
            "n",
            F.expr("S div n").alias("mean_ratio_ppm"),
            "last_ratio_ppm",
            # dev² * n² vs (n*SS - S²): z² >= k  <=>  dev²*n² >= k*(n*SS-S²)/n...
            # emit the exact ingredients + a 2-sigma flag via integer
            # cross-multiplication (no float std)
            F.expr(
                "(last_ratio_ppm * n - S) * (last_ratio_ppm * n - S)"
                " >= 4 * (n * SS - S * S)"
            ).alias("two_sigma_flag"),
        )
        .select(
            "n", "mean_ratio_ppm", "last_ratio_ppm", "two_sigma_flag",
        )
    )


register(
    "prices_pair_spread",
    q_prices_pair_spread,
    f"""
    WITH {PRICES_CTE_SQL.strip().rstrip(',')},
    daily AS (
      SELECT symbol, CAST(timestamp AS DATE) AS day, current_price AS close
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY symbol, CAST(timestamp AS DATE)
          ORDER BY timestamp DESC, event_id DESC
        ) AS rn
        FROM prices
        WHERE current_price > 0 AND symbol IN ('{_PAIR_A}', '{_PAIR_B}')
      ) WHERE rn = 1
    ),
    spread AS (
      SELECT a.day,
             LEAST(CAST(10000000 AS BIGINT),
                   CAST(floor(a.close * 1000000.0 / b.close) AS BIGINT))
               AS ratio_ppm
      FROM (SELECT day, close FROM daily WHERE symbol = '{_PAIR_A}') a
      JOIN (SELECT day, close FROM daily WHERE symbol = '{_PAIR_B}') b
        USING (day)
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(ratio_ppm) AS BIGINT) AS S,
             CAST(SUM(ratio_ppm * ratio_ppm) AS BIGINT) AS SS,
             MAX(day) AS last_day
      FROM spread
    ),
    last AS (
      SELECT sp.ratio_ppm AS last_ratio_ppm
      FROM spread sp JOIN stats st ON sp.day = st.last_day
    )
    SELECT n, S // n AS mean_ratio_ppm, last_ratio_ppm,
           (last_ratio_ppm * n - S) * (last_ratio_ppm * n - S)
             >= 4 * (n * SS - S * S) AS two_sigma_flag
    FROM stats CROSS JOIN last
    """,
)


# ---- weekday (calendar-anomaly) effect ------------------------------------------
# The day-of-week return anomaly check: mean daily ppm return per
# weekday across all symbols (exact integer sums, floored mean) with
# the day's observation count — the classic "Monday effect" screen.
# Daily returns reuse the backtest/beta machinery (winsorized ppm).


def q_prices_weekday_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    prices = prices_from_events(spark, sf_dir).filter(F.col("current_price") > 0)
    w = Window.partitionBy("symbol", F.to_date("timestamp")).orderBy(
        F.col("timestamp").desc(), F.col("event_id").desc()
    )
    daily = (
        prices.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "symbol",
            F.to_date("timestamp").alias("day"),
            F.col("current_price").alias("close"),
        )
    )
    wd = Window.partitionBy("symbol").orderBy("day")
    rets = (
        daily.withColumn("__prev", F.lag("close").over(wd))
        .filter(F.col("__prev").isNotNull())
        .select(
            "day",
            F.greatest(
                F.lit(-1000000).cast("bigint"),
                F.least(
                    F.lit(1000000).cast("bigint"),
                    F.floor(
                        (F.col("close") - F.col("__prev"))
                        * 1000000.0
                        / F.col("__prev")
                    ).cast("bigint"),
                ),
            ).alias("r"),
        )
    )
    return (
        rets.groupBy(F.dayofweek("day").alias("weekday"))
        .agg(
            F.count("*").cast("bigint").alias("n_obs"),
            F.floor(F.sum("r").cast("double") / F.count("*"))
            .cast("bigint")
            .alias("mean_ret_ppm"),
        )
        .orderBy("weekday")
    )


register(
    "prices_weekday_effect",
    q_prices_weekday_effect,
    f"""
    WITH {PRICES_CTE_SQL.strip().rstrip(',')},
    daily AS (
      SELECT symbol, CAST(timestamp AS DATE) AS day, current_price AS close
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY symbol, CAST(timestamp AS DATE)
          ORDER BY timestamp DESC, event_id DESC
        ) AS rn
        FROM prices WHERE current_price > 0
      ) WHERE rn = 1
    ),
    rets AS (
      SELECT day,
             GREATEST(CAST(-1000000 AS BIGINT), LEAST(CAST(1000000 AS BIGINT),
               CAST(floor((close - prev) * 1000000.0 / prev) AS BIGINT))) AS r
      FROM (
        SELECT symbol, day, close,
               lag(close) OVER (PARTITION BY symbol ORDER BY day) AS prev
        FROM daily
      ) WHERE prev IS NOT NULL
    )
    SELECT CAST(dayofweek(day) + 1 AS INT) AS weekday,
           COUNT(*) AS n_obs,
           CAST(floor(CAST(SUM(r) AS DOUBLE) / COUNT(*)) AS BIGINT)
             AS mean_ret_ppm
    FROM rets GROUP BY 1 ORDER BY 1
    """,
)


# ---- Lo-MacKinlay variance ratio --------------------------------------------
# The market-efficiency screen: VR(q) = Var(q-day return) / (q *
# Var(1-day return)), ~1 for a random walk, <1 mean-reverting, >1
# trending.  q-day returns are NON-OVERLAPPING sums of the winsorized
# daily ppm returns (incomplete tail blocks dropped), so every sum is
# exact integer arithmetic; the single ratio is one double expression
# with identical IEEE structure in both engines (multiplication and
# division are correctly-rounded, engine-portable ops — unlike ln,
# which the repo's fixed-point discipline avoids).  Plan: one shuffle
# to daily closes, window lag per symbol, two hash aggs per q; output
# |symbols| x |qs| rows.  The int64 headroom note: n*SS and S*S stay
# under 2^63 through ~3e3 daily observations per symbol.

_VR_QS = (2, 5)
_VR_MIN_DAYS = 20  # testdata caps at ~30 trading days per symbol

_VR_EXPR = (
    "CAST(nq * SSq - Sq * Sq AS DOUBLE) * CAST(n1 AS DOUBLE)"
    " * CAST(n1 AS DOUBLE)"
    " / (CAST(q AS DOUBLE) * CAST(n1 * SS1 - S1 * S1 AS DOUBLE)"
    " * CAST(nq AS DOUBLE) * CAST(nq AS DOUBLE))"
)


def q_prices_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    prices = prices_from_events(spark, sf_dir).filter(F.col("current_price") > 0)
    w = Window.partitionBy("symbol", F.to_date("timestamp")).orderBy(
        F.col("timestamp").desc(), F.col("event_id").desc()
    )
    daily = (
        prices.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "symbol",
            F.to_date("timestamp").alias("day"),
            F.col("current_price").alias("close"),
        )
    )
    wd = Window.partitionBy("symbol").orderBy("day")
    rets = (
        daily.withColumn("__prev", F.lag("close").over(wd))
        .filter(F.col("__prev").isNotNull())
        .select(
            "symbol",
            "day",
            F.greatest(
                F.lit(-1000000).cast("bigint"),
                F.least(
                    F.lit(1000000).cast("bigint"),
                    F.floor(
                        (F.col("close") - F.col("__prev"))
                        * 1000000.0
                        / F.col("__prev")
                    ).cast("bigint"),
                ),
            ).alias("r"),
        )
        .withColumn(
            "rn", F.row_number().over(Window.partitionBy("symbol").orderBy("day"))
        )
    )
    base = (
        rets.groupBy("symbol")
        .agg(
            F.count("*").cast("bigint").alias("n1"),
            F.sum("r").cast("bigint").alias("S1"),
            F.sum(F.col("r") * F.col("r")).cast("bigint").alias("SS1"),
        )
        .filter(F.col("n1") >= _VR_MIN_DAYS)
        .filter(F.expr("n1 * SS1 - S1 * S1 > 0"))
    )
    parts = []
    for q in _VR_QS:
        parts.append(
            rets.withColumn("blk", F.expr(f"(rn - 1) div {q}"))
            .groupBy("symbol", "blk")
            .agg(
                F.count("*").alias("m"),
                F.sum("r").cast("bigint").alias("rq"),
            )
            .filter(F.col("m") == q)
            .groupBy("symbol")
            .agg(
                F.count("*").cast("bigint").alias("nq"),
                F.sum("rq").cast("bigint").alias("Sq"),
                F.sum(F.col("rq") * F.col("rq")).cast("bigint").alias("SSq"),
            )
            .withColumn("q", F.lit(q).cast("bigint"))
        )
    qstats = parts[0]
    for p in parts[1:]:
        qstats = qstats.unionByName(p)
    return (
        base.join(qstats, "symbol")
        .filter(F.col("nq") >= 2)
        .select("symbol", "q", "n1", "nq", F.expr(_VR_EXPR).alias("vr"))
        .orderBy("symbol", "q")
    )


def _vr_sql() -> str:
    per_q = []
    for q in _VR_QS:
        per_q.append(f"""
      SELECT symbol, CAST({q} AS BIGINT) AS q,
             CAST(COUNT(*) AS BIGINT) AS nq,
             CAST(SUM(rq) AS BIGINT) AS Sq,
             CAST(SUM(rq * rq) AS BIGINT) AS SSq
      FROM (
        SELECT symbol, (rn - 1) // {q} AS blk,
               COUNT(*) AS m, CAST(SUM(r) AS BIGINT) AS rq
        FROM rets GROUP BY 1, 2
      ) WHERE m = {q} GROUP BY 1""")
    union = "\n      UNION ALL\n".join(per_q)
    return f"""
    WITH {PRICES_CTE_SQL.strip().rstrip(',')},
    daily AS (
      SELECT symbol, CAST(timestamp AS DATE) AS day, current_price AS close
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY symbol, CAST(timestamp AS DATE)
          ORDER BY timestamp DESC, event_id DESC
        ) AS rn
        FROM prices WHERE current_price > 0
      ) WHERE rn = 1
    ),
    rets AS (
      SELECT symbol, day,
             GREATEST(CAST(-1000000 AS BIGINT), LEAST(CAST(1000000 AS BIGINT),
               CAST(floor((close - prev) * 1000000.0 / prev) AS BIGINT))) AS r,
             row_number() OVER (PARTITION BY symbol ORDER BY day) AS rn
      FROM (
        SELECT symbol, day, close,
               lag(close) OVER (PARTITION BY symbol ORDER BY day) AS prev
        FROM daily
      ) WHERE prev IS NOT NULL
    ),
    base AS (
      SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n1,
             CAST(SUM(r) AS BIGINT) AS S1,
             CAST(SUM(r * r) AS BIGINT) AS SS1
      FROM rets GROUP BY 1
      HAVING COUNT(*) >= {_VR_MIN_DAYS}
         AND CAST(COUNT(*) AS BIGINT) * CAST(SUM(r * r) AS BIGINT)
             - CAST(SUM(r) AS BIGINT) * CAST(SUM(r) AS BIGINT) > 0
    ),
    qstats AS ({union}
    )
    SELECT symbol, q, n1, nq, {_VR_EXPR} AS vr
    FROM base JOIN qstats USING (symbol)
    WHERE nq >= 2
    ORDER BY symbol, q
    """


register("prices_variance_ratio", q_prices_variance_ratio, _vr_sql())


# ---- drawdown (underwater) spells ---------------------------------------------
# prices_max_drawdown reports DEPTH; this reports DURATION: per
# symbol, the consecutive-day runs where the close sits below its
# running maximum — spell count, longest spell, total days underwater
# — the gaps-and-islands read on the running-max comparison (island
# id = global row_number minus underwater row_number).  Exact integer
# day counts; the only float op is the close-vs-runmax comparison of
# two untouched input doubles.  One shuffle to daily closes; windows
# all share the per-symbol partitioning.  Symbols never underwater
# (monotone series) have no spell rows and are omitted, like any
# empty-group aggregate.


def q_prices_underwater_spells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    prices = prices_from_events(spark, sf_dir).filter(F.col("current_price") > 0)
    w = Window.partitionBy("symbol", F.to_date("timestamp")).orderBy(
        F.col("timestamp").desc(), F.col("event_id").desc()
    )
    daily = (
        prices.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "symbol",
            F.to_date("timestamp").alias("day"),
            F.col("current_price").alias("close"),
        )
    )
    ws = Window.partitionBy("symbol").orderBy("day")
    flagged = daily.select(
        "symbol",
        "day",
        (
            F.col("close")
            < F.max("close").over(
                ws.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
        ).alias("uw"),
        F.row_number().over(ws).alias("rn"),
    )
    islands = flagged.filter("uw").withColumn(
        "grp", F.col("rn") - F.row_number().over(ws)
    )
    spells = islands.groupBy("symbol", "grp").agg(
        F.count("*").cast("bigint").alias("len")
    )
    return (
        spells.groupBy("symbol")
        .agg(
            F.count("*").cast("bigint").alias("n_spells"),
            F.max("len").alias("max_spell_days"),
            F.sum("len").cast("bigint").alias("underwater_days"),
        )
        .orderBy("symbol")
    )


register(
    "prices_underwater_spells",
    q_prices_underwater_spells,
    f"""
    WITH {PRICES_CTE_SQL.strip().rstrip(',')},
    daily AS (
      SELECT symbol, CAST(timestamp AS DATE) AS day, current_price AS close
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY symbol, CAST(timestamp AS DATE)
          ORDER BY timestamp DESC, event_id DESC
        ) AS rn
        FROM prices WHERE current_price > 0
      ) WHERE rn = 1
    ),
    flagged AS (
      SELECT symbol, day,
             close < MAX(close) OVER (
               PARTITION BY symbol ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS uw,
             row_number() OVER (PARTITION BY symbol ORDER BY day) AS rn
      FROM daily
    ),
    islands AS (
      SELECT symbol,
             rn - row_number() OVER (PARTITION BY symbol ORDER BY day) AS grp
      FROM (SELECT * FROM flagged WHERE uw)
    ),
    spells AS (
      SELECT symbol, grp, CAST(COUNT(*) AS BIGINT) AS len
      FROM islands GROUP BY 1, 2
    )
    SELECT symbol,
           CAST(COUNT(*) AS BIGINT) AS n_spells,
           MAX(len) AS max_spell_days,
           CAST(SUM(len) AS BIGINT) AS underwater_days
    FROM spells GROUP BY 1 ORDER BY 1
    """,
)


# ---- cross-sectional momentum quintiles -----------------------------------------
# The factor-investing read: rank symbols by their TRAILING return up
# to a split date (last day minus 7), bucket into quintiles, and
# report each quintile's mean FORWARD return — does past winnership
# predict the next week?  The cross-section is |symbols| rows (never
# |ticks|), so the single ntile window is bounded by the universe
# size, not the data; everything upstream is the shared daily-close
# shuffle.  Returns are winsorized ppm ints; quintile assignment is
# ntile(5) with a full deterministic ordering (ret desc, symbol).

_MOM_QUANTILES = 5
_MOM_FWD_DAYS = 7


def q_prices_momentum_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    prices = prices_from_events(spark, sf_dir).filter(F.col("current_price") > 0)
    w = Window.partitionBy("symbol", F.to_date("timestamp")).orderBy(
        F.col("timestamp").desc(), F.col("event_id").desc()
    )
    daily = (
        prices.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "symbol",
            F.to_date("timestamp").alias("day"),
            F.col("current_price").alias("close"),
        )
    )
    split = daily.agg(
        F.date_sub(F.max("day"), _MOM_FWD_DAYS).alias("split_day")
    )
    d = daily.crossJoin(F.broadcast(split))
    trail = (
        d.filter(F.col("day") <= F.col("split_day"))
        .groupBy("symbol")
        .agg(
            F.min_by("close", "day").alias("first_close"),
            F.max_by("close", "day").alias("split_close"),
        )
        .filter(F.col("first_close") != F.col("split_close"))
    )
    fwd = (
        d.filter(F.col("day") > F.col("split_day"))
        .groupBy("symbol")
        .agg(F.max_by("close", "day").alias("last_close"))
    )
    rets = trail.join(fwd, "symbol").select(
        "symbol",
        F.greatest(
            F.lit(-1000000).cast("bigint"),
            F.least(
                F.lit(1000000).cast("bigint"),
                F.floor(
                    (F.col("split_close") - F.col("first_close"))
                    * 1000000.0
                    / F.col("first_close")
                ).cast("bigint"),
            ),
        ).alias("trail_ppm"),
        F.greatest(
            F.lit(-1000000).cast("bigint"),
            F.least(
                F.lit(1000000).cast("bigint"),
                F.floor(
                    (F.col("last_close") - F.col("split_close"))
                    * 1000000.0
                    / F.col("split_close")
                ).cast("bigint"),
            ),
        ).alias("fwd_ppm"),
    )
    wq = Window.orderBy(F.col("trail_ppm").desc(), F.col("symbol").asc())
    return (
        rets.withColumn("quintile", F.ntile(_MOM_QUANTILES).over(wq).cast("bigint"))
        .groupBy("quintile")
        .agg(
            F.count("*").cast("bigint").alias("n_symbols"),
            F.floor(F.sum("fwd_ppm").cast("double") / F.count("*"))
            .cast("bigint")
            .alias("mean_fwd_ppm"),
        )
        .orderBy("quintile")
    )


register(
    "prices_momentum_deciles",
    q_prices_momentum_deciles,
    f"""
    WITH {PRICES_CTE_SQL.strip().rstrip(',')},
    daily AS (
      SELECT symbol, CAST(timestamp AS DATE) AS day, current_price AS close
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY symbol, CAST(timestamp AS DATE)
          ORDER BY timestamp DESC, event_id DESC
        ) AS rn
        FROM prices WHERE current_price > 0
      ) WHERE rn = 1
    ),
    split AS (SELECT MAX(day) - {_MOM_FWD_DAYS} AS split_day FROM daily),
    trail AS (
      SELECT symbol,
             arg_min(close, day) AS first_close,
             arg_max(close, day) AS split_close
      FROM daily CROSS JOIN split WHERE day <= split_day
      GROUP BY 1 HAVING arg_min(close, day) <> arg_max(close, day)
    ),
    fwd AS (
      SELECT symbol, arg_max(close, day) AS last_close
      FROM daily CROSS JOIN split WHERE day > split_day
      GROUP BY 1
    ),
    rets AS (
      SELECT symbol,
             GREATEST(CAST(-1000000 AS BIGINT), LEAST(CAST(1000000 AS BIGINT),
               CAST(floor((split_close - first_close) * 1000000.0
                          / first_close) AS BIGINT))) AS trail_ppm,
             GREATEST(CAST(-1000000 AS BIGINT), LEAST(CAST(1000000 AS BIGINT),
               CAST(floor((last_close - split_close) * 1000000.0
                          / split_close) AS BIGINT))) AS fwd_ppm
      FROM trail JOIN fwd USING (symbol)
    )
    SELECT quintile, CAST(COUNT(*) AS BIGINT) AS n_symbols,
           CAST(floor(CAST(SUM(fwd_ppm) AS DOUBLE) / COUNT(*)) AS BIGINT)
             AS mean_fwd_ppm
    FROM (
      SELECT fwd_ppm,
             CAST(ntile({_MOM_QUANTILES}) OVER (
               ORDER BY trail_ppm DESC, symbol ASC) AS BIGINT) AS quintile
      FROM rets
    ) GROUP BY 1 ORDER BY 1
    """,
)


# ---- Kelly criterion position sizing --------------------------------------------
# The bet-sizing read on top of the return stats: f* = mu / sigma^2
# over the winsorized daily ppm returns — how much of the bankroll a
# log-wealth maximizer would allocate per symbol.  With S = sum(r),
# SS = sum(r^2) in exact integers, f* = S * n * 1e6 / (n*SS - S^2)
# (the ppm scalings cancel to one factor), evaluated as a single
# engine-portable double expression and clipped to +/-10x leverage.

_KELLY_MIN_DAYS = 20
_KELLY_CLIP_PPM = 10_000_000  # |f*| <= 10x bankroll


def q_prices_kelly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    prices = prices_from_events(spark, sf_dir).filter(F.col("current_price") > 0)
    w = Window.partitionBy("symbol", F.to_date("timestamp")).orderBy(
        F.col("timestamp").desc(), F.col("event_id").desc()
    )
    daily = (
        prices.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "symbol",
            F.to_date("timestamp").alias("day"),
            F.col("current_price").alias("close"),
        )
    )
    wd = Window.partitionBy("symbol").orderBy("day")
    rets = (
        daily.withColumn("__prev", F.lag("close").over(wd))
        .filter(F.col("__prev").isNotNull())
        .select(
            "symbol",
            F.greatest(
                F.lit(-1000000).cast("bigint"),
                F.least(
                    F.lit(1000000).cast("bigint"),
                    F.floor(
                        (F.col("close") - F.col("__prev"))
                        * 1000000.0
                        / F.col("__prev")
                    ).cast("bigint"),
                ),
            ).alias("r"),
        )
    )
    return (
        rets.groupBy("symbol")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("r").cast("bigint").alias("S"),
            F.sum(F.col("r") * F.col("r")).cast("bigint").alias("SS"),
        )
        .filter(F.col("n") >= _KELLY_MIN_DAYS)
        .filter(F.expr("n * SS - S * S > 0"))
        .select(
            "symbol",
            "n",
            F.floor(F.col("S").cast("double") / F.col("n"))
            .cast("bigint")
            .alias("mean_ret_ppm"),
            F.greatest(
                F.lit(-_KELLY_CLIP_PPM).cast("bigint"),
                F.least(
                    F.lit(_KELLY_CLIP_PPM).cast("bigint"),
                    F.expr(
                        "CAST(floor(CAST(S AS DOUBLE) * CAST(n AS DOUBLE)"
                        " * 1000000.0 / CAST(n * SS - S * S AS DOUBLE))"
                        " AS BIGINT)"
                    ),
                ),
            ).alias("kelly_ppm"),
        )
        .orderBy("symbol")
    )


register(
    "prices_kelly",
    q_prices_kelly,
    f"""
    WITH {PRICES_CTE_SQL.strip().rstrip(',')},
    daily AS (
      SELECT symbol, CAST(timestamp AS DATE) AS day, current_price AS close
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY symbol, CAST(timestamp AS DATE)
          ORDER BY timestamp DESC, event_id DESC
        ) AS rn
        FROM prices WHERE current_price > 0
      ) WHERE rn = 1
    ),
    rets AS (
      SELECT symbol,
             GREATEST(CAST(-1000000 AS BIGINT), LEAST(CAST(1000000 AS BIGINT),
               CAST(floor((close - prev) * 1000000.0 / prev) AS BIGINT))) AS r
      FROM (
        SELECT symbol, close,
               lag(close) OVER (PARTITION BY symbol ORDER BY day) AS prev
        FROM daily
      ) WHERE prev IS NOT NULL
    ),
    stats AS (
      SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(r) AS BIGINT) AS S,
             CAST(SUM(r * r) AS BIGINT) AS SS
      FROM rets GROUP BY 1
      HAVING COUNT(*) >= {_KELLY_MIN_DAYS}
         AND CAST(COUNT(*) AS BIGINT) * CAST(SUM(r * r) AS BIGINT)
             - CAST(SUM(r) AS BIGINT) * CAST(SUM(r) AS BIGINT) > 0
    )
    SELECT symbol, n,
           CAST(floor(CAST(S AS DOUBLE) / n) AS BIGINT) AS mean_ret_ppm,
           GREATEST(CAST(-{_KELLY_CLIP_PPM} AS BIGINT),
                    LEAST(CAST({_KELLY_CLIP_PPM} AS BIGINT),
             CAST(floor(CAST(S AS DOUBLE) * CAST(n AS DOUBLE) * 1000000.0
                        / CAST(n * SS - S * S AS DOUBLE)) AS BIGINT)))
             AS kelly_ppm
    FROM stats ORDER BY symbol
    """,
)


# ---- Roll implied bid-ask spread -------------------------------------------------
# The microstructure classic: under Roll's model the effective spread
# is 2*sqrt(-Cov(dp_t, dp_{t-1})) — bid-ask bounce makes successive
# price changes negatively autocorrelated in proportion to the
# spread.  Price deltas are exact integer cents; the lag-1 serial
# covariance numerator n*S_xy - S_x*S_y is exact int64; the final
# sqrt is IEEE-correctly-rounded (engine-portable, unlike ln), so the
# milli-cent spread is bit-exact.  Symbols whose serial covariance is
# non-negative (model inapplicable) are filtered out, deterministic.

_ROLL_MIN_PAIRS = 10


def q_prices_roll_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    prices = prices_from_events(spark, sf_dir).filter(F.col("current_price") > 0)
    w = Window.partitionBy("symbol", F.to_date("timestamp")).orderBy(
        F.col("timestamp").desc(), F.col("event_id").desc()
    )
    daily = (
        prices.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "symbol",
            F.to_date("timestamp").alias("day"),
            F.expr("CAST(round(current_price * 100) AS BIGINT)").alias("cents"),
        )
    )
    wd = Window.partitionBy("symbol").orderBy("day")
    deltas = (
        daily.withColumn("__prev", F.lag("cents").over(wd))
        .filter(F.col("__prev").isNotNull())
        .select("symbol", "day", (F.col("cents") - F.col("__prev")).alias("dc"))
    )
    pairs = (
        deltas.withColumn("dc_prev", F.lag("dc").over(wd))
        .filter(F.col("dc_prev").isNotNull())
        .groupBy("symbol")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("dc").cast("bigint").alias("Sx"),
            F.sum("dc_prev").cast("bigint").alias("Sy"),
            F.sum(F.col("dc") * F.col("dc_prev")).cast("bigint").alias("Sxy"),
        )
    )
    return (
        pairs.filter(F.col("n") >= _ROLL_MIN_PAIRS)
        .withColumn("cov_num", F.expr("n * Sxy - Sx * Sy"))
        .filter(F.col("cov_num") < 0)
        .select(
            "symbol",
            "n",
            "cov_num",
            F.expr(
                "CAST(floor(2000.0 * sqrt(CAST(-cov_num AS DOUBLE))"
                " / CAST(n AS DOUBLE)) AS BIGINT)"
            ).alias("spread_millicents"),
        )
        .orderBy("symbol")
    )


register(
    "prices_roll_spread",
    q_prices_roll_spread,
    f"""
    WITH {PRICES_CTE_SQL.strip().rstrip(',')},
    daily AS (
      SELECT symbol, CAST(timestamp AS DATE) AS day,
             CAST(round(current_price * 100) AS BIGINT) AS cents
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY symbol, CAST(timestamp AS DATE)
          ORDER BY timestamp DESC, event_id DESC
        ) AS rn
        FROM prices WHERE current_price > 0
      ) WHERE rn = 1
    ),
    deltas AS (
      SELECT symbol, day, cents - prev AS dc
      FROM (
        SELECT symbol, day, cents,
               lag(cents) OVER (PARTITION BY symbol ORDER BY day) AS prev
        FROM daily
      ) WHERE prev IS NOT NULL
    ),
    pairs AS (
      SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(dc) AS BIGINT) AS Sx,
             CAST(SUM(dc_prev) AS BIGINT) AS Sy,
             CAST(SUM(dc * dc_prev) AS BIGINT) AS Sxy
      FROM (
        SELECT symbol, dc,
               lag(dc) OVER (PARTITION BY symbol ORDER BY day) AS dc_prev
        FROM deltas
      ) WHERE dc_prev IS NOT NULL
      GROUP BY 1
    )
    SELECT symbol, n, n * Sxy - Sx * Sy AS cov_num,
           CAST(floor(2000.0 * sqrt(CAST(-(n * Sxy - Sx * Sy) AS DOUBLE))
                      / CAST(n AS DOUBLE)) AS BIGINT) AS spread_millicents
    FROM pairs
    WHERE n >= {_ROLL_MIN_PAIRS} AND n * Sxy - Sx * Sy < 0
    ORDER BY symbol
    """,
)


# ---- return tail ratio --------------------------------------------------------
# Asymmetry-of-extremes risk stat: the exact 95th percentile of daily
# returns over the magnitude of the exact 5th, per symbol.  Both
# order statistics come from the count-bucket selection trick
# (returns are winsorized ppm INTEGERS, so a (symbol, r) count table
# plus a cumulative sum picks any quantile exactly — the
# supply_lead_time discipline, no percentile interpolation).  Symbols
# whose p05 is non-negative or p95 non-positive (no two-sided tail)
# are filtered, deterministic.

_TAIL_MIN_DAYS = 20


def q_prices_tail_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    prices = prices_from_events(spark, sf_dir).filter(F.col("current_price") > 0)
    w = Window.partitionBy("symbol", F.to_date("timestamp")).orderBy(
        F.col("timestamp").desc(), F.col("event_id").desc()
    )
    daily = (
        prices.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "symbol",
            F.to_date("timestamp").alias("day"),
            F.col("current_price").alias("close"),
        )
    )
    wd = Window.partitionBy("symbol").orderBy("day")
    rets = (
        daily.withColumn("__prev", F.lag("close").over(wd))
        .filter(F.col("__prev").isNotNull())
        .select(
            "symbol",
            F.greatest(
                F.lit(-1000000).cast("bigint"),
                F.least(
                    F.lit(1000000).cast("bigint"),
                    F.floor(
                        (F.col("close") - F.col("__prev"))
                        * 1000000.0
                        / F.col("__prev")
                    ).cast("bigint"),
                ),
            ).alias("r"),
        )
    )
    per_r = rets.groupBy("symbol", "r").agg(F.count("*").cast("bigint").alias("c"))
    wcum = (
        Window.partitionBy("symbol")
        .orderBy("r")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = per_r.withColumn("cum", F.sum("c").over(wcum)).withColumn(
        "n", F.sum("c").over(Window.partitionBy("symbol"))
    )
    p05 = (
        cum.filter(F.expr("cum >= (n + 19) div 20"))
        .groupBy("symbol")
        .agg(F.min("r").alias("p05_ppm"), F.max("n").alias("n"))
    )
    p95 = (
        cum.filter(F.expr("cum >= (n * 19 + 19) div 20"))
        .groupBy("symbol")
        .agg(F.min("r").alias("p95_ppm"))
    )
    return (
        p05.join(p95, "symbol")
        .filter(F.col("n") >= _TAIL_MIN_DAYS)
        .filter((F.col("p05_ppm") < 0) & (F.col("p95_ppm") > 0))
        .select(
            "symbol",
            "n",
            "p05_ppm",
            "p95_ppm",
            F.expr("p95_ppm * 1000000 div (-p05_ppm)").alias("tail_ratio_ppm"),
        )
        .orderBy("symbol")
    )


register(
    "prices_tail_ratio",
    q_prices_tail_ratio,
    f"""
    WITH {PRICES_CTE_SQL.strip().rstrip(',')},
    daily AS (
      SELECT symbol, CAST(timestamp AS DATE) AS day, current_price AS close
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY symbol, CAST(timestamp AS DATE)
          ORDER BY timestamp DESC, event_id DESC
        ) AS rn
        FROM prices WHERE current_price > 0
      ) WHERE rn = 1
    ),
    rets AS (
      SELECT symbol,
             GREATEST(CAST(-1000000 AS BIGINT), LEAST(CAST(1000000 AS BIGINT),
               CAST(floor((close - prev) * 1000000.0 / prev) AS BIGINT))) AS r
      FROM (
        SELECT symbol, close,
               lag(close) OVER (PARTITION BY symbol ORDER BY day) AS prev
        FROM daily
      ) WHERE prev IS NOT NULL
    ),
    per_r AS (
      SELECT symbol, r, CAST(COUNT(*) AS BIGINT) AS c
      FROM rets GROUP BY 1, 2
    ),
    cum AS (
      SELECT symbol, r, c,
             CAST(SUM(c) OVER (PARTITION BY symbol ORDER BY r
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum,
             CAST(SUM(c) OVER (PARTITION BY symbol) AS BIGINT) AS n
      FROM per_r
    ),
    p05 AS (
      SELECT symbol, MIN(r) AS p05_ppm, CAST(MAX(n) AS BIGINT) AS n
      FROM cum WHERE cum >= (n + 19) // 20 GROUP BY 1
    ),
    p95 AS (
      SELECT symbol, MIN(r) AS p95_ppm
      FROM cum WHERE cum >= (n * 19 + 19) // 20 GROUP BY 1
    )
    SELECT symbol, n, p05_ppm, p95_ppm,
           p95_ppm * 1000000 // (-p05_ppm) AS tail_ratio_ppm
    FROM p05 JOIN p95 USING (symbol)
    WHERE n >= {_TAIL_MIN_DAYS} AND p05_ppm < 0 AND p95_ppm > 0
    ORDER BY symbol
    """,
)


# ---- VaR exceedance (Kupiec) backtest ---------------------------------------------
# Risk governance on top of the VaR family: estimate the 5% VaR on
# the FIRST half of each symbol's return history (exact order
# statistic, count-bucket selection), count exceedances in the
# SECOND half, and flag symbols whose exceedance count falls outside
# the binomial 95% band — the Kupiec proportion-of-failures test,
# reduced to one integer cross-multiplication: with p = 1/20,
# z^2 >= 3.8416  <=>  (20x - n2)^2 * 10000 >= 729904 * n2.
# Out-of-sample by construction (the estimate never sees the test
# window).  One shuffle to daily closes; windows share the
# per-symbol partitioning.

_VAR_BT_MIN_DAYS = 20


def q_prices_var_exceedances(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    prices = prices_from_events(spark, sf_dir).filter(F.col("current_price") > 0)
    w = Window.partitionBy("symbol", F.to_date("timestamp")).orderBy(
        F.col("timestamp").desc(), F.col("event_id").desc()
    )
    daily = (
        prices.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "symbol",
            F.to_date("timestamp").alias("day"),
            F.col("current_price").alias("close"),
        )
    )
    wd = Window.partitionBy("symbol").orderBy("day")
    rets = (
        daily.withColumn("__prev", F.lag("close").over(wd))
        .filter(F.col("__prev").isNotNull())
        .select(
            "symbol",
            "day",
            F.greatest(
                F.lit(-1000000).cast("bigint"),
                F.least(
                    F.lit(1000000).cast("bigint"),
                    F.floor(
                        (F.col("close") - F.col("__prev"))
                        * 1000000.0
                        / F.col("__prev")
                    ).cast("bigint"),
                ),
            ).alias("r"),
        )
        .withColumn("rn", F.row_number().over(wd))
        .withColumn("n", F.count("*").over(Window.partitionBy("symbol")))
        .filter(F.col("n") >= _VAR_BT_MIN_DAYS)
        .drop("day")
    )
    est = rets.filter(F.expr("rn <= n div 2"))
    per_r = est.groupBy("symbol", "r").agg(F.count("*").cast("bigint").alias("c"))
    wcum = (
        Window.partitionBy("symbol")
        .orderBy("r")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = per_r.withColumn("cum", F.sum("c").over(wcum)).withColumn(
        "n1", F.sum("c").over(Window.partitionBy("symbol"))
    )
    var05 = (
        cum.filter(F.expr("cum >= (n1 + 19) div 20"))
        .groupBy("symbol")
        .agg(F.min("r").alias("var05_ppm"), F.max("n1").cast("bigint").alias("n1"))
    )
    test = (
        rets.filter(F.expr("rn > n div 2"))
        .join(var05, "symbol")
        .groupBy("symbol", "var05_ppm", "n1")
        .agg(
            F.count("*").cast("bigint").alias("n2"),
            F.sum((F.col("r") < F.col("var05_ppm")).cast("bigint")).alias("exceed"),
        )
    )
    return test.select(
        "symbol",
        "n1",
        "var05_ppm",
        "n2",
        "exceed",
        F.expr("exceed * 1000000 div n2").alias("exceed_ppm"),
        F.expr(
            "(20 * exceed - n2) * (20 * exceed - n2) * 10000 >= 729904 * n2"
        ).alias("kupiec_reject"),
    ).orderBy("symbol")


register(
    "prices_var_exceedances",
    q_prices_var_exceedances,
    f"""
    WITH {PRICES_CTE_SQL.strip().rstrip(',')},
    daily AS (
      SELECT symbol, CAST(timestamp AS DATE) AS day, current_price AS close
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY symbol, CAST(timestamp AS DATE)
          ORDER BY timestamp DESC, event_id DESC
        ) AS rn
        FROM prices WHERE current_price > 0
      ) WHERE rn = 1
    ),
    rets AS (
      SELECT symbol, r, rn, n FROM (
        SELECT symbol,
               GREATEST(CAST(-1000000 AS BIGINT), LEAST(CAST(1000000 AS BIGINT),
                 CAST(floor((close - prev) * 1000000.0 / prev) AS BIGINT))) AS r,
               row_number() OVER (PARTITION BY symbol ORDER BY day) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY symbol) AS BIGINT) AS n
        FROM (
          SELECT symbol, day, close,
                 lag(close) OVER (PARTITION BY symbol ORDER BY day) AS prev
          FROM daily
        ) WHERE prev IS NOT NULL
      ) WHERE n >= {_VAR_BT_MIN_DAYS}
    ),
    per_r AS (
      SELECT symbol, r, CAST(COUNT(*) AS BIGINT) AS c
      FROM rets WHERE rn <= n // 2 GROUP BY 1, 2
    ),
    cum AS (
      SELECT symbol, r, c,
             CAST(SUM(c) OVER (PARTITION BY symbol ORDER BY r
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum,
             CAST(SUM(c) OVER (PARTITION BY symbol) AS BIGINT) AS n1
      FROM per_r
    ),
    var05 AS (
      SELECT symbol, MIN(r) AS var05_ppm, CAST(MAX(n1) AS BIGINT) AS n1
      FROM cum WHERE cum >= (n1 + 19) // 20 GROUP BY 1
    ),
    test AS (
      SELECT rets.symbol, var05_ppm, n1,
             CAST(COUNT(*) AS BIGINT) AS n2,
             CAST(SUM(CASE WHEN r < var05_ppm THEN 1 ELSE 0 END) AS BIGINT)
               AS exceed
      FROM rets JOIN var05 ON rets.symbol = var05.symbol
      WHERE rn > n // 2
      GROUP BY 1, 2, 3
    )
    SELECT symbol, n1, var05_ppm, n2, exceed,
           exceed * 1000000 // n2 AS exceed_ppm,
           (20 * exceed - n2) * (20 * exceed - n2) * 10000 >= 729904 * n2
             AS kupiec_reject
    FROM test ORDER BY symbol
    """,
)


# ---- tick-coverage gap report --------------------------------------------------
# The data-quality read every time-series consumer runs before
# trusting an indicator: per symbol, how complete is the daily
# coverage between its first and last observation, and how long was
# the worst outage?  Missing days come from the per-symbol date span
# vs observed-day count (exact integers); the longest gap is the max
# day-over-day delta minus one — all from the same lag window the
# return queries use, so the report costs one shuffle.


def q_prices_gap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    prices = prices_from_events(spark, sf_dir)
    days = prices.select(
        "symbol", F.to_date("timestamp").alias("day")
    ).distinct()
    wd = Window.partitionBy("symbol").orderBy("day")
    gaps = days.withColumn(
        "gap", F.datediff(F.col("day"), F.lag("day").over(wd)) - 1
    )
    return (
        gaps.groupBy("symbol")
        .agg(
            F.count("*").cast("bigint").alias("observed_days"),
            (F.datediff(F.max("day"), F.min("day")) + 1)
            .cast("bigint")
            .alias("span_days"),
            F.coalesce(F.max("gap"), F.lit(0)).cast("bigint").alias("max_gap_days"),
        )
        .select(
            "symbol",
            "span_days",
            "observed_days",
            (F.col("span_days") - F.col("observed_days")).alias("missing_days"),
            F.expr("observed_days * 1000000 div span_days").alias("coverage_ppm"),
            "max_gap_days",
        )
        .orderBy("symbol")
    )


register(
    "prices_gap_report",
    q_prices_gap_report,
    f"""
    WITH {PRICES_CTE_SQL.strip().rstrip(',')},
    days AS (
      SELECT DISTINCT symbol, CAST(timestamp AS DATE) AS day FROM prices
    ),
    gaps AS (
      SELECT symbol, day,
             date_diff('day', lag(day) OVER (PARTITION BY symbol ORDER BY day),
                       day) - 1 AS gap
      FROM days
    )
    SELECT symbol,
           CAST(date_diff('day', MIN(day), MAX(day)) + 1 AS BIGINT) AS span_days,
           CAST(COUNT(*) AS BIGINT) AS observed_days,
           CAST(date_diff('day', MIN(day), MAX(day)) + 1 AS BIGINT) - COUNT(*)
             AS missing_days,
           CAST(COUNT(*) AS BIGINT) * 1000000
             // CAST(date_diff('day', MIN(day), MAX(day)) + 1 AS BIGINT)
             AS coverage_ppm,
           CAST(COALESCE(MAX(gap), 0) AS BIGINT) AS max_gap_days
    FROM gaps GROUP BY 1 ORDER BY 1
    """,
)


# ---- correlated-symbol clusters ------------------------------------------------
# The portfolio view on top of prices_corr_matrix: symbols whose
# daily returns co-move (corr >= 0.3 on the certified pairwise
# table) grouped into clusters by the certified label-propagation
# operator — "which coins trade as one block?" for diversification
# and hedging.  The correlation stage is quadratic only in the fixed
# top-40 watchlist; LPA runs 3 synchronous rounds over the
# <= C(40,2)-edge graph.  Node ids are the numeric symbol suffix
# ('c123' -> 123), mapped back for the output.

_CORR_CLUSTER_TAU = 0.3


def q_prices_corr_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_price_tracker_with_etl_dashboard_spark.operators.lpa import (
        label_propagation,
    )

    prices = prices_from_events(spark, sf_dir)
    pairs = pairwise_corr(
        prices, key="symbol", ts_col="timestamp",
        price="current_price", tiebreak="event_id",
        top_n=40, min_obs=10, bucket="day",
    )
    ids = pairs.filter(F.col("corr") >= _CORR_CLUSTER_TAU).select(
        F.expr("CAST(substr(s1, 2) AS BIGINT)").alias("i"),
        F.expr("CAST(substr(s2, 2) AS BIGINT)").alias("j"),
    )
    edges = ids.select(
        F.least("i", "j").alias("u"), F.greatest("i", "j").alias("v")
    )
    comm = label_propagation(edges, iters=3)
    return comm.select(
        F.concat(F.lit("c"), F.col("node").cast("string")).alias("symbol"),
        F.col("community").cast("bigint").alias("community"),
    ).orderBy("symbol")


def _corr_clusters_sql() -> str:
    from crypto_price_tracker_with_etl_dashboard_spark.operators.lpa import (
        sql_label_propagation,
    )

    corr_sql = sql_pairwise_corr(
        'prices', 'symbol', 'timestamp', 'current_price', 'event_id',
        top_n=40, min_obs=10, bucket="day",
        extra_ctes=PRICES_CTE_SQL.strip() + ',',
    )
    edges_cte = f"""pairs AS ({corr_sql}),
    ids AS (
      SELECT CAST(substr(s1, 2) AS BIGINT) AS i,
             CAST(substr(s2, 2) AS BIGINT) AS j
      FROM pairs WHERE corr >= {_CORR_CLUSTER_TAU}
    ),
    edges AS (SELECT LEAST(i, j) AS u, GREATEST(i, j) AS v FROM ids)"""
    lpa = sql_label_propagation(edges_cte, iters=3)
    return lpa.replace(
        "SELECT node, lbl AS community FROM",
        "SELECT 'c' || CAST(node AS VARCHAR) AS symbol,"
        " CAST(lbl AS BIGINT) AS community FROM",
    ) + " ORDER BY symbol"


register("prices_corr_clusters", q_prices_corr_clusters, _corr_clusters_sql())


# ---- round-number price clustering ------------------------------------------------
# The price-clustering microstructure screen (Harris 1991): do quotes
# bunch on round levels?  Share of ticks whose cent value is an exact
# multiple of 100 (whole-dollar prints) vs the 1% a uniform cent
# distribution implies, with the binomial z-test as one integer
# cross-multiplication: with p = 1/100,
# z^2 >= 3.8416 <=> (100x - n)^2 * 10000 >= 3.8416e4 * 99 * n
# (= 3803184 * n).  One scan + one 1-row fold.


def q_prices_round_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    prices = prices_from_events(spark, sf_dir).filter(F.col("current_price") > 0)
    agg = prices.agg(
        F.count("*").cast("bigint").alias("n_ticks"),
        F.sum(
            (F.expr("CAST(round(current_price * 100) AS BIGINT)") % 100 == 0)
            .cast("bigint")
        )
        .cast("bigint")
        .alias("round_ticks"),
    )
    return agg.select(
        "n_ticks",
        "round_ticks",
        F.expr("round_ticks * 1000000 div n_ticks").alias("round_ppm"),
        F.expr(
            "(100 * round_ticks - n_ticks) * (100 * round_ticks - n_ticks)"
            " * 10000 >= 3803184 * n_ticks"
        ).alias("clustering_detected"),
    )


register(
    "prices_round_clustering",
    q_prices_round_clustering,
    f"""
    WITH {PRICES_CTE_SQL.strip().rstrip(',')},
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_ticks,
             CAST(SUM(CASE WHEN CAST(round(current_price * 100) AS BIGINT)
                                % 100 = 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS round_ticks
      FROM prices WHERE current_price > 0
    )
    SELECT n_ticks, round_ticks,
           round_ticks * 1000000 // n_ticks AS round_ppm,
           (100 * round_ticks - n_ticks) * (100 * round_ticks - n_ticks)
             * 10000 >= 3803184 * n_ticks AS clustering_detected
    FROM agg
    """,
)


# ---- intraday extreme-print timing -------------------------------------------------
# WHEN in the day do extremes print?  For every (symbol, day), the
# hour of the day's highest and lowest tick (ties -> latest
# timestamp, then event_id — one deterministic row_number each), then
# the 24-bucket histogram of those hours across all symbol-days.
# U-shaped timing (extremes at the open/close) is the classic
# session-liquidity signature; a flat profile is what 24/7 crypto
# SHOULD show — deviations flag data problems or venue effects.
# One shuffle to (symbol, day) windows; output <= 24 rows.


def q_prices_extreme_timing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    prices = prices_from_events(spark, sf_dir).filter(F.col("current_price") > 0)
    base = prices.select(
        "symbol",
        F.to_date("timestamp").alias("day"),
        F.hour("timestamp").alias("hour"),
        "current_price",
        "timestamp",
        "event_id",
    )
    w_hi = Window.partitionBy("symbol", "day").orderBy(
        F.col("current_price").desc(),
        F.col("timestamp").desc(),
        F.col("event_id").desc(),
    )
    w_lo = Window.partitionBy("symbol", "day").orderBy(
        F.col("current_price").asc(),
        F.col("timestamp").desc(),
        F.col("event_id").desc(),
    )
    tagged = base.withColumn("rh", F.row_number().over(w_hi)).withColumn(
        "rl", F.row_number().over(w_lo)
    )
    highs = tagged.filter(F.col("rh") == 1).groupBy("hour").agg(
        F.count("*").cast("bigint").alias("n_highs")
    )
    lows = tagged.filter(F.col("rl") == 1).groupBy("hour").agg(
        F.count("*").cast("bigint").alias("n_lows")
    )
    return (
        highs.join(lows, "hour", "full_outer")
        .select(
            F.col("hour").cast("bigint").alias("hour"),
            F.coalesce("n_highs", F.lit(0).cast("bigint")).alias("n_highs"),
            F.coalesce("n_lows", F.lit(0).cast("bigint")).alias("n_lows"),
        )
        .orderBy("hour")
    )


register(
    "prices_extreme_timing",
    q_prices_extreme_timing,
    f"""
    WITH {PRICES_CTE_SQL.strip().rstrip(',')},
    base AS (
      SELECT symbol, CAST(timestamp AS DATE) AS day,
             CAST(hour(timestamp) AS INT) AS hour, current_price,
             timestamp, event_id
      FROM prices WHERE current_price > 0
    ),
    tagged AS (
      SELECT hour,
             row_number() OVER (PARTITION BY symbol, day
               ORDER BY current_price DESC, timestamp DESC, event_id DESC)
               AS rh,
             row_number() OVER (PARTITION BY symbol, day
               ORDER BY current_price ASC, timestamp DESC, event_id DESC)
               AS rl
      FROM base
    ),
    highs AS (
      SELECT hour, CAST(COUNT(*) AS BIGINT) AS n_highs
      FROM tagged WHERE rh = 1 GROUP BY 1
    ),
    lows AS (
      SELECT hour, CAST(COUNT(*) AS BIGINT) AS n_lows
      FROM tagged WHERE rl = 1 GROUP BY 1
    )
    SELECT CAST(hour AS BIGINT) AS hour,
           COALESCE(n_highs, CAST(0 AS BIGINT)) AS n_highs,
           COALESCE(n_lows, CAST(0 AS BIGINT)) AS n_lows
    FROM highs FULL OUTER JOIN lows USING (hour)
    ORDER BY hour
    """,
)


# ---- Ljung-Box autocorrelation test -------------------------------------------------
# The joint no-autocorrelation test over lags 1..3 (Ljung & Box
# 1978): Q = n(n+2) * sum_k rho_k^2 / (n-k) against the chi-square
# critical value 7.815 (3 df, p=.05).  Each lag's Pearson rho comes
# from exact integer moments over the ALIGNED pairs (conditional sums
# in ONE pass over a single 3-lag window projection — no per-lag
# rescans); Q is one shared double expression, milli-floored.  The
# complement to the single-lag reads (variance ratio, Roll spread):
# "is there ANY linear structure left?"

_LB_LAGS = 3
_LB_CRIT_MILLI = 7815
_LB_MIN_DAYS = 20


def _lb_rho(k: int) -> str:
    """Pearson rho for lag k from the conditional moment columns."""
    return (
        f"(CAST(n{k} AS DOUBLE) * CAST(sxy{k} AS DOUBLE)"
        f" - CAST(sx{k} AS DOUBLE) * CAST(sy{k} AS DOUBLE))"
        f" / sqrt("
        f"(CAST(n{k} AS DOUBLE) * CAST(sxx{k} AS DOUBLE)"
        f" - CAST(sx{k} AS DOUBLE) * CAST(sx{k} AS DOUBLE))"
        f" * (CAST(n{k} AS DOUBLE) * CAST(syy{k} AS DOUBLE)"
        f" - CAST(sy{k} AS DOUBLE) * CAST(sy{k} AS DOUBLE)))"
    )


def _lb_q() -> str:
    terms = " + ".join(
        f"(({_lb_rho(k)}) * ({_lb_rho(k)})) / (CAST(n AS DOUBLE) - {k}.0)"
        for k in range(1, _LB_LAGS + 1)
    )
    return f"CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0) * ({terms})"


def _lb_guard() -> str:
    return " AND ".join(
        f"n{k} >= 2"
        f" AND CAST(n{k} AS DOUBLE) * sxx{k}"
        f" - CAST(sx{k} AS DOUBLE) * sx{k} > 0"
        f" AND CAST(n{k} AS DOUBLE) * syy{k}"
        f" - CAST(sy{k} AS DOUBLE) * sy{k} > 0"
        for k in range(1, _LB_LAGS + 1)
    )


def q_prices_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    prices = prices_from_events(spark, sf_dir).filter(F.col("current_price") > 0)
    w = Window.partitionBy("symbol", F.to_date("timestamp")).orderBy(
        F.col("timestamp").desc(), F.col("event_id").desc()
    )
    daily = (
        prices.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "symbol",
            F.to_date("timestamp").alias("day"),
            F.col("current_price").alias("close"),
        )
    )
    wd = Window.partitionBy("symbol").orderBy("day")
    rets = (
        daily.withColumn("__prev", F.lag("close").over(wd))
        .filter(F.col("__prev").isNotNull())
        .select(
            "symbol",
            "day",
            F.greatest(
                F.lit(-1000000).cast("bigint"),
                F.least(
                    F.lit(1000000).cast("bigint"),
                    F.floor(
                        (F.col("close") - F.col("__prev"))
                        * 1000000.0
                        / F.col("__prev")
                    ).cast("bigint"),
                ),
            ).alias("x"),
        )
    )
    lagged = rets
    for k in range(1, _LB_LAGS + 1):
        lagged = lagged.withColumn(f"y{k}", F.lag("x", k).over(wd))
    aggs = [F.count("*").cast("bigint").alias("n")]
    for k in range(1, _LB_LAGS + 1):
        yk = F.col(f"y{k}")
        aligned = yk.isNotNull()
        aggs += [
            F.sum(aligned.cast("bigint")).cast("bigint").alias(f"n{k}"),
            F.sum(F.when(aligned, F.col("x")).otherwise(0)).cast("bigint").alias(f"sx{k}"),
            F.sum(F.when(aligned, yk).otherwise(0)).cast("bigint").alias(f"sy{k}"),
            F.sum(F.when(aligned, F.col("x") * yk).otherwise(0))
            .cast("bigint")
            .alias(f"sxy{k}"),
            F.sum(F.when(aligned, F.col("x") * F.col("x")).otherwise(0))
            .cast("bigint")
            .alias(f"sxx{k}"),
            F.sum(F.when(aligned, yk * yk).otherwise(0))
            .cast("bigint")
            .alias(f"syy{k}"),
        ]
    mom = lagged.groupBy("symbol").agg(*aggs)
    return (
        mom.filter(F.col("n") >= _LB_MIN_DAYS)
        .filter(F.expr(_lb_guard()))
        .select(
            "symbol",
            "n",
            F.expr(f"CAST(floor(({_lb_q()}) * 1000.0) AS BIGINT)").alias(
                "q_milli"
            ),
            F.expr(
                f"CAST(floor(({_lb_q()}) * 1000.0) AS BIGINT)"
                f" >= {_LB_CRIT_MILLI}"
            ).alias("autocorr_detected"),
        )
        .orderBy("symbol")
    )


def _ljung_box_sql() -> str:
    mom_cols = ["CAST(COUNT(*) AS BIGINT) AS n"]
    for k in range(1, _LB_LAGS + 1):
        a = f"y{k} IS NOT NULL"
        mom_cols += [
            f"CAST(SUM(CASE WHEN {a} THEN 1 ELSE 0 END) AS BIGINT) AS n{k}",
            f"CAST(SUM(CASE WHEN {a} THEN x ELSE 0 END) AS BIGINT) AS sx{k}",
            f"CAST(SUM(CASE WHEN {a} THEN y{k} ELSE 0 END) AS BIGINT) AS sy{k}",
            f"CAST(SUM(CASE WHEN {a} THEN x * y{k} ELSE 0 END) AS BIGINT)"
            f" AS sxy{k}",
            f"CAST(SUM(CASE WHEN {a} THEN x * x ELSE 0 END) AS BIGINT)"
            f" AS sxx{k}",
            f"CAST(SUM(CASE WHEN {a} THEN y{k} * y{k} ELSE 0 END) AS BIGINT)"
            f" AS syy{k}",
        ]
    lag_cols = ", ".join(
        f"lag(x, {k}) OVER (PARTITION BY symbol ORDER BY day) AS y{k}"
        for k in range(1, _LB_LAGS + 1)
    )
    return f"""
    WITH {PRICES_CTE_SQL.strip().rstrip(',')},
    daily AS (
      SELECT symbol, CAST(timestamp AS DATE) AS day, current_price AS close
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY symbol, CAST(timestamp AS DATE)
          ORDER BY timestamp DESC, event_id DESC
        ) AS rn
        FROM prices WHERE current_price > 0
      ) WHERE rn = 1
    ),
    rets AS (
      SELECT symbol, day,
             GREATEST(CAST(-1000000 AS BIGINT), LEAST(CAST(1000000 AS BIGINT),
               CAST(floor((close - prev) * 1000000.0 / prev) AS BIGINT))) AS x
      FROM (
        SELECT symbol, day, close,
               lag(close) OVER (PARTITION BY symbol ORDER BY day) AS prev
        FROM daily
      ) WHERE prev IS NOT NULL
    ),
    lagged AS (
      SELECT symbol, x, {lag_cols} FROM rets
    ),
    mom AS (
      SELECT symbol, {', '.join(mom_cols)}
      FROM lagged GROUP BY symbol
    )
    SELECT symbol, n,
           CAST(floor(({_lb_q()}) * 1000.0) AS BIGINT) AS q_milli,
           CAST(floor(({_lb_q()}) * 1000.0) AS BIGINT) >= {_LB_CRIT_MILLI}
             AS autocorr_detected
    FROM mom
    WHERE n >= {_LB_MIN_DAYS} AND {_lb_guard()}
    ORDER BY symbol
    """


register("prices_ljung_box", q_prices_ljung_box, _ljung_box_sql())


# ---- higher return moments (skewness / excess kurtosis) ------------------------------
# The risk stats past mean/variance: per symbol, skewness (crash
# asymmetry) and excess kurtosis (fat tails) from the exact integer
# power sums S1..S4 of PER-MILLE daily returns (milli, not ppm — r^4
# must stay inside int64: 1000^4 * n ~ 1e12 * n).  The standardized
# moments are ONE shared double expression over the exact sums;
# correctly-rounded ops only (pow(x, 1.5) spelled sqrt(x)*x — sqrt
# and multiply are exact-rounded, pow is not guaranteed to be).

_MOM_MIN_DAYS = 20

_MOM_M2 = (
    "(CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
    " / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)"
)
_MOM_M3 = (
    "(CAST(s3 AS DOUBLE)"
    " - 3.0 * CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)"
    " + 2.0 * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
    " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) / CAST(n AS DOUBLE)"
)
_MOM_M4 = (
    "(CAST(s4 AS DOUBLE)"
    " - 4.0 * CAST(s1 AS DOUBLE) * CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)"
    " + 6.0 * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE)"
    " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))"
    " - 3.0 * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
    " * CAST(s1 AS DOUBLE)"
    " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))"
    " / CAST(n AS DOUBLE)"
)
_MOM_SKEW = f"(({_MOM_M3}) / (sqrt({_MOM_M2}) * ({_MOM_M2})))"
_MOM_KURT = f"(({_MOM_M4}) / (({_MOM_M2}) * ({_MOM_M2})) - 3.0)"


def q_prices_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    prices = prices_from_events(spark, sf_dir).filter(F.col("current_price") > 0)
    w = Window.partitionBy("symbol", F.to_date("timestamp")).orderBy(
        F.col("timestamp").desc(), F.col("event_id").desc()
    )
    daily = (
        prices.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "symbol",
            F.to_date("timestamp").alias("day"),
            F.col("current_price").alias("close"),
        )
    )
    wd = Window.partitionBy("symbol").orderBy("day")
    rets = (
        daily.withColumn("__prev", F.lag("close").over(wd))
        .filter(F.col("__prev").isNotNull())
        .select(
            "symbol",
            F.greatest(
                F.lit(-1000).cast("bigint"),
                F.least(
                    F.lit(1000).cast("bigint"),
                    F.floor(
                        (F.col("close") - F.col("__prev"))
                        * 1000.0
                        / F.col("__prev")
                    ).cast("bigint"),
                ),
            ).alias("r"),
        )
    )
    mom = rets.groupBy("symbol").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("r").cast("bigint").alias("s1"),
        F.sum(F.expr("r * r")).cast("bigint").alias("s2"),
        F.sum(F.expr("r * r * r")).cast("bigint").alias("s3"),
        F.sum(F.expr("r * r * r * r")).cast("bigint").alias("s4"),
    )
    return (
        mom.filter(F.col("n") >= _MOM_MIN_DAYS)
        .filter(F.expr(f"({_MOM_M2}) > 0"))
        .select(
            "symbol",
            "n",
            F.expr(f"CAST(floor(({_MOM_SKEW}) * 1000.0) AS BIGINT)").alias(
                "skew_milli"
            ),
            F.expr(f"CAST(floor(({_MOM_KURT}) * 1000.0) AS BIGINT)").alias(
                "ex_kurt_milli"
            ),
        )
        .orderBy("symbol")
    )


register(
    "prices_higher_moments",
    q_prices_higher_moments,
    f"""
    WITH {PRICES_CTE_SQL.strip().rstrip(',')},
    daily AS (
      SELECT symbol, CAST(timestamp AS DATE) AS day, current_price AS close
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY symbol, CAST(timestamp AS DATE)
          ORDER BY timestamp DESC, event_id DESC
        ) AS rn
        FROM prices WHERE current_price > 0
      ) WHERE rn = 1
    ),
    rets AS (
      SELECT symbol,
             GREATEST(CAST(-1000 AS BIGINT), LEAST(CAST(1000 AS BIGINT),
               CAST(floor((close - prev) * 1000.0 / prev) AS BIGINT))) AS r
      FROM (
        SELECT symbol, close,
               lag(close) OVER (PARTITION BY symbol ORDER BY day) AS prev
        FROM daily
      ) WHERE prev IS NOT NULL
    ),
    mom AS (
      SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(r) AS BIGINT) AS s1,
             CAST(SUM(r * r) AS BIGINT) AS s2,
             CAST(SUM(r * r * r) AS BIGINT) AS s3,
             CAST(SUM(r * r * r * r) AS BIGINT) AS s4
      FROM rets GROUP BY 1
    )
    SELECT symbol, n,
           CAST(floor(({_MOM_SKEW}) * 1000.0) AS BIGINT) AS skew_milli,
           CAST(floor(({_MOM_KURT}) * 1000.0) AS BIGINT) AS ex_kurt_milli
    FROM mom
    WHERE n >= {_MOM_MIN_DAYS} AND ({_MOM_M2}) > 0
    ORDER BY symbol
    """,
)


# ---- idiosyncratic volatility share ---------------------------------------------
# The risk decomposition on top of prices_beta: how much of each
# symbol's daily variance is MARKET co-movement (R^2 against the
# equal-weight market return) vs idiosyncratic?  The market return
# per day is the floored mean of the winsorized ppm returns (exact
# integers); R^2 is the squared Pearson from exact moments, one
# shared double chain, ppm-floored; idio = 1e6 - systematic.

_IDIO_MIN_DAYS = 20

_IDIO_R2 = (
    "((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))"
    " / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    " * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
    " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
)


def q_prices_idio_vol_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    prices = prices_from_events(spark, sf_dir).filter(F.col("current_price") > 0)
    w = Window.partitionBy("symbol", F.to_date("timestamp")).orderBy(
        F.col("timestamp").desc(), F.col("event_id").desc()
    )
    daily = (
        prices.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "symbol",
            F.to_date("timestamp").alias("day"),
            F.col("current_price").alias("close"),
        )
    )
    wd = Window.partitionBy("symbol").orderBy("day")
    rets = (
        daily.withColumn("__prev", F.lag("close").over(wd))
        .filter(F.col("__prev").isNotNull())
        .select(
            "symbol",
            "day",
            F.greatest(
                F.lit(-1000000).cast("bigint"),
                F.least(
                    F.lit(1000000).cast("bigint"),
                    F.floor(
                        (F.col("close") - F.col("__prev"))
                        * 1000000.0
                        / F.col("__prev")
                    ).cast("bigint"),
                ),
            ).alias("r"),
        )
    )
    market = rets.groupBy("day").agg(
        F.floor(F.sum("r").cast("double") / F.count("*"))
        .cast("bigint")
        .alias("m")
    )
    joined = rets.join(F.broadcast(market), "day")
    mom = joined.groupBy("symbol").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("m").cast("bigint").alias("sx"),
        F.sum("r").cast("bigint").alias("sy"),
        F.sum(F.expr("m * r")).cast("bigint").alias("sxy"),
        F.sum(F.expr("m * m")).cast("bigint").alias("sxx"),
        F.sum(F.expr("r * r")).cast("bigint").alias("syy"),
    )
    return (
        mom.filter(F.col("n") >= _IDIO_MIN_DAYS)
        .filter(
            F.expr(
                "CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx > 0"
                " AND CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy > 0"
            )
        )
        .select(
            "symbol",
            "n",
            F.expr(f"CAST(floor(({_IDIO_R2}) * 1000000.0) AS BIGINT)").alias(
                "systematic_ppm"
            ),
            F.expr(
                f"1000000 - CAST(floor(({_IDIO_R2}) * 1000000.0) AS BIGINT)"
            ).alias("idio_ppm"),
        )
        .orderBy("symbol")
    )


register(
    "prices_idio_vol_share",
    q_prices_idio_vol_share,
    f"""
    WITH {PRICES_CTE_SQL.strip().rstrip(',')},
    daily AS (
      SELECT symbol, CAST(timestamp AS DATE) AS day, current_price AS close
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY symbol, CAST(timestamp AS DATE)
          ORDER BY timestamp DESC, event_id DESC
        ) AS rn
        FROM prices WHERE current_price > 0
      ) WHERE rn = 1
    ),
    rets AS (
      SELECT symbol, day,
             GREATEST(CAST(-1000000 AS BIGINT), LEAST(CAST(1000000 AS BIGINT),
               CAST(floor((close - prev) * 1000000.0 / prev) AS BIGINT))) AS r
      FROM (
        SELECT symbol, day, close,
               lag(close) OVER (PARTITION BY symbol ORDER BY day) AS prev
        FROM daily
      ) WHERE prev IS NOT NULL
    ),
    market AS (
      SELECT day,
             CAST(floor(CAST(SUM(r) AS DOUBLE) / COUNT(*)) AS BIGINT) AS m
      FROM rets GROUP BY 1
    ),
    mom AS (
      SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(m) AS BIGINT) AS sx,
             CAST(SUM(r) AS BIGINT) AS sy,
             CAST(SUM(m * r) AS BIGINT) AS sxy,
             CAST(SUM(m * m) AS BIGINT) AS sxx,
             CAST(SUM(r * r) AS BIGINT) AS syy
      FROM rets JOIN market USING (day)
      GROUP BY 1
    )
    SELECT symbol, n,
           CAST(floor(({_IDIO_R2}) * 1000000.0) AS BIGINT) AS systematic_ppm,
           1000000 - CAST(floor(({_IDIO_R2}) * 1000000.0) AS BIGINT)
             AS idio_ppm
    FROM mom
    WHERE n >= {_IDIO_MIN_DAYS}
      AND CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx > 0
      AND CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy > 0
    ORDER BY symbol
    """,
)


# ---- spread-vs-volume relation --------------------------------------------------------
# The microstructure relation the Roll spread exists to test: do
# high-volume symbols trade tighter?  Pearson r (milli-floored,
# shared double chain) between the certified Roll spread and each
# symbol's mean tick volume in exact cents, over the |symbols|
# cross-section.  Both legs reuse certified machinery — the spread
# via q_prices_roll_spread, volume via one symbol agg in whole-dollar units.


def q_prices_spread_volume_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    spread = q_prices_roll_spread(spark, sf_dir).select(
        "symbol", F.col("spread_millicents").alias("x")
    )
    prices = prices_from_events(spark, sf_dir).filter(
        F.col("total_volume").isNotNull()
    )
    # whole-dollar volume units: cent-scaled squares would overflow
    # int64 in the cross-sectional syy sum
    vol = prices.groupBy("symbol").agg(
        F.expr(
            "CAST(SUM(CAST(round(total_volume) AS BIGINT)) DIV COUNT(*)"
            " AS BIGINT)"
        ).alias("y")
    )
    xy = spread.join(vol, "symbol")
    mom = xy.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr("x * y")).cast("bigint").alias("sxy"),
        F.sum(F.expr("x * x")).cast("bigint").alias("sxx"),
        F.sum(F.expr("y * y")).cast("bigint").alias("syy"),
    )
    r_expr = (
        "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
        " / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
        " * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
        " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
    )
    return mom.filter(
        F.expr(
            "n >= 3 AND CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx > 0"
            " AND CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy > 0"
        )
    ).select(
        "n",
        F.expr(f"CAST(floor(({r_expr}) * 1000.0) AS BIGINT)").alias("r_milli"),
    )


def _spread_volume_sql() -> str:
    from crypto_price_tracker_with_etl_dashboard_spark.queries import ORACLE_SQL

    roll = ORACLE_SQL["prices_roll_spread"]
    r_expr = (
        "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
        " / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
        " * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
        " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
    )
    return f"""
    WITH {PRICES_CTE_SQL.strip().rstrip(',')},
    roll AS ({roll}),
    vol AS (
      SELECT symbol,
             CAST(SUM(CAST(round(total_volume) AS BIGINT)) // COUNT(*)
                  AS BIGINT) AS y
      FROM prices WHERE total_volume IS NOT NULL GROUP BY 1
    ),
    xy AS (
      SELECT roll.spread_millicents AS x, vol.y AS y
      FROM roll JOIN vol ON roll.symbol = vol.symbol
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM xy
    )
    SELECT n, CAST(floor(({r_expr}) * 1000.0) AS BIGINT) AS r_milli
    FROM mom
    WHERE n >= 3 AND CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx > 0
      AND CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy > 0
    """


register(
    "prices_spread_volume_corr",
    q_prices_spread_volume_corr,
    _spread_volume_sql(),
)


# ---- up/down streaks -----------------------------------------------------------------
# The momentum-persistence read: each symbol's longest run of
# consecutive up days and down days (gaps-and-islands on the sign of
# the daily change — flat days break both streaks).  Exact integer
# day counts; shares the per-symbol daily-close shuffle.


def q_prices_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    prices = prices_from_events(spark, sf_dir).filter(F.col("current_price") > 0)
    w = Window.partitionBy("symbol", F.to_date("timestamp")).orderBy(
        F.col("timestamp").desc(), F.col("event_id").desc()
    )
    daily = (
        prices.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "symbol",
            F.to_date("timestamp").alias("day"),
            F.col("current_price").alias("close"),
        )
    )
    wd = Window.partitionBy("symbol").orderBy("day")
    signed = (
        daily.withColumn("__prev", F.lag("close").over(wd))
        .filter(F.col("__prev").isNotNull())
        .select(
            "symbol",
            "day",
            F.when(F.col("close") > F.col("__prev"), 1)
            .when(F.col("close") < F.col("__prev"), -1)
            .otherwise(0)
            .alias("sgn"),
            F.row_number().over(wd).alias("rn"),
        )
    )
    runs = (
        signed.filter(F.col("sgn") != 0)
        .withColumn(
            "grp",
            F.col("rn")
            - F.row_number().over(
                Window.partitionBy("symbol", "sgn").orderBy("day")
            ),
        )
        .groupBy("symbol", "sgn", "grp")
        .agg(F.count("*").cast("bigint").alias("len"))
    )
    return (
        runs.groupBy("symbol")
        .agg(
            F.max(F.when(F.col("sgn") == 1, F.col("len")))
            .cast("bigint")
            .alias("max_up_streak"),
            F.max(F.when(F.col("sgn") == -1, F.col("len")))
            .cast("bigint")
            .alias("max_down_streak"),
        )
        .orderBy("symbol")
    )


register(
    "prices_streaks",
    q_prices_streaks,
    f"""
    WITH {PRICES_CTE_SQL.strip().rstrip(',')},
    daily AS (
      SELECT symbol, CAST(timestamp AS DATE) AS day, current_price AS close
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY symbol, CAST(timestamp AS DATE)
          ORDER BY timestamp DESC, event_id DESC
        ) AS rn
        FROM prices WHERE current_price > 0
      ) WHERE rn = 1
    ),
    signed AS (
      SELECT symbol, day,
             CASE WHEN close > prev THEN 1
                  WHEN close < prev THEN -1 ELSE 0 END AS sgn,
             row_number() OVER (PARTITION BY symbol ORDER BY day) AS rn
      FROM (
        SELECT symbol, day, close,
               lag(close) OVER (PARTITION BY symbol ORDER BY day) AS prev
        FROM daily
      ) WHERE prev IS NOT NULL
    ),
    runs AS (
      SELECT symbol, sgn, CAST(COUNT(*) AS BIGINT) AS len
      FROM (
        SELECT symbol, sgn,
               rn - row_number() OVER (PARTITION BY symbol, sgn ORDER BY day)
                 AS grp
        FROM signed WHERE sgn <> 0
      ) GROUP BY symbol, sgn, grp
    )
    SELECT symbol,
           CAST(MAX(CASE WHEN sgn = 1 THEN len END) AS BIGINT)
             AS max_up_streak,
           CAST(MAX(CASE WHEN sgn = -1 THEN len END) AS BIGINT)
             AS max_down_streak
    FROM runs GROUP BY 1 ORDER BY 1
    """,
)


# ---- golden/death cross counts --------------------------------------------------------
# The moving-average crossover events behind trend-following rules:
# per symbol, how many times the 5-day mean crossed ABOVE the 20-day
# mean (golden) and below (death)?  Means never materialize — the
# comparison cross-multiplies the exact integer cent frame sums
# (sma5_sum * 20 vs sma20_sum * 5), so the sign series is bit-exact;
# crossings are sign transitions between consecutive full-window
# days.  One per-symbol window pass.

_GC_FAST = 5
_GC_SLOW = 20


def q_prices_golden_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    prices = prices_from_events(spark, sf_dir).filter(F.col("current_price") > 0)
    w = Window.partitionBy("symbol", F.to_date("timestamp")).orderBy(
        F.col("timestamp").desc(), F.col("event_id").desc()
    )
    daily = (
        prices.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "symbol",
            F.to_date("timestamp").alias("day"),
            F.expr("CAST(round(current_price * 100) AS BIGINT)").alias("cents"),
        )
    )
    wd = Window.partitionBy("symbol").orderBy("day")
    framed = daily.select(
        "symbol",
        "day",
        F.sum("cents").over(wd.rowsBetween(-(_GC_FAST - 1), 0)).alias("s5"),
        F.sum("cents").over(wd.rowsBetween(-(_GC_SLOW - 1), 0)).alias("s20"),
        F.row_number().over(wd).alias("rn"),
    ).filter(F.col("rn") >= _GC_SLOW)
    signed = framed.select(
        "symbol",
        "day",
        F.when(
            F.expr(f"s5 * {_GC_SLOW} > s20 * {_GC_FAST}"), 1
        )
        .when(F.expr(f"s5 * {_GC_SLOW} < s20 * {_GC_FAST}"), -1)
        .otherwise(0)
        .alias("d"),
    )
    trans = signed.select(
        "symbol",
        "d",
        F.lag("d").over(wd).alias("prev_d"),
    ).filter(F.col("prev_d").isNotNull())
    return (
        trans.groupBy("symbol")
        .agg(
            F.sum(
                F.expr("CAST(prev_d <= 0 AND d = 1 AS BIGINT)")
            )
            .cast("bigint")
            .alias("golden_crosses"),
            F.sum(
                F.expr("CAST(prev_d >= 0 AND d = -1 AS BIGINT)")
            )
            .cast("bigint")
            .alias("death_crosses"),
        )
        .orderBy("symbol")
    )


register(
    "prices_golden_cross",
    q_prices_golden_cross,
    f"""
    WITH {PRICES_CTE_SQL.strip().rstrip(',')},
    daily AS (
      SELECT symbol, CAST(timestamp AS DATE) AS day,
             CAST(round(current_price * 100) AS BIGINT) AS cents
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY symbol, CAST(timestamp AS DATE)
          ORDER BY timestamp DESC, event_id DESC
        ) AS rn
        FROM prices WHERE current_price > 0
      ) WHERE rn = 1
    ),
    framed AS (
      SELECT symbol, day,
             SUM(cents) OVER (PARTITION BY symbol ORDER BY day
               ROWS BETWEEN {_GC_FAST - 1} PRECEDING AND CURRENT ROW) AS s5,
             SUM(cents) OVER (PARTITION BY symbol ORDER BY day
               ROWS BETWEEN {_GC_SLOW - 1} PRECEDING AND CURRENT ROW) AS s20,
             row_number() OVER (PARTITION BY symbol ORDER BY day) AS rn
      FROM daily
    ),
    signed AS (
      SELECT symbol, day,
             CASE WHEN s5 * {_GC_SLOW} > s20 * {_GC_FAST} THEN 1
                  WHEN s5 * {_GC_SLOW} < s20 * {_GC_FAST} THEN -1
                  ELSE 0 END AS d
      FROM framed WHERE rn >= {_GC_SLOW}
    ),
    trans AS (
      SELECT symbol, d,
             lag(d) OVER (PARTITION BY symbol ORDER BY day) AS prev_d
      FROM signed
    )
    SELECT symbol,
           CAST(SUM(CASE WHEN prev_d <= 0 AND d = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS golden_crosses,
           CAST(SUM(CASE WHEN prev_d >= 0 AND d = -1 THEN 1 ELSE 0 END)
                AS BIGINT) AS death_crosses
    FROM trans WHERE prev_d IS NOT NULL
    GROUP BY 1 ORDER BY 1
    """,
)


# ---- variance break (regime shift) test --------------------------------------------
# The volatility-regime complement to CUSUM's mean-shift detection:
# split each symbol's return history in half and compare variances
# with an F-ratio — a 2x jump says the risk model calibrated on the
# first half is stale.  Both variances come from exact integer
# moments; the ratio is one shared double chain; the flag trips at
# F >= 2 or <= 0.5 via the same expression.

_VBREAK_MIN_DAYS = 20


def q_prices_variance_break(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    prices = prices_from_events(spark, sf_dir).filter(F.col("current_price") > 0)
    w = Window.partitionBy("symbol", F.to_date("timestamp")).orderBy(
        F.col("timestamp").desc(), F.col("event_id").desc()
    )
    daily = (
        prices.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "symbol",
            F.to_date("timestamp").alias("day"),
            F.col("current_price").alias("close"),
        )
    )
    wd = Window.partitionBy("symbol").orderBy("day")
    rets = (
        daily.withColumn("__prev", F.lag("close").over(wd))
        .filter(F.col("__prev").isNotNull())
        .select(
            "symbol",
            "day",
            F.greatest(
                F.lit(-1000000).cast("bigint"),
                F.least(
                    F.lit(1000000).cast("bigint"),
                    F.floor(
                        (F.col("close") - F.col("__prev"))
                        * 1000000.0
                        / F.col("__prev")
                    ).cast("bigint"),
                ),
            ).alias("r"),
        )
        .withColumn("rn", F.row_number().over(wd))
        .withColumn("n", F.count("*").over(Window.partitionBy("symbol")))
        .filter(F.col("n") >= _VBREAK_MIN_DAYS)
    )
    halves = rets.withColumn(
        "h", F.expr("CAST(rn > n div 2 AS INT)")
    )
    mom = halves.groupBy("symbol").agg(
        *[
            agg
            for h in (0, 1)
            for agg in (
                F.sum(F.expr(f"CAST(h = {h} AS BIGINT)"))
                .cast("bigint")
                .alias(f"n{h}"),
                F.sum(F.when(F.col("h") == h, F.col("r")).otherwise(0))
                .cast("bigint")
                .alias(f"s{h}"),
                F.sum(F.when(F.col("h") == h, F.expr("r * r")).otherwise(0))
                .cast("bigint")
                .alias(f"ss{h}"),
            )
        ]
    )
    var = lambda h: (  # noqa: E731
        f"(CAST(ss{h} AS DOUBLE) - CAST(s{h} AS DOUBLE) * CAST(s{h} AS DOUBLE)"
        f" / CAST(n{h} AS DOUBLE)) / (CAST(n{h} AS DOUBLE) - 1.0)"
    )
    f_ratio = f"({var(1)}) / ({var(0)})"
    return (
        mom.filter(
            F.expr(
                f"n0 >= 2 AND n1 >= 2 AND ({var(0)}) > 0 AND ({var(1)}) > 0"
            )
        )
        .select(
            "symbol",
            F.expr("n0 + n1").alias("n"),
            F.expr(f"CAST(floor(({f_ratio}) * 1000.0) AS BIGINT)").alias(
                "f_ratio_milli"
            ),
            F.expr(
                f"({f_ratio}) >= 2.0 OR ({f_ratio}) <= 0.5"
            ).alias("regime_shift"),
        )
        .orderBy("symbol")
    )


def _variance_break_sql() -> str:
    var = lambda h: (  # noqa: E731
        f"(CAST(ss{h} AS DOUBLE) - CAST(s{h} AS DOUBLE) * CAST(s{h} AS DOUBLE)"
        f" / CAST(n{h} AS DOUBLE)) / (CAST(n{h} AS DOUBLE) - 1.0)"
    )
    f_ratio = f"({var(1)}) / ({var(0)})"
    half_cols = []
    for h in (0, 1):
        half_cols += [
            f"CAST(SUM(CASE WHEN h = {h} THEN 1 ELSE 0 END) AS BIGINT) AS n{h}",
            f"CAST(SUM(CASE WHEN h = {h} THEN r ELSE 0 END) AS BIGINT) AS s{h}",
            f"CAST(SUM(CASE WHEN h = {h} THEN r * r ELSE 0 END) AS BIGINT)"
            f" AS ss{h}",
        ]
    return f"""
    WITH {PRICES_CTE_SQL.strip().rstrip(',')},
    daily AS (
      SELECT symbol, CAST(timestamp AS DATE) AS day, current_price AS close
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY symbol, CAST(timestamp AS DATE)
          ORDER BY timestamp DESC, event_id DESC
        ) AS rn
        FROM prices WHERE current_price > 0
      ) WHERE rn = 1
    ),
    rets AS (
      SELECT symbol, r, rn, n FROM (
        SELECT symbol,
               GREATEST(CAST(-1000000 AS BIGINT), LEAST(CAST(1000000 AS BIGINT),
                 CAST(floor((close - prev) * 1000000.0 / prev) AS BIGINT))) AS r,
               row_number() OVER (PARTITION BY symbol ORDER BY day) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY symbol) AS BIGINT) AS n
        FROM (
          SELECT symbol, day, close,
                 lag(close) OVER (PARTITION BY symbol ORDER BY day) AS prev
          FROM daily
        ) WHERE prev IS NOT NULL
      ) WHERE n >= {_VBREAK_MIN_DAYS}
    ),
    halves AS (
      SELECT symbol, r, CASE WHEN rn > n // 2 THEN 1 ELSE 0 END AS h
      FROM rets
    ),
    mom AS (
      SELECT symbol, {', '.join(half_cols)}
      FROM halves GROUP BY 1
    )
    SELECT symbol, n0 + n1 AS n,
           CAST(floor(({f_ratio}) * 1000.0) AS BIGINT) AS f_ratio_milli,
           ({f_ratio}) >= 2.0 OR ({f_ratio}) <= 0.5 AS regime_shift
    FROM mom
    WHERE n0 >= 2 AND n1 >= 2 AND ({var(0)}) > 0 AND ({var(1)}) > 0
    ORDER BY symbol
    """


register("prices_variance_break", q_prices_variance_break, _variance_break_sql())


# ---- beta stability ------------------------------------------------------------------
# Is the hedge ratio stale?  CAPM beta against the equal-weight
# market estimated separately on each HALF of the history; a drift
# beyond +-0.5 says yesterday's hedge book is mis-sized.  Betas are
# one shared double chain over exact integer moments per half;
# milli-floored.

_BSTAB_MIN_DAYS = 20


def _beta_expr(h: int) -> str:
    return (
        f"(CAST(n{h} AS DOUBLE) * CAST(sxy{h} AS DOUBLE)"
        f" - CAST(sx{h} AS DOUBLE) * CAST(sy{h} AS DOUBLE))"
        f" / (CAST(n{h} AS DOUBLE) * CAST(sxx{h} AS DOUBLE)"
        f" - CAST(sx{h} AS DOUBLE) * CAST(sx{h} AS DOUBLE))"
    )


def q_prices_beta_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    prices = prices_from_events(spark, sf_dir).filter(F.col("current_price") > 0)
    w = Window.partitionBy("symbol", F.to_date("timestamp")).orderBy(
        F.col("timestamp").desc(), F.col("event_id").desc()
    )
    daily = (
        prices.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "symbol",
            F.to_date("timestamp").alias("day"),
            F.col("current_price").alias("close"),
        )
    )
    wd = Window.partitionBy("symbol").orderBy("day")
    rets = (
        daily.withColumn("__prev", F.lag("close").over(wd))
        .filter(F.col("__prev").isNotNull())
        .select(
            "symbol",
            "day",
            F.greatest(
                F.lit(-1000000).cast("bigint"),
                F.least(
                    F.lit(1000000).cast("bigint"),
                    F.floor(
                        (F.col("close") - F.col("__prev"))
                        * 1000000.0
                        / F.col("__prev")
                    ).cast("bigint"),
                ),
            ).alias("r"),
        )
    )
    market = rets.groupBy("day").agg(
        F.floor(F.sum("r").cast("double") / F.count("*"))
        .cast("bigint")
        .alias("m")
    )
    joined = (
        rets.join(F.broadcast(market), "day")
        .withColumn("rn", F.row_number().over(wd))
        .withColumn("n", F.count("*").over(Window.partitionBy("symbol")))
        .filter(F.col("n") >= _BSTAB_MIN_DAYS)
        .withColumn("h", F.expr("CAST(rn > n div 2 AS INT)"))
    )
    aggs = []
    for h in (0, 1):
        aggs += [
            F.sum(F.expr(f"CAST(h = {h} AS BIGINT)")).cast("bigint").alias(f"n{h}"),
            F.sum(F.when(F.col("h") == h, F.col("m")).otherwise(0))
            .cast("bigint")
            .alias(f"sx{h}"),
            F.sum(F.when(F.col("h") == h, F.col("r")).otherwise(0))
            .cast("bigint")
            .alias(f"sy{h}"),
            F.sum(F.when(F.col("h") == h, F.expr("m * r")).otherwise(0))
            .cast("bigint")
            .alias(f"sxy{h}"),
            F.sum(F.when(F.col("h") == h, F.expr("m * m")).otherwise(0))
            .cast("bigint")
            .alias(f"sxx{h}"),
        ]
    mom = joined.groupBy("symbol").agg(*aggs)
    guard = (
        "n0 >= 2 AND n1 >= 2"
        " AND CAST(n0 AS DOUBLE) * sxx0 - CAST(sx0 AS DOUBLE) * sx0 > 0"
        " AND CAST(n1 AS DOUBLE) * sxx1 - CAST(sx1 AS DOUBLE) * sx1 > 0"
    )
    drift = f"({_beta_expr(1)}) - ({_beta_expr(0)})"
    return (
        mom.filter(F.expr(guard))
        .select(
            "symbol",
            F.expr(f"CAST(floor(({_beta_expr(0)}) * 1000.0) AS BIGINT)").alias(
                "beta_first_milli"
            ),
            F.expr(f"CAST(floor(({_beta_expr(1)}) * 1000.0) AS BIGINT)").alias(
                "beta_second_milli"
            ),
            F.expr(
                f"abs({drift}) >= 0.5"
            ).alias("beta_drift"),
        )
        .orderBy("symbol")
    )


def _beta_stability_sql() -> str:
    half_cols = []
    for h in (0, 1):
        half_cols += [
            f"CAST(SUM(CASE WHEN h = {h} THEN 1 ELSE 0 END) AS BIGINT) AS n{h}",
            f"CAST(SUM(CASE WHEN h = {h} THEN m ELSE 0 END) AS BIGINT) AS sx{h}",
            f"CAST(SUM(CASE WHEN h = {h} THEN r ELSE 0 END) AS BIGINT) AS sy{h}",
            f"CAST(SUM(CASE WHEN h = {h} THEN m * r ELSE 0 END) AS BIGINT)"
            f" AS sxy{h}",
            f"CAST(SUM(CASE WHEN h = {h} THEN m * m ELSE 0 END) AS BIGINT)"
            f" AS sxx{h}",
        ]
    guard = (
        "n0 >= 2 AND n1 >= 2"
        " AND CAST(n0 AS DOUBLE) * sxx0 - CAST(sx0 AS DOUBLE) * sx0 > 0"
        " AND CAST(n1 AS DOUBLE) * sxx1 - CAST(sx1 AS DOUBLE) * sx1 > 0"
    )
    drift = f"({_beta_expr(1)}) - ({_beta_expr(0)})"
    return f"""
    WITH {PRICES_CTE_SQL.strip().rstrip(',')},
    daily AS (
      SELECT symbol, CAST(timestamp AS DATE) AS day, current_price AS close
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY symbol, CAST(timestamp AS DATE)
          ORDER BY timestamp DESC, event_id DESC
        ) AS rn
        FROM prices WHERE current_price > 0
      ) WHERE rn = 1
    ),
    rets AS (
      SELECT symbol, day,
             GREATEST(CAST(-1000000 AS BIGINT), LEAST(CAST(1000000 AS BIGINT),
               CAST(floor((close - prev) * 1000000.0 / prev) AS BIGINT))) AS r
      FROM (
        SELECT symbol, day, close,
               lag(close) OVER (PARTITION BY symbol ORDER BY day) AS prev
        FROM daily
      ) WHERE prev IS NOT NULL
    ),
    market AS (
      SELECT day,
             CAST(floor(CAST(SUM(r) AS DOUBLE) / COUNT(*)) AS BIGINT) AS m
      FROM rets GROUP BY 1
    ),
    joined AS (
      SELECT symbol, r, m,
             CASE WHEN rn > n // 2 THEN 1 ELSE 0 END AS h
      FROM (
        SELECT rets.symbol, rets.r, market.m,
               row_number() OVER (PARTITION BY rets.symbol
                                  ORDER BY rets.day) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY rets.symbol) AS BIGINT) AS n
        FROM rets JOIN market USING (day)
      ) WHERE n >= {_BSTAB_MIN_DAYS}
    ),
    mom AS (
      SELECT symbol, {', '.join(half_cols)}
      FROM joined GROUP BY 1
    )
    SELECT symbol,
           CAST(floor(({_beta_expr(0)}) * 1000.0) AS BIGINT)
             AS beta_first_milli,
           CAST(floor(({_beta_expr(1)}) * 1000.0) AS BIGINT)
             AS beta_second_milli,
           abs(({_beta_expr(1)}) - ({_beta_expr(0)})) >= 0.5 AS beta_drift
    FROM mom
    WHERE {guard}
    ORDER BY symbol
    """


register("prices_beta_stability", q_prices_beta_stability, _beta_stability_sql())


# ---- overnight vs intraday return decomposition ------------------------------
# Batch 59.  The classic market-microstructure split: per symbol-day,
# the OPEN (first tick) and CLOSE (last tick) partition each day's
# move into the overnight gap (prev close -> open) and the intraday
# drift (open -> close) — on equities the overnight leg famously
# carries most of the premium, and this readout answers whether the
# 24/7 synthetic feed shows the same asymmetry.  First/last ticks key
# on event_id (ts-monotone in this corpus — the OHLC candles CTE's
# documented contract, reference.py OHLC_CANDLES_CTE_SQL); returns
# are the weekday-effect convention: floor ppm, clamped to +/-1e6.
# Plan: one (symbol, day) hash agg with arg_min/arg_max semantics,
# one symbol-key lag window, one symbol agg — O(symbols x days)
# intermediate, O(symbols) output; nothing corpus-sized shuffles
# twice.

def q_prices_overnight_intraday(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    prices = prices_from_events(spark, sf_dir).filter(F.col("current_price") > 0)
    daily = prices.groupBy(
        "symbol", F.to_date("timestamp").alias("day")
    ).agg(
        F.expr("min_by(current_price, event_id)").alias("open"),
        F.expr("max_by(current_price, event_id)").alias("close"),
    )
    wd = Window.partitionBy("symbol").orderBy("day")

    def _ppm(num, den):
        return F.greatest(
            F.lit(-1000000).cast("bigint"),
            F.least(
                F.lit(1000000).cast("bigint"),
                F.floor(num * 1000000.0 / den).cast("bigint"),
            ),
        )

    rets = (
        daily.withColumn("prev_close", F.lag("close").over(wd))
        .filter(F.col("prev_close").isNotNull())
        .select(
            "symbol",
            _ppm(F.col("open") - F.col("prev_close"), F.col("prev_close")).alias(
                "o_r"
            ),
            _ppm(F.col("close") - F.col("open"), F.col("open")).alias("i_r"),
        )
    )
    return (
        rets.groupBy("symbol")
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            F.floor(F.sum("o_r").cast("double") / F.count("*"))
            .cast("bigint")
            .alias("overnight_mean_ppm"),
            F.floor(F.sum("i_r").cast("double") / F.count("*"))
            .cast("bigint")
            .alias("intraday_mean_ppm"),
            F.sum(F.expr("CAST(abs(o_r) > abs(i_r) AS BIGINT)"))
            .cast("bigint")
            .alias("overnight_dominant_days"),
        )
        .orderBy("symbol")
    )


register(
    "prices_overnight_intraday",
    q_prices_overnight_intraday,
    f"""
    WITH {PRICES_CTE_SQL.strip().rstrip(',')},
    daily AS (
      SELECT symbol, CAST(timestamp AS DATE) AS day,
             arg_min(current_price, event_id) AS open,
             arg_max(current_price, event_id) AS close
      FROM prices WHERE current_price > 0
      GROUP BY 1, 2
    ),
    rets AS (
      SELECT symbol,
             GREATEST(CAST(-1000000 AS BIGINT), LEAST(CAST(1000000 AS BIGINT),
               CAST(floor((open - prev_close) * 1000000.0 / prev_close)
                    AS BIGINT))) AS o_r,
             GREATEST(CAST(-1000000 AS BIGINT), LEAST(CAST(1000000 AS BIGINT),
               CAST(floor((close - open) * 1000000.0 / open) AS BIGINT))) AS i_r
      FROM (
        SELECT symbol, day, open, close,
               lag(close) OVER (PARTITION BY symbol ORDER BY day) AS prev_close
        FROM daily
      ) WHERE prev_close IS NOT NULL
    )
    SELECT symbol,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(floor(CAST(SUM(o_r) AS DOUBLE) / COUNT(*)) AS BIGINT)
             AS overnight_mean_ppm,
           CAST(floor(CAST(SUM(i_r) AS DOUBLE) / COUNT(*)) AS BIGINT)
             AS intraday_mean_ppm,
           CAST(SUM(CASE WHEN abs(o_r) > abs(i_r) THEN 1 ELSE 0 END) AS BIGINT)
             AS overnight_dominant_days
    FROM rets GROUP BY symbol ORDER BY symbol
    """,
)


# ---- realized-volatility signature plot ---------------------------------------
# Batch 59.  Microstructure's sampling-frequency diagnostic: realized
# variance RV(dt) = sum r^2 over returns sampled every dt, plotted
# against dt.  For a semimartingale RV is flat in dt; microstructure
# noise inflates it at fine dt (bid-ask bounce) — the signature
# decides the sampling interval every downstream vol estimate should
# use.  Resampling takes the LAST tick per (scale, symbol, bucket)
# keyed on event_id (the OHLC ts-monotone contract); returns are
# clamped floor-ppm between consecutive NON-EMPTY buckets, and sums
# of squares stay exact BIGINTs (|r| <= 1e6 -> r^2 <= 1e12; 1e6
# observations of headroom).  Plan: ONE tick scan exploded x|scales|,
# one (scale, symbol, bucket) hash agg, one (scale, symbol) lag
# window, one final agg — O(symbols x |scales|) output.

_SIG_SCALES = (3600, 21600, 86400)  # 1h / 6h / 1d in seconds


def q_prices_vol_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    prices = prices_from_events(spark, sf_dir).filter(F.col("current_price") > 0)
    # unix_timestamp = whole seconds (floor for positive epochs);
    # dividing by scale >= 3600 makes it bucket-identical to the
    # oracle's fractional epoch(ts) / scale floor (behavior.py:579's
    # certified truncation argument)
    t = prices.select(
        "symbol",
        "current_price",
        "event_id",
        F.unix_timestamp(F.col("timestamp")).alias("es"),
        F.explode(
            F.array(*[F.lit(s).cast("bigint") for s in _SIG_SCALES])
        ).alias("scale"),
    )
    bucketed = t.groupBy(
        "scale",
        "symbol",
        F.floor(F.col("es") / F.col("scale")).alias("bucket"),
    ).agg(F.expr("max_by(current_price, event_id)").alias("close"))
    w = Window.partitionBy("scale", "symbol").orderBy("bucket")
    rets = (
        bucketed.withColumn("prev", F.lag("close").over(w))
        .filter(F.col("prev").isNotNull())
        .select(
            "scale",
            "symbol",
            F.greatest(
                F.lit(-1000000).cast("bigint"),
                F.least(
                    F.lit(1000000).cast("bigint"),
                    F.floor(
                        (F.col("close") - F.col("prev"))
                        * 1000000.0
                        / F.col("prev")
                    ).cast("bigint"),
                ),
            ).alias("r"),
        )
    )
    return (
        rets.groupBy("scale", "symbol")
        .agg(
            F.count("*").cast("bigint").alias("n_obs"),
            F.sum(F.expr("r * r")).cast("bigint").alias("rv_ppm2"),
            F.floor(
                F.sum(F.abs(F.col("r"))).cast("double") / F.count("*")
            )
            .cast("bigint")
            .alias("mean_abs_ppm"),
        )
        .orderBy("symbol", "scale")
    )


register(
    "prices_vol_signature",
    q_prices_vol_signature,
    f"""
    WITH {PRICES_CTE_SQL.strip().rstrip(',')},
    t AS (
      SELECT symbol, current_price, event_id, epoch(timestamp) AS es,
             unnest([{", ".join(f"CAST({s} AS BIGINT)" for s in _SIG_SCALES)}])
               AS scale
      FROM prices WHERE current_price > 0
    ),
    bucketed AS (
      SELECT scale, symbol, CAST(floor(es / scale) AS BIGINT) AS bucket,
             arg_max(current_price, event_id) AS close
      FROM t GROUP BY 1, 2, 3
    ),
    rets AS (
      SELECT scale, symbol,
             GREATEST(CAST(-1000000 AS BIGINT), LEAST(CAST(1000000 AS BIGINT),
               CAST(floor((close - prev) * 1000000.0 / prev) AS BIGINT))) AS r
      FROM (
        SELECT scale, symbol, close,
               lag(close) OVER (PARTITION BY scale, symbol ORDER BY bucket)
                 AS prev
        FROM bucketed
      ) WHERE prev IS NOT NULL
    )
    SELECT scale, symbol,
           CAST(COUNT(*) AS BIGINT) AS n_obs,
           CAST(SUM(r * r) AS BIGINT) AS rv_ppm2,
           CAST(floor(CAST(SUM(abs(r)) AS DOUBLE) / COUNT(*)) AS BIGINT)
             AS mean_abs_ppm
    FROM rets GROUP BY scale, symbol ORDER BY symbol, scale
    """,
)
