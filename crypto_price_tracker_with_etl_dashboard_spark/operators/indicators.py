"""Financial indicators over a (key, ts, price[, volume]) tick table.

The reference renders a raw price history chart (frontend/src/App.js
PriceChart) and stops there; any real consumer of the prices table
computes indicators on top.  These are the three standard ones a
dashboard adds first — VWAP, RSI, max drawdown — each expressed as
one shuffle on the series key.

Determinism discipline (operators/exact.py): every order-sensitive
double SUM goes through fixed-point DECIMAL(38,0) accumulation, so
results are bit-identical across engines, partition counts, and AQE
decisions.  Comparisons (running max, drawdown max) are
order-independent already.  All published formulas — nothing here is
engine-specific.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from crypto_price_tracker_with_etl_dashboard_spark.operators.exact import SCALE


def vwap(
    prices: DataFrame,
    key: str,
    ts_col: str,
    price: str,
    volume: str,
    bucket: str = "hour",
) -> DataFrame:
    """Volume-weighted average price per (key, time bucket):
    sum(p*v)/sum(v) over rows with positive volume.  Both sums
    accumulate in exact fixed-point, so the per-bucket VWAP is one
    double division of two engine-portable values.  ONE shuffle on
    (key, bucket) with map-side partials; output is O(keys*buckets).

    Precision note: quantizing at 1e-4 units makes the per-term error
    RELATIVE to the volume magnitude (up to 0.5/(v*1e4)); for feeds
    whose volumes can be << 1, raise ``operators/exact.py::SCALE`` —
    here the reference's volumes are O(1e4+) so the error is < 1e-8.
    """
    pv_fixed = F.round(F.col(price) * F.col(volume) * SCALE).cast("decimal(38,0)")
    v_fixed = F.round(F.col(volume) * SCALE).cast("decimal(38,0)")
    return (
        prices.filter(F.col(volume) > 0)
        .groupBy(F.col(key), F.date_trunc(bucket, F.col(ts_col)).alias("bucket"))
        .agg(
            F.count("*").alias("n_ticks"),
            F.sum(pv_fixed).alias("__pv"),
            F.sum(v_fixed).alias("__v"),
        )
        .select(
            key,
            "bucket",
            "n_ticks",
            F.round(F.col("__pv").cast("double") / F.col("__v"), 6).alias("vwap"),
        )
    )


def sql_vwap(
    table: str, key: str, ts_col: str, price: str, volume: str,
    bucket: str = "hour",
) -> str:
    """DuckDB mirror of :func:`vwap` (same fixed-point sums)."""
    return f"""
    SELECT {key}, date_trunc('{bucket}', {ts_col}) AS bucket,
           COUNT(*) AS n_ticks,
           round(CAST(SUM(CAST(round({price} * {volume} * {SCALE}) AS DECIMAL(38,0))) AS DOUBLE)
                 / CAST(SUM(CAST(round({volume} * {SCALE}) AS DECIMAL(38,0))) AS DOUBLE), 6) AS vwap
    FROM {table} WHERE {volume} > 0
    GROUP BY 1, 2
    """


def rsi(
    prices: DataFrame,
    key: str,
    order_by: list[str],
    price: str,
    period: int = 14,
) -> DataFrame:
    """Cutler's RSI (simple-moving-average variant — the recursive
    Wilder smoothing is deliberately avoided: an infinite-memory
    recurrence cannot be windowed and is not SQL-expressible):

        RSI = 100 - 100 / (1 + avgGain_period / avgLoss_period)

    over the last ``period`` price deltas per key.  Gains/losses
    accumulate in fixed-point inside the rows-frame window, so the
    frame sum is exact regardless of the engine's frame-evaluation
    order (DuckDB uses segment trees, Spark a running buffer — with
    plain doubles the two sum in different orders).  Zero-loss frames
    hit the standard conventions: all-gain -> 100, flat -> 50.

    ONE shuffle on the key; both the delta lag and the frame sums
    evaluate in a single per-key sort.  Emits only rows with a full
    ``period`` deltas behind them.
    """
    if period < 1:
        raise ValueError(f"rsi period must be >= 1, got {period}")
    order_cols = [F.col(c).asc() for c in order_by]
    w = Window.partitionBy(key).orderBy(*order_cols)
    delta = F.col(price) - F.lag(price).over(w)
    with_delta = prices.withColumn("__delta", delta).filter(
        F.col("__delta").isNotNull()
    )
    wd = Window.partitionBy(key).orderBy(*order_cols)
    frame = wd.rowsBetween(-(period - 1), Window.currentRow)
    gain_fixed = F.round(F.greatest(F.col("__delta"), F.lit(0.0)) * SCALE).cast(
        "decimal(38,0)"
    )
    loss_fixed = F.round(F.greatest(-F.col("__delta"), F.lit(0.0)) * SCALE).cast(
        "decimal(38,0)"
    )
    g = F.sum(gain_fixed).over(frame)
    l = F.sum(loss_fixed).over(frame)
    n = F.row_number().over(wd)
    avg_gain = g.cast("double") / SCALE / period
    avg_loss = l.cast("double") / SCALE / period
    rsi_col = (
        F.when((g == 0) & (l == 0), F.lit(50.0))
        .when(l == 0, F.lit(100.0))
        .otherwise(100.0 - 100.0 / (1.0 + avg_gain / avg_loss))
    )
    return (
        with_delta.select(
            key,
            *order_by,
            F.col(price).alias(price),
            n.alias("__rn"),
            F.round(rsi_col, 6).alias("rsi"),
        )
        .filter(F.col("__rn") >= period)
        .drop("__rn")
    )


def sql_rsi(
    table: str, key: str, order_by: list[str], price: str, period: int = 14,
    extra_ctes: str = "",
) -> str:
    """DuckDB mirror of :func:`rsi` (same fixed-point frame sums and
    zero-loss conventions).  ``extra_ctes`` (ending in a comma) lets
    the caller prepend source CTEs — SQL allows only one WITH."""
    ob = ", ".join(order_by)
    return f"""
    WITH {extra_ctes} d AS (
      SELECT {key}, {ob}, {price},
             {price} - lag({price}) OVER (PARTITION BY {key} ORDER BY {ob})
               AS __delta
      FROM {table}
    ),
    f AS (
      SELECT {key}, {ob}, {price},
             SUM(CAST(round(greatest(__delta, 0.0) * {SCALE}) AS DECIMAL(38,0)))
               OVER wf AS g,
             SUM(CAST(round(greatest(-__delta, 0.0) * {SCALE}) AS DECIMAL(38,0)))
               OVER wf AS l,
             row_number() OVER (PARTITION BY {key} ORDER BY {ob}) AS __rn
      FROM d WHERE __delta IS NOT NULL
      WINDOW wf AS (PARTITION BY {key} ORDER BY {ob}
                    ROWS BETWEEN {period - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT {key}, {ob}, {price},
           round(CASE WHEN g = 0 AND l = 0 THEN 50.0
                      WHEN l = 0 THEN 100.0
                      ELSE 100.0 - 100.0 /
                        (1.0 + (CAST(g AS DOUBLE) / {SCALE} / {period})
                             / (CAST(l AS DOUBLE) / {SCALE} / {period}))
                 END, 6) AS rsi
    FROM f WHERE __rn >= {period}
    """


def max_drawdown(
    prices: DataFrame,
    key: str,
    order_by: list[str],
    price: str,
) -> DataFrame:
    """Maximum peak-to-trough drawdown per key: the largest
    (runningMax - price) / runningMax over the ordered series.
    Running max and final max are pure comparisons (order-free), and
    the per-row ratio is the same one double expression on both
    engines — no summation anywhere, so no fixed-point needed.  ONE
    shuffle on the key; O(keys) output."""
    order_cols = [F.col(c).asc() for c in order_by]
    w = Window.partitionBy(key).orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    run_max = F.max(price).over(w)
    dd = (run_max - F.col(price)) / run_max
    return (
        prices.filter(F.col(price) > 0)
        .select(key, dd.alias("__dd"))
        .groupBy(key)
        .agg(
            F.count("*").alias("n_ticks"),
            F.round(F.max("__dd"), 6).alias("max_drawdown"),
        )
        .orderBy(key)
    )


def sql_max_drawdown(
    table: str, key: str, order_by: list[str], price: str,
    where: str = "TRUE",
    extra_ctes: str = "",
) -> str:
    """DuckDB mirror of :func:`max_drawdown`.  ``extra_ctes`` (ending
    in a comma) prepends source CTEs — SQL allows only one WITH."""
    ob = ", ".join(order_by)
    return f"""
    WITH {extra_ctes} pos AS (SELECT * FROM {table} WHERE {where} AND {price} > 0),
    r AS (
      SELECT {key},
             (MAX({price}) OVER w - {price}) / MAX({price}) OVER w AS __dd
      FROM pos
      WINDOW w AS (PARTITION BY {key} ORDER BY {ob}
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT {key}, COUNT(*) AS n_ticks, round(MAX(__dd), 6) AS max_drawdown
    FROM r GROUP BY {key} ORDER BY {key}
    """


_NO_KEY = object()  # "no current key": unlike None, equal to no key value


def _keyed_fold(
    rows: DataFrame,
    key: str,
    order: list[str],
    step: Callable,
    inputs: list[str],
    outs: list[str],
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Run ``step`` over each key's rows of ``rows`` in ``order``: the
    one execution shape of the certified integer recursions
    (:func:`ema_macd`, :func:`heikin_ashi`, :func:`holt_smooth`,
    :func:`atr`, :func:`garch_vol`).

    ``step(state, *inputs) -> (state, out)`` sees ``state=None`` on a
    key's first row; ``out`` is a tuple of ints named by ``outs``
    (returned as long columns after ``key`` and the ``keep``
    pass-through columns), or ``None`` to emit no row for that input.

    Execution shape: ONE shuffle (repartition on the key) + an
    in-partition sort on (key, order), then ``mapInPandas`` streams
    each partition's rows through the fold.  The sort makes every key
    one contiguous run of its partition (NULL keys included: they
    hash to one partition and sort first), so at most one key per
    Arrow batch continues from the previous batch; its state is
    carried across the boundary in a per-key dict.  "No current key"
    is a sentinel, not ``None``, so a NULL key's run continues too.
    This deliberately avoids ``groupBy().applyInPandas``: that path
    flushes one Arrow batch AND one Python call PER GROUP (~1-2 ms
    each — measured 1.7-2.8s of pure per-group overhead on 1,500
    single-symbol groups at sf0.1, identity function), while the
    mapInPandas stream pays per-10k-row-batch overhead instead
    (3.7s -> 0.9s for ema_macd).  Each key's fold is inherently
    sequential (operator semantics, not an implementation choice);
    keys process in parallel across partitions.
    """
    import numpy as np

    schema = StructType(
        [rows.schema[c] for c in (key, *keep)]
        + [StructField(c, LongType()) for c in outs]
    )

    def run(batches):
        state: dict = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cur, st = _NO_KEY, None
            idx, res = [], []
            cols = [pdf[c].tolist() for c in (key, *inputs)]
            for i, (k, *xs) in enumerate(zip(*cols)):
                if k != cur:
                    if cur is not _NO_KEY:
                        state[cur] = st
                    cur, st = k, state.get(k)
                st, out = step(st, *xs)
                if out is not None:
                    idx.append(i)
                    res.append(out)
            state[cur] = st
            frame = pdf[[key, *keep]].take(idx).reset_index(drop=True)
            vals = np.array(res, dtype=np.int64).reshape(len(res), len(outs))
            for j, c in enumerate(outs):
                frame[c] = vals[:, j]
            yield frame

    return (
        rows.repartition(key)
        .sortWithinPartitions(key, *order)
        .mapInPandas(run, schema=schema)
    )


def ema_step(fast: int, slow: int) -> Callable:
    """The EMA(fast)/EMA(slow) fold step of :func:`ema_macd`, shared
    with the streaming twin (streaming/indicators.py): state and
    output are ``(ef, es, rn)``, the two fixed-point EMAs and the
    1-based tick index after input ``xu``."""
    if not (1 <= fast < slow):
        raise ValueError(f"need 1 <= fast < slow, got {fast}, {slow}")
    hf, hs = (fast + 1) // 2, (slow + 1) // 2

    def step(st, xu):
        if st is None:
            st = (xu, xu, 1)
        else:
            ef, es, rn = st
            st = (
                (2 * xu + (fast - 1) * ef + hf) // (fast + 1),
                (2 * xu + (slow - 1) * es + hs) // (slow + 1),
                rn + 1,
            )
        return st, st

    return step


def ema_macd(
    prices: DataFrame,
    key: str,
    order_by: list[str],
    price: str,
    fast: int = 12,
    slow: int = 26,
) -> DataFrame:
    """EMA(fast), EMA(slow) and the MACD line per key over the
    ordered tick series — the recursive indicator RSI's docstring
    scopes out of window functions, expressed as a per-key sequential
    fold (:func:`_keyed_fold`) instead.

    Exactness discipline: the classic recurrence
    ``ema_t = a*x_t + (1-a)*ema_{t-1}`` with ``a = 2/(n+1)`` is
    rewritten over fixed-point units (operators/exact.py SCALE) as a
    PURE INTEGER recursion

        eu_t = (2*xu_t + (n-1)*eu_{t-1} + (n+1)//2) // (n+1)

    (round-half-up at every step, numerator provably nonnegative), so
    an engine re-deriving it — DuckDB via WITH RECURSIVE, this fold
    via Python arbitrary-precision ints — produces bit-identical
    BIGINT states with no accumulated float drift.  The only double
    ops are the final ``eu / SCALE`` divisions, identical on both.
    Output is O(rows): (key, rn, ema_fast, ema_slow,
    macd = ema_fast - ema_slow).

    Rows with NULL price are dropped (they have no position in the
    recurrence); ``rn`` is the 1-based tick index in ``order_by``
    order so the result is self-describing without the raw table.
    """
    step = ema_step(fast, slow)
    ord_names = [f"__o{i}" for i in range(len(order_by))]
    rows = prices.filter(F.col(price).isNotNull()).select(
        F.col(key).cast("string").alias(key),
        F.round(F.col(price) * SCALE).cast("bigint").alias("__xu"),
        *[F.col(c).alias(n) for c, n in zip(order_by, ord_names)],
    )
    folded = _keyed_fold(rows, key, ord_names, step, ["__xu"], ["__ef", "__es", "rn"])
    return folded.select(
        key,
        "rn",
        (F.col("__ef") / SCALE).alias("ema_fast"),
        (F.col("__es") / SCALE).alias("ema_slow"),
        ((F.col("__ef") - F.col("__es")) / SCALE).alias("macd"),
    )


def sql_ema_macd(
    table: str, key: str, order_by: list[str], price: str,
    fast: int = 12, slow: int = 26,
    extra_ctes: str = "",
) -> str:
    """DuckDB mirror of :func:`ema_macd`: the same integer recursion
    via WITH RECURSIVE (one frontier row per key per step), joined to
    the rn-indexed tick table.  ``extra_ctes`` (ending in a comma)
    prepends source CTEs — SQL allows only one WITH."""
    ob = ", ".join(order_by)
    return f"""
    WITH RECURSIVE {extra_ctes} seq AS (
      SELECT CAST({key} AS VARCHAR) AS {key},
             CAST(round({price} * {SCALE}) AS BIGINT) AS xu,
             row_number() OVER (PARTITION BY {key} ORDER BY {ob}) AS rn
      FROM {table} WHERE {price} IS NOT NULL
    ),
    ema AS (
      SELECT {key}, rn, xu AS ef, xu AS es FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.{key}, s.rn,
             (2*s.xu + {fast - 1}*e.ef + {(fast + 1) // 2}) // {fast + 1},
             (2*s.xu + {slow - 1}*e.es + {(slow + 1) // 2}) // {slow + 1}
      FROM seq s JOIN ema e ON s.{key} IS NOT DISTINCT FROM e.{key} AND s.rn = e.rn + 1
    )
    SELECT {key}, rn,
           CAST(ef AS DOUBLE) / {SCALE} AS ema_fast,
           CAST(es AS DOUBLE) / {SCALE} AS ema_slow,
           CAST(ef - es AS DOUBLE) / {SCALE} AS macd
    FROM ema
    """


def ols_trend(
    prices: DataFrame,
    key: str,
    order_by: list[str],
    price: str,
) -> DataFrame:
    """Per-key ordinary-least-squares price trend: slope, intercept
    and R^2 of price against the 1-based tick index — the "is this
    series drifting, and how tightly" summary a dashboard fits over
    each symbol's history.

    Closed-form OLS needs only five sums (n, Sx, Sy, Sxx, Sxy; Syy
    for R^2).  x is the dense tick index (integers by construction)
    and y the price in fixed-point units, so every sum accumulates
    EXACTLY in DECIMAL(38,0) — order/partitioning-invariant — and
    slope/intercept/R^2 follow as one fixed chain of double ops both
    engines evaluate identically.  ONE shuffle: the row_number window
    and the aggregate share the same key partitioning.  O(keys)
    output.  Keys with < 2 ticks or a degenerate variance (all x or
    all y equal) are dropped — the slope is undefined and both
    engines must drop them identically rather than diverge through
    0/0."""
    order_cols = [F.col(c).asc() for c in order_by]
    w = Window.partitionBy(key).orderBy(*order_cols)
    d = prices.filter(F.col(price).isNotNull()).select(
        F.col(key),
        F.row_number().over(w).alias("__x"),
        F.round(F.col(price) * SCALE).cast("bigint").alias("__yu"),
    )
    dec = "decimal(38,0)"
    agg = d.groupBy(key).agg(
        F.count("*").alias("n"),
        F.sum(F.col("__x").cast(dec)).alias("__sx"),
        F.sum(F.col("__yu").cast(dec)).alias("__sy"),
        F.sum((F.col("__x") * F.col("__x")).cast(dec)).alias("__sxx"),
        F.sum((F.col("__x") * F.col("__yu")).cast(dec)).alias("__sxy"),
        F.sum((F.col("__yu") * F.col("__yu")).cast(dec)).alias("__syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double") / SCALE
    sxx = F.col("__sxx").cast("double")
    sxy = F.col("__sxy").cast("double") / SCALE
    syy = F.col("__syy").cast("double") / (SCALE * SCALE)
    cov_n = n * sxy - sx * sy
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    slope = cov_n / var_x
    intercept = (sy - slope * sx) / n
    r2 = (cov_n * cov_n) / (var_x * var_y)
    return (
        agg.filter((F.col("n") >= 2))
        .select(
            key,
            "n",
            var_x.alias("__vx"),
            var_y.alias("__vy"),
            F.round(slope, 6).alias("slope"),
            F.round(intercept, 6).alias("intercept"),
            F.round(r2, 6).alias("r2"),
        )
        .filter((F.col("__vx") > 0) & (F.col("__vy") > 0))
        .drop("__vx", "__vy")
        .orderBy(key)
    )


def sql_ols_trend(
    table: str, key: str, order_by: list[str], price: str,
    extra_ctes: str = "",
) -> str:
    """DuckDB mirror of :func:`ols_trend` (same exact sums, same
    double chain).  ``extra_ctes`` (ending in a comma) prepends
    source CTEs."""
    ob = ", ".join(order_by)
    return f"""
    WITH {extra_ctes} d AS (
      SELECT {key},
             row_number() OVER (PARTITION BY {key} ORDER BY {ob}) AS x,
             CAST(round({price} * {SCALE}) AS BIGINT) AS yu
      FROM {table} WHERE {price} IS NOT NULL
    ),
    agg AS (
      SELECT {key}, COUNT(*) AS n,
             SUM(CAST(x AS DECIMAL(38,0))) AS sx,
             SUM(CAST(yu AS DECIMAL(38,0))) AS sy,
             SUM(CAST(x * x AS DECIMAL(38,0))) AS sxx,
             SUM(CAST(x * yu AS DECIMAL(38,0))) AS sxy,
             SUM(CAST(yu * yu AS DECIMAL(38,0))) AS syy
      FROM d GROUP BY {key}
    ),
    t AS (
      SELECT {key}, n,
             CAST(n AS DOUBLE) AS nd,
             CAST(sx AS DOUBLE) AS sxd,
             CAST(sy AS DOUBLE) / {SCALE} AS syd,
             CAST(sxx AS DOUBLE) AS sxxd,
             CAST(sxy AS DOUBLE) / {SCALE} AS sxyd,
             CAST(syy AS DOUBLE) / ({SCALE} * {SCALE}) AS syyd
      FROM agg WHERE n >= 2
    )
    SELECT {key}, n,
           round((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd), 6) AS slope,
           round((syd - ((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)) * sxd)
                 / nd, 6) AS intercept,
           round(((nd * sxyd - sxd * syd) * (nd * sxyd - sxd * syd))
                 / ((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd)), 6) AS r2
    FROM t
    WHERE (nd * sxxd - sxd * sxd) > 0 AND (nd * syyd - syd * syd) > 0
    ORDER BY {key}
    """


def bollinger(
    prices: DataFrame,
    key: str,
    order_by: list[str],
    price: str,
    period: int = 20,
    width: float = 2.0,
) -> DataFrame:
    """Bollinger bands per key: the ``period``-tick simple moving
    average bracketed by +/- ``width`` population standard deviations
    — the volatility envelope every price dashboard overlays after
    the raw chart and RSI (frontend/src/App.js PriceChart renders
    only the raw series; this is the first derived overlay).

    Exactness: the frame SUM and SUM-of-squares accumulate in
    fixed-point DECIMAL(38,0) (units of 1e-4), so mean and variance
    derive from two engine-portable integers via one fixed chain of
    double ops — ``var = (n*Ssq - S^2) / (n^2 * SCALE^2)`` — and
    IEEE sqrt/mul/div are correctly rounded, giving bit-identical
    bands on any engine, partitioning, or frame-evaluation order.

    ONE shuffle on the key; lag, frame sums, and row_number all
    evaluate in a single per-key sort.  Rows without a full
    ``period``-tick history are dropped (bands undefined).
    """
    if period < 2:
        raise ValueError(f"bollinger period must be >= 2, got {period}")
    order_cols = [F.col(c).asc() for c in order_by]
    wd = Window.partitionBy(key).orderBy(*order_cols)
    frame = wd.rowsBetween(-(period - 1), 0)
    pu = F.round(F.col(price) * SCALE).cast("decimal(38,0)")
    s = F.sum(pu).over(frame)
    s2 = F.sum(pu * pu).over(frame)
    n = F.row_number().over(wd)
    base = prices.filter(F.col(price).isNotNull()).select(
        F.col(key),
        *[F.col(c) for c in order_by],
        F.col(price).alias(price),
        n.alias("__rn"),
        s.alias("__s"),
        s2.alias("__s2"),
    )
    mean = F.col("__s").cast("double") / (float(period) * SCALE)
    var = (
        (float(period) * F.col("__s2").cast("double")
         - F.col("__s").cast("double") * F.col("__s").cast("double"))
        / (float(period) * float(period) * SCALE * SCALE)
    )
    # A constant frame can round to var = -0.0 or a tiny negative
    # float; clamp so sqrt never NaNs and both engines agree.
    std = F.sqrt(F.greatest(var, F.lit(0.0)))
    return (
        base.filter(F.col("__rn") >= period)
        .select(
            key,
            *order_by,
            price,
            F.round(mean, 6).alias("sma"),
            F.round(mean - width * std, 6).alias("band_lo"),
            F.round(mean + width * std, 6).alias("band_hi"),
        )
    )


def sql_bollinger(
    table: str, key: str, order_by: list[str], price: str,
    period: int = 20, width: float = 2.0, extra_ctes: str = "",
) -> str:
    """DuckDB mirror of :func:`bollinger` (same fixed-point frame
    sums, same double chain)."""
    ob = ", ".join(order_by)
    p = float(period)
    return f"""
    WITH {extra_ctes} f AS (
      SELECT {key}, {ob}, {price},
             row_number() OVER w AS rn,
             SUM(CAST(round({price} * {SCALE}) AS DECIMAL(38,0)))
               OVER (w ROWS BETWEEN {period - 1} PRECEDING AND CURRENT ROW) AS s,
             SUM(CAST(round({price} * {SCALE}) AS DECIMAL(38,0))
                 * CAST(round({price} * {SCALE}) AS DECIMAL(38,0)))
               OVER (w ROWS BETWEEN {period - 1} PRECEDING AND CURRENT ROW) AS s2
      FROM {table} WHERE {price} IS NOT NULL
      WINDOW w AS (PARTITION BY {key} ORDER BY {ob})
    )
    SELECT {key}, {ob}, {price},
           round(CAST(s AS DOUBLE) / ({p} * {SCALE}), 6) AS sma,
           round(CAST(s AS DOUBLE) / ({p} * {SCALE})
                 - {width} * sqrt(greatest(
                     ({p} * CAST(s2 AS DOUBLE)
                      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                     / ({p} * {p} * {SCALE} * {SCALE}), 0.0)), 6) AS band_lo,
           round(CAST(s AS DOUBLE) / ({p} * {SCALE})
                 + {width} * sqrt(greatest(
                     ({p} * CAST(s2 AS DOUBLE)
                      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                     / ({p} * {p} * {SCALE} * {SCALE}), 0.0)), 6) AS band_hi
    FROM f WHERE rn >= {period}
    """


def stochastic(
    prices: DataFrame,
    key: str,
    order_by: list[str],
    price: str,
    k_period: int = 14,
    d_period: int = 3,
) -> DataFrame:
    """Stochastic oscillator per key: %K locates the current price
    inside its ``k_period``-tick min/max envelope, %D is the
    ``d_period``-tick simple moving average of %K — the standard
    momentum pair quoted alongside RSI.

        %K = 100 * (p - min_k) / (max_k - min_k)      (flat frame -> 50)
        %D = SMA_d(%K)

    Exactness: the frame min/max are order-independent comparisons;
    %K is one fixed double chain over them, immediately quantized to
    an integer ppm value (round(%K * 1e6)) so the %D average is an
    EXACT integer sum divided once — no order-sensitive double
    accumulation anywhere.  ONE shuffle on the key: both window
    passes (the %K envelope and the %D average over fully-formed %K
    rows) share the same key partitioning, so Spark plans a single
    Exchange with two Sort/Window stages (and DuckDB two window
    CTEs).  Rows are emitted only once BOTH frames are full.
    """
    if k_period < 1 or d_period < 1:
        raise ValueError("stochastic periods must be >= 1")
    order_cols = [F.col(c).asc() for c in order_by]
    wd = Window.partitionBy(key).orderBy(*order_cols)
    frame = wd.rowsBetween(-(k_period - 1), 0)
    lo = F.min(price).over(frame)
    hi = F.max(price).over(frame)
    k_pct = F.when(hi == lo, F.lit(50.0)).otherwise(
        100.0 * (F.col(price) - lo) / (hi - lo)
    )
    staged = (
        prices.filter(F.col(price).isNotNull())
        .select(
            F.col(key),
            *[F.col(c) for c in order_by],
            F.col(price).alias(price),
            F.row_number().over(wd).alias("__rn"),
            F.round(k_pct * 1000000.0).cast("bigint").alias("__k_ppm"),
        )
        .filter(F.col("__rn") >= k_period)
    )
    dframe = wd.rowsBetween(-(d_period - 1), 0)
    return (
        staged.select(
            key,
            *order_by,
            price,
            F.col("__k_ppm"),
            F.row_number().over(wd).alias("__rn2"),
            F.sum("__k_ppm").over(dframe).alias("__d_sum"),
        )
        .filter(F.col("__rn2") >= d_period)
        .select(
            key,
            *order_by,
            price,
            F.round(F.col("__k_ppm") / 1000000.0, 6).alias("stoch_k"),
            F.round(F.col("__d_sum") / (float(d_period) * 1000000.0), 6).alias("stoch_d"),
        )
    )


def sql_stochastic(
    table: str, key: str, order_by: list[str], price: str,
    k_period: int = 14, d_period: int = 3, extra_ctes: str = "",
) -> str:
    """DuckDB mirror of :func:`stochastic` (same ppm quantization and
    two-pass window structure)."""
    ob = ", ".join(order_by)
    return f"""
    WITH {extra_ctes} k AS (
      SELECT {key}, {ob}, {price},
             row_number() OVER w AS rn,
             CAST(round(CASE
               WHEN max({price}) OVER (w ROWS BETWEEN {k_period - 1} PRECEDING AND CURRENT ROW)
                    = min({price}) OVER (w ROWS BETWEEN {k_period - 1} PRECEDING AND CURRENT ROW)
               THEN 50.0
               ELSE 100.0 * ({price}
                    - min({price}) OVER (w ROWS BETWEEN {k_period - 1} PRECEDING AND CURRENT ROW))
                 / (max({price}) OVER (w ROWS BETWEEN {k_period - 1} PRECEDING AND CURRENT ROW)
                    - min({price}) OVER (w ROWS BETWEEN {k_period - 1} PRECEDING AND CURRENT ROW))
             END * 1000000.0) AS BIGINT) AS k_ppm
      FROM {table} WHERE {price} IS NOT NULL
      WINDOW w AS (PARTITION BY {key} ORDER BY {ob})
    ),
    staged AS (SELECT * FROM k WHERE rn >= {k_period}),
    d AS (
      SELECT {key}, {ob}, {price}, k_ppm,
             row_number() OVER w2 AS rn2,
             SUM(k_ppm) OVER (w2 ROWS BETWEEN {d_period - 1} PRECEDING AND CURRENT ROW) AS d_sum
      FROM staged
      WINDOW w2 AS (PARTITION BY {key} ORDER BY {ob})
    )
    SELECT {key}, {ob}, {price},
           round(k_ppm / 1000000.0, 6) AS stoch_k,
           round(d_sum / (CAST({d_period} AS DOUBLE) * 1000000.0), 6) AS stoch_d
    FROM d WHERE rn2 >= {d_period}
    """


def pairwise_corr(
    prices: DataFrame,
    key: str,
    ts_col: str,
    price: str,
    tiebreak: str,
    top_n: int = 40,
    min_obs: int = 100,
    bucket: str = "hour",
) -> DataFrame:
    """Pearson correlation of per-``bucket`` returns between every pair of the
    ``top_n`` most-ticked keys — the co-movement matrix behind
    "which coins trade together" dashboards and portfolio-risk
    views.

    Pipeline: bucket close per (key, bucket) = last tick by (ts,
    tiebreak); simple return vs the previous bucket close, quantized
    to an integer ppb value (round(r * 1e9)); keys restricted to the
    ``top_n`` by tick count (tie-broken on the key so the cut is
    deterministic); returns self-joined on the bucket with ``s1 < s2``;
    the five Pearson sums accumulate in DECIMAL(38,0) and the
    correlation is one fixed double chain both engines evaluate
    identically.  Pairs need ``min_obs`` common buckets and positive
    variance on both legs.

    Scale: the tick-table work is ONE shuffle on the key (close
    window + per-key counts share the partitioning); everything
    after operates on the O(top_n * buckets) return table — the
    all-pairs join is quadratic only in the FIXED ``top_n``, never
    in the corpus, and the bucket-key join + (s1, s2) aggregate are
    shuffles of that tiny relation.  Output is O(top_n^2) rows.
    """
    if top_n < 2:
        raise ValueError(f"pairwise_corr top_n must be >= 2, got {top_n}")
    bk = F.date_trunc(bucket, F.col(ts_col)).alias("__bk")
    wd = Window.partitionBy(key, F.date_trunc(bucket, F.col(ts_col))).orderBy(
        F.col(ts_col).desc(), F.col(tiebreak).desc()
    )
    closes = (
        prices.filter(F.col(price).isNotNull())
        .select(
            F.col(key), bk, F.col(price),
            F.row_number().over(wd).alias("__rn"),
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    topn = (
        prices.filter(F.col(price).isNotNull())
        .groupBy(key)
        .agg(F.count("*").alias("__cnt"))
        .orderBy(F.col("__cnt").desc(), F.col(key).asc())
        .limit(top_n)
        .select(key)
    )
    wk = Window.partitionBy(key).orderBy(F.col("__bk").asc())
    rets = (
        closes.join(F.broadcast(topn), key)
        .select(
            F.col(key), F.col("__bk"),
            F.col(price).alias("__c"),
            F.lag(price).over(wk).alias("__p"),
        )
        .filter(F.col("__p").isNotNull() & (F.col("__p") != 0.0))
        .select(
            F.col(key), F.col("__bk"),
            F.round((F.col("__c") - F.col("__p")) / F.col("__p") * 1000000000.0)
            .cast("bigint").alias("__r"),
        )
        # O(top_n x buckets) rows; materialize so the pair self-join
        # does not re-run the tick scan + closes window twice
        .localCheckpoint(eager=True)
    )
    a = rets.select(
        F.col(key).alias("s1"), F.col("__bk"), F.col("__r").alias("__x")
    )
    b = rets.select(
        F.col(key).alias("s2"), F.col("__bk"), F.col("__r").alias("__y")
    )
    dec = "decimal(38,0)"
    agg = (
        a.join(b, "__bk")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(
            F.count("*").alias("n_obs"),
            F.sum(F.col("__x").cast(dec)).alias("__sx"),
            F.sum(F.col("__y").cast(dec)).alias("__sy"),
            # quantized returns can reach ~1e13 ppb on near-zero
            # closes; promote to decimal BEFORE the product so the
            # cross terms never overflow int64
            F.sum(F.col("__x").cast(dec) * F.col("__y").cast(dec)).alias("__sxy"),
            F.sum(F.col("__x").cast(dec) * F.col("__x").cast(dec)).alias("__sxx"),
            F.sum(F.col("__y").cast(dec) * F.col("__y").cast(dec)).alias("__syy"),
        )
    )
    n = F.col("n_obs").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxy = F.col("__sxy").cast("double")
    sxx = F.col("__sxx").cast("double")
    syy = F.col("__syy").cast("double")
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    corr = (n * sxy - sx * sy) / F.sqrt(var_x * var_y)
    return (
        agg.filter(F.col("n_obs") >= min_obs)
        .select(
            "s1", "s2", "n_obs",
            var_x.alias("__vx"), var_y.alias("__vy"),
            F.round(corr, 6).alias("corr"),
        )
        .filter((F.col("__vx") > 0) & (F.col("__vy") > 0))
        .drop("__vx", "__vy")
        .orderBy("s1", "s2")
    )


def sql_pairwise_corr(
    table: str, key: str, ts_col: str, price: str, tiebreak: str,
    top_n: int = 40, min_obs: int = 100, bucket: str = "hour",
    extra_ctes: str = "",
) -> str:
    """DuckDB mirror of :func:`pairwise_corr` (same ppb quantization,
    exact sums, and double chain)."""
    return f"""
    WITH {extra_ctes} closes AS (
      SELECT {key}, bk, {price} FROM (
        SELECT {key}, date_trunc('{bucket}', {ts_col}) AS bk, {price},
               row_number() OVER (
                 PARTITION BY {key}, date_trunc('{bucket}', {ts_col})
                 ORDER BY {ts_col} DESC, {tiebreak} DESC) AS rn
        FROM {table} WHERE {price} IS NOT NULL
      ) WHERE rn = 1
    ),
    topn AS (
      SELECT {key} FROM {table} WHERE {price} IS NOT NULL
      GROUP BY {key} ORDER BY COUNT(*) DESC, {key} ASC LIMIT {top_n}
    ),
    rets AS (
      SELECT {key}, bk,
             CAST(round((c - p) / p * 1000000000.0) AS BIGINT) AS r
      FROM (
        SELECT c.{key}, c.bk, c.{price} AS c,
               lag(c.{price}) OVER (PARTITION BY c.{key} ORDER BY c.bk ASC) AS p
        FROM closes c JOIN topn USING ({key})
      ) WHERE p IS NOT NULL AND p <> 0.0
    ),
    agg AS (
      SELECT a.{key} AS s1, b.{key} AS s2, COUNT(*) AS n_obs,
             SUM(CAST(a.r AS DECIMAL(38,0))) AS sx,
             SUM(CAST(b.r AS DECIMAL(38,0))) AS sy,
             SUM(CAST(a.r AS DECIMAL(38,0)) * CAST(b.r AS DECIMAL(38,0))) AS sxy,
             SUM(CAST(a.r AS DECIMAL(38,0)) * CAST(a.r AS DECIMAL(38,0))) AS sxx,
             SUM(CAST(b.r AS DECIMAL(38,0)) * CAST(b.r AS DECIMAL(38,0))) AS syy
      FROM rets a JOIN rets b ON a.bk = b.bk AND a.{key} < b.{key}
      GROUP BY 1, 2
    )
    SELECT s1, s2, n_obs,
           round((CAST(n_obs AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((CAST(n_obs AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n_obs AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS corr
    FROM agg
    WHERE n_obs >= {min_obs}
      AND (CAST(n_obs AS DOUBLE) * CAST(sxx AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
      AND (CAST(n_obs AS DOUBLE) * CAST(syy AS DOUBLE)
           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
    ORDER BY s1, s2
    """


def twap(
    prices: DataFrame,
    key: str,
    ts_col: str,
    price: str,
    tiebreak: str,
    bucket: str = "day",
) -> DataFrame:
    """Time-weighted average price per (key, bucket): each tick's
    price is weighted by the whole seconds it remained the live quote
    — until the next tick, or the bucket's end for the last tick.
    The duration-weighted mean VWAP becomes when the weight is
    holding TIME instead of traded volume; the pair is the standard
    execution-quality benchmark set.

    Exactness: durations are integer seconds (epoch floor — Spark's
    ``unix_timestamp`` truncation == the oracle's ``epoch_us //
    1e6``), prices quantize to fixed point, and the weighted sum
    accumulates in DECIMAL(38,0), so the TWAP is one double division
    of two engine-portable integers.  Sub-second repeat ticks get
    weight 0 (they never held the quote for a full second); a bucket
    whose every tick collapses to weight 0 is dropped rather than
    divided by zero.

    ONE shuffle on (key, bucket): the lead window and the aggregate
    share the partitioning.  O(keys x buckets) output.
    """
    sec = F.unix_timestamp(F.col(ts_col))
    bk = F.date_trunc(bucket, F.col(ts_col))
    w = Window.partitionBy(key, bk).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak).asc()
    )
    bucket_end = F.unix_timestamp(
        F.date_trunc(bucket, F.col(ts_col)) + F.expr(f"INTERVAL 1 {bucket}")
    )
    dur = F.coalesce(F.lead(sec).over(w), bucket_end) - sec
    d = prices.filter(F.col(price).isNotNull()).select(
        F.col(key),
        bk.alias("bucket"),
        F.round(F.col(price) * SCALE).cast("decimal(38,0)").alias("__p"),
        dur.alias("__w"),
    )
    agg = d.groupBy(key, "bucket").agg(
        F.count("*").alias("n_ticks"),
        F.sum(F.col("__p") * F.col("__w").cast("decimal(38,0)")).alias("__pw"),
        F.sum(F.col("__w").cast("decimal(38,0)")).alias("__tw"),
    )
    return (
        agg.filter(F.col("__tw") > 0)
        .select(
            key,
            "bucket",
            "n_ticks",
            F.col("__tw").cast("bigint").alias("covered_sec"),
            F.round(
                F.col("__pw").cast("double")
                / F.col("__tw").cast("double") / SCALE,
                6,
            ).alias("twap"),
        )
    )


def sql_twap(
    table: str, key: str, ts_col: str, price: str, tiebreak: str,
    bucket: str = "day", extra_ctes: str = "",
) -> str:
    """DuckDB mirror of :func:`twap` (same integer-second weights and
    fixed-point weighted sum)."""
    return f"""
    WITH {extra_ctes} d AS (
      SELECT {key},
             date_trunc('{bucket}', {ts_col}) AS bucket,
             CAST(round({price} * {SCALE}) AS DECIMAL(38,0)) AS p,
             COALESCE(
               lead(epoch_us({ts_col}) // 1000000) OVER (
                 PARTITION BY {key}, date_trunc('{bucket}', {ts_col})
                 ORDER BY {ts_col} ASC, {tiebreak} ASC),
               epoch_us(date_trunc('{bucket}', {ts_col})
                        + INTERVAL 1 {bucket}) // 1000000
             ) - epoch_us({ts_col}) // 1000000 AS w
      FROM {table} WHERE {price} IS NOT NULL
    ),
    agg AS (
      SELECT {key}, bucket, COUNT(*) AS n_ticks,
             SUM(p * CAST(w AS DECIMAL(38,0))) AS pw,
             SUM(CAST(w AS DECIMAL(38,0))) AS tw
      FROM d GROUP BY 1, 2
    )
    SELECT {key}, bucket, n_ticks,
           CAST(tw AS BIGINT) AS covered_sec,
           round(CAST(pw AS DOUBLE) / CAST(tw AS DOUBLE) / {SCALE}, 6) AS twap
    FROM agg WHERE tw > 0
    """


def heikin_ashi(
    candles: DataFrame,
    key: str,
    order_col: str,
) -> DataFrame:
    """Heikin-Ashi smoothed candles from plain OHLC candles — the
    chart variant that filters noise by making each candle's open
    the midpoint of the PREVIOUS smoothed candle (an inherently
    recursive definition, like EMA):

        ha_close_t = (o_t + h_t + l_t + c_t) / 4
        ha_open_t  = (ha_open_{t-1} + ha_close_{t-1}) / 2   (seed: (o_1+c_1)/2)
        ha_high_t  = max(h_t, ha_open_t, ha_close_t)
        ha_low_t   = min(l_t, ha_open_t, ha_close_t)

    Same exactness discipline as :func:`ema_macd`: the recursion runs
    over fixed-point BIGINTs with round-half-up integer division
    ((s + 2) // 4, (s + 1) // 2 — floor division, matching DuckDB's
    `//`), so a WITH RECURSIVE oracle re-derives every candle
    bit-for-bit; the only doubles are the final /SCALE renders.
    """

    def step(st, o, h, l, c):
        hc = (o + h + l + c + 2) // 4
        if st is None:
            ho, rn = (o + c + 1) // 2, 1
        else:
            ho, rn = (st[0] + st[1] + 1) // 2, st[2] + 1
        return (ho, hc, rn), (rn, ho, max(h, ho, hc), min(l, ho, hc), hc)

    # a window whose ticks all carry NULL price yields NULL OHLC
    # cells; they have no place in the recursion (and would NaN the
    # int64 fold) — drop them, as the SQL twin does
    rows = candles.filter(
        F.col("open").isNotNull() & F.col("high").isNotNull()
        & F.col("low").isNotNull() & F.col("close").isNotNull()
    ).select(
        F.col(key).cast("string").alias(key),
        F.col(order_col),
        *[
            F.round(F.col(c) * SCALE).cast("bigint").alias(f"__{c}")
            for c in ("open", "high", "low", "close")
        ],
    )
    outs = ["rn", "__ho", "__hh", "__hl", "__hc"]
    folded = _keyed_fold(
        rows, key, [order_col], step,
        ["__open", "__high", "__low", "__close"], outs, keep=(order_col,),
    )
    return folded.select(
        key,
        order_col,
        "rn",
        *[
            (F.col(u) / SCALE).alias(name)
            for u, name in zip(outs[1:], ("ha_open", "ha_high", "ha_low", "ha_close"))
        ],
    )


def sql_heikin_ashi(candles_cte: str, key: str, order_col: str) -> str:
    """DuckDB mirror of :func:`heikin_ashi`: WITH RECURSIVE frontier
    join over the rn-indexed candle table.  ``candles_cte`` must end
    with a ``candles`` relation carrying (key, order_col, open,
    high, low, close)."""
    return f"""
    WITH RECURSIVE {candles_cte.rstrip().rstrip(',')},
    seq AS (
      SELECT CAST({key} AS VARCHAR) AS {key}, {order_col},
             CAST(round(open * {SCALE}) AS BIGINT) AS ou,
             CAST(round(high * {SCALE}) AS BIGINT) AS hu,
             CAST(round(low * {SCALE}) AS BIGINT) AS lu,
             CAST(round(close * {SCALE}) AS BIGINT) AS cu,
             row_number() OVER (PARTITION BY {key} ORDER BY {order_col}) AS rn
      FROM candles
      WHERE open IS NOT NULL AND high IS NOT NULL
        AND low IS NOT NULL AND close IS NOT NULL
    ),
    ha AS (
      SELECT {key}, {order_col}, rn,
             (ou + cu + 1) // 2 AS ho,
             (ou + hu + lu + cu + 2) // 4 AS hc,
             hu, lu
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.{key}, s.{order_col}, s.rn,
             (h.ho + h.hc + 1) // 2,
             (s.ou + s.hu + s.lu + s.cu + 2) // 4,
             s.hu, s.lu
      FROM seq s JOIN ha h ON s.{key} IS NOT DISTINCT FROM h.{key} AND s.rn = h.rn + 1
    )
    SELECT {key}, {order_col}, rn,
           CAST(ho AS DOUBLE) / {SCALE} AS ha_open,
           CAST(greatest(hu, ho, hc) AS DOUBLE) / {SCALE} AS ha_high,
           CAST(least(lu, ho, hc) AS DOUBLE) / {SCALE} AS ha_low,
           CAST(hc AS DOUBLE) / {SCALE} AS ha_close
    FROM ha
    """


def _tdiv(num: int, den: int) -> int:
    """Truncating integer division (DuckDB ``//`` semantics: toward
    zero on negatives, where Python ``//`` floors)."""
    return num // den if num >= 0 else -((-num) // den)


def holt_smooth(
    series: DataFrame,
    key: str,
    order_col: str,
    value: str,
    alpha_inv: int = 4,
    gamma_inv: int = 4,
) -> DataFrame:
    """Holt double exponential smoothing per key — level + trend
    state over an ordered series, the one-step forecaster layered on
    counts/metrics time series:

        l_t = x_t/a' + (a'-1)(l_{t-1} + b_{t-1})/a'    (a = 1/alpha_inv)
        b_t = (l_t - l_{t-1})/g' + (g'-1) b_{t-1}/g'   (g = 1/gamma_inv)
        forecast_{t+1} = l_t + b_t

    Third member of the certified integer-recursion family (EMA/MACD,
    Heikin-Ashi): state lives in fixed-point BIGINTs, every step is
    a round-half-up integer division.  The trend numerator can go
    NEGATIVE, where Python ``//`` floors but DuckDB ``//`` truncates
    toward zero — the fold therefore uses explicit truncating
    division (``-((-n) // d)`` for negative numerators) so the WITH
    RECURSIVE oracle re-derives every (level, trend) bit-for-bit.
    Seed: l_1 = x_1, b_1 = 0.
    """
    if alpha_inv < 2 or gamma_inv < 2:
        raise ValueError("alpha_inv and gamma_inv must be >= 2")
    a, g = alpha_inv, gamma_inv
    ha, hg = a // 2, g // 2

    def step(st, x):
        if st is None:
            st = (x, 0, 1)
        else:
            l, b, rn = st
            l_new = _tdiv(x + (a - 1) * (l + b) + ha, a)
            st = (l_new, _tdiv((l_new - l) + (g - 1) * b + hg, g), rn + 1)
        return st, st

    rows = series.filter(F.col(value).isNotNull()).select(
        F.col(key).cast("string").alias(key),
        F.col(order_col),
        F.round(F.col(value) * SCALE).cast("bigint").alias("__xu"),
    )
    folded = _keyed_fold(
        rows, key, [order_col], step, ["__xu"], ["__l", "__b", "rn"],
        keep=(order_col,),
    )
    return folded.select(
        key,
        order_col,
        "rn",
        (F.col("__l") / SCALE).alias("level"),
        (F.col("__b") / SCALE).alias("trend"),
        ((F.col("__l") + F.col("__b")) / SCALE).alias("forecast_next"),
    )


def sql_holt_smooth(
    series_cte: str, key: str, order_col: str,
    alpha_inv: int = 4, gamma_inv: int = 4,
) -> str:
    """DuckDB mirror of :func:`holt_smooth` (WITH RECURSIVE frontier
    join; ``series_cte`` must end with a ``series`` relation carrying
    (key, order_col, value))."""
    a, g = alpha_inv, gamma_inv
    ha, hg = a // 2, g // 2
    return f"""
    WITH RECURSIVE {series_cte.rstrip().rstrip(',')},
    seq AS (
      SELECT CAST({key} AS VARCHAR) AS {key}, {order_col},
             CAST(round(value * {SCALE}) AS BIGINT) AS xu,
             row_number() OVER (PARTITION BY {key} ORDER BY {order_col}) AS rn
      FROM series WHERE value IS NOT NULL
    ),
    holt AS (
      SELECT {key}, {order_col}, rn, xu AS l, CAST(0 AS BIGINT) AS b
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.{key}, s.{order_col}, s.rn,
             (s.xu + {a - 1} * (h.l + h.b) + {ha}) // {a},
             (((s.xu + {a - 1} * (h.l + h.b) + {ha}) // {a}) - h.l
              + {g - 1} * h.b + {hg}) // {g}
      FROM seq s JOIN holt h ON s.{key} IS NOT DISTINCT FROM h.{key} AND s.rn = h.rn + 1
    )
    SELECT {key}, {order_col}, rn,
           CAST(l AS DOUBLE) / {SCALE} AS level,
           CAST(b AS DOUBLE) / {SCALE} AS trend,
           CAST(l + b AS DOUBLE) / {SCALE} AS forecast_next
    FROM holt
    """


def lead_lag_corr(
    prices: DataFrame,
    key: str,
    ts_col: str,
    price: str,
    tiebreak: str,
    top_n: int = 8,
    lags: tuple[int, ...] = (-2, -1, 0, 1, 2),
    min_obs: int = 10,
    bucket: str = "day",
) -> DataFrame:
    """Lead-lag Pearson correlation: for every pair of the ``top_n``
    most-ticked keys and every lag L in ``lags``, the correlation of
    s1's per-``bucket`` return at time t with s2's return at
    t + L buckets — the "does BTC lead ETH by a day?" readout that
    :func:`pairwise_corr` (the L = 0 slice of this operator) cannot
    answer.

    Same exactness contract as pairwise_corr: ppb-quantized returns,
    DECIMAL(38,0) Pearson sums, one fixed double chain.  The lag
    shift is a timestamp add on the O(top_n * buckets) return table
    BEFORE the self-join, so the plan is the pairwise one plus a
    |lags|-way map-side expansion of the tiny relation — still one
    corpus shuffle total; output is O(top_n^2 * |lags|) rows.
    """
    if top_n < 2:
        raise ValueError(f"lead_lag_corr top_n must be >= 2, got {top_n}")
    unit = bucket.upper()
    bk = F.date_trunc(bucket, F.col(ts_col)).alias("__bk")
    wd = Window.partitionBy(key, F.date_trunc(bucket, F.col(ts_col))).orderBy(
        F.col(ts_col).desc(), F.col(tiebreak).desc()
    )
    closes = (
        prices.filter(F.col(price).isNotNull())
        .select(
            F.col(key), bk, F.col(price),
            F.row_number().over(wd).alias("__rn"),
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    topn = (
        prices.filter(F.col(price).isNotNull())
        .groupBy(key)
        .agg(F.count("*").alias("__cnt"))
        .orderBy(F.col("__cnt").desc(), F.col(key).asc())
        .limit(top_n)
        .select(key)
    )
    wk = Window.partitionBy(key).orderBy(F.col("__bk").asc())
    rets = (
        closes.join(F.broadcast(topn), key)
        .select(
            F.col(key), F.col("__bk"),
            F.col(price).alias("__c"),
            F.lag(price).over(wk).alias("__p"),
        )
        .filter(F.col("__p").isNotNull() & (F.col("__p") != 0.0))
        .select(
            F.col(key), F.col("__bk"),
            F.round((F.col("__c") - F.col("__p")) / F.col("__p") * 1000000000.0)
            .cast("bigint").alias("__r"),
        )
        .localCheckpoint(eager=True)
    )
    a = rets.select(
        F.col(key).alias("s1"), F.col("__bk"), F.col("__r").alias("__x")
    )
    # leg b expands |lags|-fold map-side; its bucket is pulled BACK by
    # the lag so the equi-join on __bk pairs x_t with y_{t+L}
    b = rets.select(
        F.col(key).alias("s2"),
        F.explode(F.array(*[F.lit(l) for l in lags])).alias("lag"),
        F.col("__bk").alias("__bko"),
        F.col("__r").alias("__y"),
    ).select(
        "s2", "lag", "__y",
        F.expr(f"timestampadd({unit}, -lag, __bko)").alias("__bk"),
    )
    dec = "decimal(38,0)"
    agg = (
        a.join(b, "__bk")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2", "lag")
        .agg(
            F.count("*").alias("n_obs"),
            F.sum(F.col("__x").cast(dec)).alias("__sx"),
            F.sum(F.col("__y").cast(dec)).alias("__sy"),
            F.sum(F.col("__x").cast(dec) * F.col("__y").cast(dec)).alias("__sxy"),
            F.sum(F.col("__x").cast(dec) * F.col("__x").cast(dec)).alias("__sxx"),
            F.sum(F.col("__y").cast(dec) * F.col("__y").cast(dec)).alias("__syy"),
        )
    )
    n = F.col("n_obs").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxy = F.col("__sxy").cast("double")
    sxx = F.col("__sxx").cast("double")
    syy = F.col("__syy").cast("double")
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    corr = (n * sxy - sx * sy) / F.sqrt(var_x * var_y)
    return (
        agg.filter(F.col("n_obs") >= min_obs)
        .select(
            "s1", "s2", "lag", "n_obs",
            var_x.alias("__vx"), var_y.alias("__vy"),
            F.round(corr, 6).alias("corr"),
        )
        .filter((F.col("__vx") > 0) & (F.col("__vy") > 0))
        .drop("__vx", "__vy")
        .orderBy("s1", "s2", "lag")
    )


def sql_lead_lag_corr(
    table: str, key: str, ts_col: str, price: str, tiebreak: str,
    top_n: int = 8, lags: tuple[int, ...] = (-2, -1, 0, 1, 2),
    min_obs: int = 10, bucket: str = "day",
    extra_ctes: str = "",
) -> str:
    """DuckDB mirror of :func:`lead_lag_corr` (the lag join spells
    the identical alignment as ``b.bk = a.bk + L * INTERVAL``)."""
    lag_values = ", ".join(f"({l})" for l in lags)
    return f"""
    WITH {extra_ctes} closes AS (
      SELECT {key}, bk, {price} FROM (
        SELECT {key}, date_trunc('{bucket}', {ts_col}) AS bk, {price},
               row_number() OVER (
                 PARTITION BY {key}, date_trunc('{bucket}', {ts_col})
                 ORDER BY {ts_col} DESC, {tiebreak} DESC) AS rn
        FROM {table} WHERE {price} IS NOT NULL
      ) WHERE rn = 1
    ),
    topn AS (
      SELECT {key} FROM {table} WHERE {price} IS NOT NULL
      GROUP BY {key} ORDER BY COUNT(*) DESC, {key} ASC LIMIT {top_n}
    ),
    rets AS (
      SELECT {key}, bk,
             CAST(round((c - p) / p * 1000000000.0) AS BIGINT) AS r
      FROM (
        SELECT c.{key}, c.bk, c.{price} AS c,
               lag(c.{price}) OVER (PARTITION BY c.{key} ORDER BY c.bk ASC) AS p
        FROM closes c JOIN topn USING ({key})
      ) WHERE p IS NOT NULL AND p <> 0.0
    ),
    lag_dim AS (SELECT * FROM (VALUES {lag_values}) AS t(lag)),
    agg AS (
      SELECT a.{key} AS s1, b.{key} AS s2, l.lag AS lag, COUNT(*) AS n_obs,
             SUM(CAST(a.r AS DECIMAL(38,0))) AS sx,
             SUM(CAST(b.r AS DECIMAL(38,0))) AS sy,
             SUM(CAST(a.r AS DECIMAL(38,0)) * CAST(b.r AS DECIMAL(38,0))) AS sxy,
             SUM(CAST(a.r AS DECIMAL(38,0)) * CAST(a.r AS DECIMAL(38,0))) AS sxx,
             SUM(CAST(b.r AS DECIMAL(38,0)) * CAST(b.r AS DECIMAL(38,0))) AS syy
      FROM rets a
      CROSS JOIN lag_dim l
      JOIN rets b ON b.bk = a.bk + l.lag * INTERVAL 1 {bucket}
                 AND a.{key} < b.{key}
      GROUP BY 1, 2, 3
    )
    SELECT s1, s2, lag, n_obs,
           round((CAST(n_obs AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((CAST(n_obs AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n_obs AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS corr
    FROM agg
    WHERE n_obs >= {min_obs}
      AND (CAST(n_obs AS DOUBLE) * CAST(sxx AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
      AND (CAST(n_obs AS DOUBLE) * CAST(syy AS DOUBLE)
           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
    ORDER BY s1, s2, lag
    """


def sharpe_ratio(
    prices: DataFrame,
    key: str,
    ts_col: str,
    price: str,
    tiebreak: str,
    min_obs: int = 10,
    periods_per_year: int = 365,
) -> DataFrame:
    """Annualized Sharpe ratio (zero risk-free rate) per key from
    daily closes: mean(r) / sd(r) * sqrt(periods_per_year) — the
    risk-adjusted-return scalar the drawdown/volatility family
    reports feed into.

    Same exactness contract as pairwise_corr: closes by last tick per
    (key, day); ppb-quantized simple returns; n / sum / sum-of-squares
    accumulate in DECIMAL(38,0); mean, sample sd and the final ratio
    are one fixed double chain.  One shuffle on the key (closes
    window + the per-key aggregate share it); output is O(keys).
    """
    bk = F.date_trunc("day", F.col(ts_col)).alias("__bk")
    wd = Window.partitionBy(key, F.date_trunc("day", F.col(ts_col))).orderBy(
        F.col(ts_col).desc(), F.col(tiebreak).desc()
    )
    closes = (
        prices.filter(F.col(price).isNotNull())
        .select(F.col(key), bk, F.col(price), F.row_number().over(wd).alias("__rn"))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    wk = Window.partitionBy(key).orderBy(F.col("__bk").asc())
    rets = (
        closes.select(
            F.col(key), F.col(price).alias("__c"),
            F.lag(price).over(wk).alias("__p"),
        )
        .filter(F.col("__p").isNotNull() & (F.col("__p") != 0.0))
        .select(
            F.col(key),
            F.round((F.col("__c") - F.col("__p")) / F.col("__p") * 1000000000.0)
            .cast("bigint").alias("__r"),
        )
    )
    dec = "decimal(38,0)"
    agg = rets.groupBy(key).agg(
        F.count("*").alias("n_obs"),
        F.sum(F.col("__r").cast(dec)).alias("__s"),
        F.sum(F.col("__r").cast(dec) * F.col("__r").cast(dec)).alias("__sq"),
    )
    n = F.col("n_obs").cast("double")
    s = F.col("__s").cast("double")
    sq = F.col("__sq").cast("double")
    var = (n * sq - s * s) / (n * (n - 1.0))
    sharpe = (s / n) / F.sqrt(var) * F.sqrt(F.lit(float(periods_per_year)))
    return (
        agg.filter(F.col("n_obs") >= min_obs)
        .select(
            F.col(key), "n_obs",
            var.alias("__v"),
            F.round(sharpe, 6).alias("sharpe_annualized"),
        )
        .filter(F.col("__v") > 0)
        .drop("__v")
        .orderBy(key)
    )


def sql_sharpe_ratio(
    table: str, key: str, ts_col: str, price: str, tiebreak: str,
    min_obs: int = 10, periods_per_year: int = 365,
    extra_ctes: str = "",
) -> str:
    """DuckDB mirror of :func:`sharpe_ratio` (same quantization,
    exact sums, identical double chain)."""
    return f"""
    WITH {extra_ctes} closes AS (
      SELECT {key}, bk, {price} FROM (
        SELECT {key}, date_trunc('day', {ts_col}) AS bk, {price},
               row_number() OVER (
                 PARTITION BY {key}, date_trunc('day', {ts_col})
                 ORDER BY {ts_col} DESC, {tiebreak} DESC) AS rn
        FROM {table} WHERE {price} IS NOT NULL
      ) WHERE rn = 1
    ),
    rets AS (
      SELECT {key},
             CAST(round((c - p) / p * 1000000000.0) AS BIGINT) AS r
      FROM (
        SELECT {key}, bk, {price} AS c,
               lag({price}) OVER (PARTITION BY {key} ORDER BY bk ASC) AS p
        FROM closes
      ) WHERE p IS NOT NULL AND p <> 0.0
    ),
    agg AS (
      SELECT {key}, COUNT(*) AS n_obs,
             SUM(CAST(r AS DECIMAL(38,0))) AS s,
             SUM(CAST(r AS DECIMAL(38,0)) * CAST(r AS DECIMAL(38,0))) AS sq
      FROM rets GROUP BY 1
    )
    SELECT {key}, n_obs,
           round((CAST(s AS DOUBLE) / CAST(n_obs AS DOUBLE))
                 / sqrt((CAST(n_obs AS DOUBLE) * CAST(sq AS DOUBLE)
                         - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                        / (CAST(n_obs AS DOUBLE) * (CAST(n_obs AS DOUBLE) - 1.0)))
                 * sqrt({float(periods_per_year)}), 6) AS sharpe_annualized
    FROM agg
    WHERE n_obs >= {min_obs}
      AND (CAST(n_obs AS DOUBLE) * CAST(sq AS DOUBLE)
           - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
          / (CAST(n_obs AS DOUBLE) * (CAST(n_obs AS DOUBLE) - 1.0)) > 0
    ORDER BY {key}
    """


def atr(
    candles: DataFrame,
    key: str,
    order_col: str,
    n: int = 14,
) -> DataFrame:
    """Average True Range (Wilder, 1978) per key over ordered OHLC
    candles — the volatility companion of :func:`ema_macd`'s trend
    recursion.

        tr_t  = max(h_t - l_t, |h_t - c_{t-1}|, |l_t - c_{t-1}|)
                (first candle: h_1 - l_1 — no previous close)
        atr_t = ((n-1)*atr_{t-1} + tr_t) / n       (seed: atr_1 = tr_1)

    The smoothing is Wilder's RMA seeded at the first true range (the
    same seed convention ema_macd uses), rewritten over fixed-point
    BIGINT units with round-half-up integer division

        au_t = ((n-1)*au_{t-1} + tru_t + n//2) // n

    so every state is an exact integer and a WITH RECURSIVE oracle
    re-derives the series bit-for-bit.  Every operand is nonnegative
    (true ranges are), so floor and truncating division agree.  The
    previous close lives in the fold state, so no separate lag window
    (and no second shuffle) is needed.
    """
    if n < 1:
        raise ValueError(f"atr needs n >= 1, got {n}")
    half = n // 2

    def step(st, h, l, c):
        if st is None:
            tr = au = h - l
            rn = 1
        else:
            pc, au, rn = st
            tr = max(h - l, abs(h - pc), abs(l - pc))
            au, rn = ((n - 1) * au + tr + half) // n, rn + 1
        return (c, au, rn), (rn, tr, au)

    rows = candles.filter(
        F.col("high").isNotNull() & F.col("low").isNotNull()
        & F.col("close").isNotNull()
    ).select(
        F.col(key).cast("string").alias(key),
        F.col(order_col),
        *[
            F.round(F.col(c) * SCALE).cast("bigint").alias(f"__{c}")
            for c in ("high", "low", "close")
        ],
    )
    folded = _keyed_fold(
        rows, key, [order_col], step, ["__high", "__low", "__close"],
        ["rn", "__tr", "__au"], keep=(order_col,),
    )
    return folded.select(
        key,
        order_col,
        "rn",
        (F.col("__tr") / SCALE).alias("tr"),
        (F.col("__au") / SCALE).alias("atr"),
    )


def sql_atr(candles_cte: str, key: str, order_col: str, n: int = 14) -> str:
    """DuckDB mirror of :func:`atr`: true ranges from a lag window
    over the rn-indexed candle units, then the Wilder RMA as a WITH
    RECURSIVE frontier join.  ``candles_cte`` must end with a
    ``candles`` relation carrying (key, order_col, high, low,
    close)."""
    half = n // 2
    return f"""
    WITH RECURSIVE {candles_cte.rstrip().rstrip(',')},
    seq AS (
      SELECT CAST({key} AS VARCHAR) AS {key}, {order_col},
             CAST(round(high * {SCALE}) AS BIGINT) AS hu,
             CAST(round(low * {SCALE}) AS BIGINT) AS lu,
             CAST(round(close * {SCALE}) AS BIGINT) AS cu,
             row_number() OVER (PARTITION BY {key} ORDER BY {order_col}) AS rn
      FROM candles
      WHERE high IS NOT NULL AND low IS NOT NULL AND close IS NOT NULL
    ),
    tr AS (
      SELECT {key}, {order_col}, rn,
             CASE WHEN rn = 1 THEN hu - lu
                  ELSE greatest(hu - lu, abs(hu - pc), abs(lu - pc)) END AS tru
      FROM (
        SELECT *, lag(cu) OVER (PARTITION BY {key} ORDER BY rn) AS pc
        FROM seq
      )
    ),
    wilder AS (
      SELECT {key}, {order_col}, rn, tru, tru AS au FROM tr WHERE rn = 1
      UNION ALL
      SELECT t.{key}, t.{order_col}, t.rn, t.tru,
             (({n} - 1) * w.au + t.tru + {half}) // {n}
      FROM tr t JOIN wilder w ON t.{key} IS NOT DISTINCT FROM w.{key} AND t.rn = w.rn + 1
    )
    SELECT {key}, {order_col}, rn,
           CAST(tru AS DOUBLE) / {SCALE} AS tr,
           CAST(au AS DOUBLE) / {SCALE} AS atr
    FROM wilder
    """



def obv(
    prices: DataFrame,
    key: str,
    order_by: list[str],
    price: str,
    volume: str,
) -> DataFrame:
    """On-Balance Volume (Granville) per key: the running sum of each
    tick's volume signed by its price direction vs the previous kept
    tick (+v on an up-tick, -v on a down-tick, 0 on flat / first).

    Exactness: volume quantizes to integer cents once
    (``round(v*100)``, exact for volumes < 2^53/100), the direction
    is a pure double comparison, and the running sum is an INTEGER
    cumulative window — order-fixed by (order_by) so both engines
    fold identically with zero float accumulation.  Emits one row
    per key (final OBV plus its path extrema, which certify the
    cumulative structure, not just the order-free total): ONE
    shuffle on the key, O(keys) output.

    Ticks with NULL volume (the reference's click rows,
    sources/tables.py::prices_from_events) are dropped FIRST; the
    direction chain runs over the kept series."""
    kept = prices.filter(F.col(volume).isNotNull())
    order_cols = [F.col(c).asc() for c in order_by]
    w = Window.partitionBy(key).orderBy(*order_cols)
    prev = F.lag(F.col(price)).over(w)
    direction = (
        F.when(prev.isNull(), F.lit(0))
        .when(F.col(price) > prev, F.lit(1))
        .when(F.col(price) < prev, F.lit(-1))
        .otherwise(F.lit(0))
    ).cast("bigint")
    vol_cents = F.round(F.col(volume) * 100).cast("bigint")
    signed = kept.select(
        key,
        *[F.col(c) for c in order_by],
        (direction * vol_cents).alias("__sc"),
    )
    wcum = Window.partitionBy(key).orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    run = signed.select(key, F.sum("__sc").over(wcum).alias("__run"))
    return (
        run.groupBy(key)
        .agg(
            F.count("*").alias("n_ticks"),
            F.max("__run").alias("obv_max_cents"),
            F.min("__run").alias("obv_min_cents"),
        )
        .join(
            signed.groupBy(key).agg(
                F.sum("__sc").cast("bigint").alias("obv_cents")
            ),
            key,
        )
        .select(
            key,
            "n_ticks",
            "obv_cents",
            "obv_max_cents",
            "obv_min_cents",
            F.round(F.col("obv_cents").cast("double") / 100, 6).alias("obv"),
        )
        .orderBy(key)
    )


def sql_obv(
    table: str, key: str, order_by: list[str], price: str, volume: str,
    extra_ctes: str = "",
) -> str:
    """DuckDB mirror of :func:`obv` (same integer cumulative fold)."""
    ob = ", ".join(order_by)
    return f"""
    WITH {extra_ctes} kept AS (
      SELECT * FROM {table} WHERE {volume} IS NOT NULL
    ),
    sgn AS (
      SELECT {key}, {ob},
             CAST(round({volume} * 100) AS BIGINT) *
             (CASE WHEN lag({price}) OVER w IS NULL THEN 0
                   WHEN {price} > lag({price}) OVER w THEN 1
                   WHEN {price} < lag({price}) OVER w THEN -1
                   ELSE 0 END) AS sc
      FROM kept
      WINDOW w AS (PARTITION BY {key} ORDER BY {ob})
    ),
    run AS (
      SELECT {key},
             SUM(sc) OVER (PARTITION BY {key} ORDER BY {ob}
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r
      FROM sgn
    )
    SELECT r.{key}, r.n_ticks, s.obv_cents, r.obv_max_cents, r.obv_min_cents,
           round(CAST(s.obv_cents AS DOUBLE) / 100, 6) AS obv
    FROM (
      SELECT {key}, COUNT(*) AS n_ticks,
             CAST(MAX(r) AS BIGINT) AS obv_max_cents,
             CAST(MIN(r) AS BIGINT) AS obv_min_cents
      FROM run GROUP BY {key}
    ) r JOIN (
      SELECT {key}, CAST(SUM(sc) AS BIGINT) AS obv_cents
      FROM sgn GROUP BY {key}
    ) s USING ({key})
    ORDER BY {key}
    """


# GARCH(1,1) fixed parameters (rational, so the recursion stays pure
# integer): alpha = 10/100, beta = 85/100, omega = gamma * V_L with
# gamma = 5/100 and long-run variance V_L = (10_000 ppm)^2 = 1e8 pp2
# (a 1%-per-tick baseline), i.e. OMEGA = 5e6 in ppm^2 units.
GARCH_ALPHA_NUM = 10
GARCH_BETA_NUM = 85
GARCH_DENOM = 100
GARCH_OMEGA_PP2 = 5_000_000


def garch_vol(
    prices: DataFrame,
    key: str,
    order_by: list[str],
    price: str,
) -> DataFrame:
    """GARCH(1,1) conditional volatility per key — the fifth
    certified arbitrary-length integer recursion on
    :func:`_keyed_fold` (after EMA/MACD, Heikin-Ashi, Holt and ATR):
    the variance state at tick t depends on every prior squared
    return,

        s2_t = omega + (alpha*r_t^2 + beta*s2_{t-1})
        s2_1 = r_1^2,

    run entirely in integer ppm^2 units with one round-half-up per
    step (the numerator alpha*r2 + beta*s2 + 50 is provably
    nonnegative).  Returns quantize to integer ppm with TRUNCATING
    division (_tdiv — DuckDB ``//`` truncates toward zero on
    negatives where Python floors, the Holt lesson) and are
    WINSORIZED to +-100% (+-1e6 ppm): the standard dirty-tick guard,
    and the bound that keeps r^2 <= 1e12 so every recursion state
    fits BIGINT on both engines (an unclamped synthetic jump
    overflowed INT64 inside DuckDB's recursion).  The only float op
    is the final sqrt, floored to an integer vol_ppm on both
    engines.  The first tick has no return and emits no row, so the
    output is O(return rows): (key, rn, ret_ppm, var_pp2, vol_ppm)."""

    def step(st, p):
        if st is None:
            return (p, 0, 0), None
        prev, s2, rn = st
        r = max(-1_000_000, min(1_000_000, _tdiv((p - prev) * 1_000_000, prev)))
        if rn == 0:
            s2 = r * r
        else:
            s2 = GARCH_OMEGA_PP2 + (
                GARCH_ALPHA_NUM * r * r + GARCH_BETA_NUM * s2 + GARCH_DENOM // 2
            ) // GARCH_DENOM
        return (p, s2, rn + 1), (rn + 1, r, s2)

    ord_names = [f"__o{i}" for i in range(len(order_by))]
    # filter on the fixed-point price, the step's divisor: a price in
    # (0, 0.00005) rounds to 0 units
    pu = F.round(F.col(price) * SCALE)
    rows = prices.filter(pu > 0).select(
        F.col(key).cast("string").alias(key),
        pu.cast("bigint").alias("__pu"),
        *[F.col(c).alias(n) for c, n in zip(order_by, ord_names)],
    )
    folded = _keyed_fold(
        rows, key, ord_names, step, ["__pu"], ["rn", "ret_ppm", "var_pp2"]
    )
    return folded.select(
        key,
        "rn",
        "ret_ppm",
        "var_pp2",
        F.floor(F.sqrt(F.col("var_pp2"))).cast("long").alias("vol_ppm"),
    )


def sql_garch_vol(
    table: str, key: str, order_by: list[str], price: str,
    extra_ctes: str = "",
) -> str:
    """DuckDB mirror of :func:`garch_vol`: same integer recursion via
    WITH RECURSIVE over the per-key return index."""
    ob = ", ".join(order_by)
    return f"""
    WITH RECURSIVE {extra_ctes} ticks AS (
      SELECT CAST({key} AS VARCHAR) AS {key},
             CAST(round({price} * {SCALE}) AS BIGINT) AS pu,
             row_number() OVER (PARTITION BY {key} ORDER BY {ob}) AS tick
      FROM {table} WHERE round({price} * {SCALE}) > 0
    ),
    rets AS (
      SELECT {key}, tick - 1 AS rn,
             GREATEST(-1000000, LEAST(1000000,
               ((pu - prev) * 1000000) // prev)) AS r
      FROM (
        SELECT {key}, tick, pu,
               lag(pu) OVER (PARTITION BY {key} ORDER BY tick) AS prev
        FROM ticks
      ) WHERE prev IS NOT NULL
    ),
    garch AS (
      SELECT {key}, rn, r, r * r AS s2 FROM rets WHERE rn = 1
      UNION ALL
      SELECT t.{key}, t.rn, t.r,
             {GARCH_OMEGA_PP2} + ({GARCH_ALPHA_NUM} * t.r * t.r
               + {GARCH_BETA_NUM} * g.s2 + {GARCH_DENOM // 2})
               // {GARCH_DENOM}
      FROM rets t JOIN garch g ON t.{key} IS NOT DISTINCT FROM g.{key} AND t.rn = g.rn + 1
    )
    SELECT {key}, rn, r AS ret_ppm,
           CAST(s2 AS BIGINT) AS var_pp2,
           CAST(floor(sqrt(CAST(s2 AS DOUBLE))) AS BIGINT) AS vol_ppm
    FROM garch
    """
