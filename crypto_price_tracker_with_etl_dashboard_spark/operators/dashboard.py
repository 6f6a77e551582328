"""Dashboard aggregates (SURVEY.md section 2: O4+A2+D2 top-K with
"Other" rollup, A3/A4 ratio-of-total, A5+O5 distinct-sorted symbols).

The reference computes these client-side over the <=100-row snapshot
(frontend/src/App.js:87-142,463-471,569-570); here they are DataFrame
ops that stay correct when the snapshot is millions of series.  The
top-K uses a rank window over an already-aggregated (<= |symbols|
rows) input; Spark turns the global sort + filter into TakeOrdered.
All double sums go through exact decimal accumulation (operators/
exact.py) so results are partitioning-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from crypto_price_tracker_with_etl_dashboard_spark.operators.exact import dsum


def _positive_caps(snapshot: DataFrame) -> DataFrame:
    # frontend/src/App.js:94 — keep market_cap non-null and > 0.
    return snapshot.filter(F.col("market_cap").isNotNull() & (F.col("market_cap") > 0))


def topk_with_other(snapshot: DataFrame, k: int = 7) -> DataFrame:
    """Top-K symbols by market cap plus a synthetic 'Other' row
    holding the sum of the remainder (frontend/src/App.js:99-129).
    Ties broken by symbol ascending for determinism."""
    ranked = _positive_caps(snapshot).withColumn(
        "__rank",
        F.row_number().over(
            Window.orderBy(F.col("market_cap").desc(), F.col("symbol").asc())
        ),
    )
    top = ranked.filter(F.col("__rank") <= k).select(
        F.upper(F.col("symbol")).alias("label"), F.col("market_cap")
    )
    other = (
        ranked.filter(F.col("__rank") > k)
        .agg(dsum("market_cap", "market_cap"))
        .select(F.lit("Other").alias("label"), "market_cap")
        .filter(F.col("market_cap").isNotNull())
    )
    return top.unionByName(other)


def market_share(snapshot: DataFrame, k: int = 7) -> DataFrame:
    """Percentage-of-total per segment of the top-K+Other breakdown
    (frontend/src/App.js:463-471): value / sum(values) * 100, 2 dp.

    The total comes from a window sum over the segments themselves —
    a crossJoin against a separately-aggregated total would execute
    the whole snapshot + rank pipeline TWICE per action (Spark does
    not dedupe common subplans without caching).  The partitionless
    window is safe here: segments is <= k+1 rows.  The sum runs in
    the same fixed-point integers dsum uses, so the value is
    bit-identical to the oracle's dsum total."""
    from crypto_price_tracker_with_etl_dashboard_spark.operators.exact import SCALE

    segments = topk_with_other(snapshot, k)
    w = Window.partitionBy()
    total = (
        F.sum(F.round(F.col("market_cap") * SCALE).cast("decimal(38,0)"))
        .over(w)
        .cast("double")
        / SCALE
    )
    return segments.select(
        "label",
        "market_cap",
        F.round(F.col("market_cap") / total * 100.0, 2).alias("pct"),
    )


def distinct_symbols(prices: DataFrame) -> DataFrame:
    """Unique symbols, lexicographically sorted (the dropdown,
    frontend/src/App.js:569-570).  At most one row per symbol, so the
    sort runs in one partition; the distinct keeps its hash shuffle."""
    return prices.select("symbol").distinct().repartition(1).orderBy("symbol")


def _fixed4_display(c: str) -> F.Column:
    # toFixed(4): exactly 4 decimals, NO thousands grouping
    # (frontend/src/App.js:549,306).  JS truthiness: null AND 0 both
    # render 'N/A'; the '$' sits outside the ternary, so '$N/A'.
    return F.concat(
        F.lit("$"),
        F.coalesce(
            F.when(
                F.col(c) != 0,
                F.round(F.col(c), 4).cast("decimal(28,4)").cast("string"),
            ),
            F.lit("N/A"),
        ),
    )


def _grouped_display(c: str) -> F.Column:
    # toLocaleString() (frontend/src/App.js:550-551): thousands
    # grouping with UP TO THREE fraction digits and trailing zeros
    # trimmed (ECMA-402 defaults: maximumFractionDigits 3, rounding
    # halfExpand) — NOT integer rendering: 56789.4 renders
    # '56,789.4', not '56,789'.  The explicit round() before
    # format_number pins HALF_UP ties (format_number alone rounds
    # HALF_EVEN, diverging from JS halfExpand at exact boundaries);
    # the two regex passes trim fraction zeros then a bare dot, and
    # cannot touch the integer part (the first requires a literal
    # '.' before the zeros).
    grouped = F.format_number(F.round(F.col(c), 3), 3)
    trimmed = F.regexp_replace(
        F.regexp_replace(grouped, r"(\.\d*?)0+$", r"$1"), r"\.$", ""
    )
    return F.concat(
        F.lit("$"),
        F.coalesce(F.when(F.col(c) != 0, trimmed), F.lit("N/A")),
    )


def display_snapshot(snapshot: DataFrame) -> DataFrame:
    """P10+P13 presentation projection of the latest snapshot — the
    dashboard table row (frontend/src/App.js:545-552): uppercase
    symbol, `$`-prefixed price at 4 fixed decimals, thousands-grouped
    market cap / volume, with JS-truthy null-coalescing to 'N/A'
    (null OR zero -> 'N/A', matching `x ? fmt(x) : 'N/A'`)."""
    return snapshot.select(
        F.upper(F.col("symbol")).alias("symbol"),
        "name",
        _fixed4_display("current_price").alias("price_display"),
        _grouped_display("market_cap").alias("market_cap_display"),
        _grouped_display("total_volume").alias("volume_display"),
        "timestamp",
    )
