"""Latest-per-symbol snapshot — the reference's flagship query.

Reference: ``prices t1 INNER JOIN (SELECT symbol, MAX(timestamp) ...
GROUP BY symbol) t2 ON t1.symbol = t2.symbol AND t1.timestamp =
t2.max_timestamp ORDER BY market_cap DESC`` (api/server.js:67-77,
duplicated at :167-177), followed by the frontend's keep-last dedup
per symbol (frontend/src/App.js:182-186).

Spark-first design: the self-join + client dedup collapses into ONE
window ``row_number``, a single shuffle on the series key.  At 100 TB
this is the right plan: one hash-partition exchange on ``symbol``,
per-partition sort, no join at all; the output is <= |symbols| rows
(broadcast-sized) so anything downstream joins against it for free.
The cap ordering sorts those rows in one partition: a single-partition
exchange feeds the sort, so there is no range-partitioned exchange and
no sampling job re-running the window stage.
The reference's tie-on-batch-timestamp semantics (etl/crypto_etl.py:82)
are resolved deterministically by a caller-supplied total-order
tiebreaker instead of the reference's arrival-order Map.set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_snapshot(
    prices: DataFrame,
    tiebreaker: str = "event_id",
    order_by_cap: bool = True,
) -> DataFrame:
    """One row per symbol: the greatest-timestamp observation, ties
    broken by ``tiebreaker`` descending (keep-last, like the
    frontend's Map.set over arrival order)."""
    order = [F.col("timestamp").desc()]
    if tiebreaker in prices.columns:
        order.append(F.col(tiebreaker).desc())
    w = Window.partitionBy("symbol").orderBy(*order)
    out = (
        prices.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("symbol", "name", "current_price", "market_cap", "total_volume", "timestamp")
    )
    if order_by_cap:
        # PostgreSQL ORDER BY ... DESC places NULLs first (api/server.js:76);
        # Spark's desc() places them last — desc_nulls_first for parity.
        # At most one row per symbol, so one partition sorts it;
        # repartition (not coalesce) keeps the window stage parallel.
        out = out.repartition(1).orderBy(F.col("market_cap").desc_nulls_first())
    return out
