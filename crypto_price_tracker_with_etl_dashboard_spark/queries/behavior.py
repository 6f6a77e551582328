"""User-behavior / data-quality analytics over the events stream:
z-score outliers (the first certified use of exact distributed
variance), a Deequ-style one-pass column profile, top user journey
paths, and the event-type Markov transition matrix.

All are single-key-shuffle plans; every float expression is the
IDENTICAL tree on both engines (means/variances derive from
fixed-point BIGINT sums, then a fixed chain of double ops), so rows
hash-match bit-for-bit.

Registered r6 OUTSIDE the 50-query driver window (its rotation is
committed to the TPC-H re-certification); check_oracle-certified
this round and scheduled to debut in the r7 driver window
(queries/__init__.py NEW_THIS_ROUND note).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crypto_price_tracker_with_etl_dashboard_spark.operators.exact import SCALE
from crypto_price_tracker_with_etl_dashboard_spark.operators.profile import (
    profile,
    sql_profile,
)
from crypto_price_tracker_with_etl_dashboard_spark.operators.survival import (
    km_curve,
    sql_km_curve,
)
from crypto_price_tracker_with_etl_dashboard_spark.queries import register
from crypto_price_tracker_with_etl_dashboard_spark.sources import load_table


# ---- Z-score outliers (exact distributed variance) -------------------------
# Group stats from fixed-point sums: sum(v) and sum(round(v*v*SCALE))
# are exact BIGINTs (order/partitioning-invariant), and mean /
# E[x^2] / sample variance / z then follow one fixed chain of double
# ops both engines evaluate identically.  The stats table is
# O(groups) rows — broadcast back to the fact scan, so the plan is
# one agg shuffle + a broadcast join, never a window over the corpus.

_Z_THRESHOLD = 1.5  # |z| cut; uniform-ish value data tops out ~1.73


def q_events_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value")
    stats = ev.groupBy("event_type").agg(
        F.count("value").alias("n"),
        F.sum(F.round(v * SCALE).cast("bigint")).alias("s"),
        F.sum(F.round(v * v * SCALE).cast("bigint")).alias("sq"),
    )
    mean = (F.col("s").cast("double") / SCALE) / F.col("n")
    ex2 = (F.col("sq").cast("double") / SCALE) / F.col("n")
    var = (ex2 - mean * mean) * F.col("n") / (F.col("n") - 1)
    # n >= 2 guards the (n-1) sample-variance divisor; sd > 0 guards
    # the z divisor for a constant-valued group (both filters mirror
    # the oracle exactly, so degenerate groups drop identically on
    # both engines instead of diverging through inf/NULL semantics)
    enriched = stats.filter(F.col("n") >= 2).select(
        "event_type", mean.alias("__mean"), F.sqrt(var).alias("__sd")
    ).filter(F.col("__sd") > 0)
    z = F.round((v - F.col("__mean")) / F.col("__sd"), 6)
    return (
        ev.join(F.broadcast(enriched), "event_type")
        .select("event_id", "event_type", "value", z.alias("z"))
        .filter(F.abs(F.col("z")) >= _Z_THRESHOLD)
        .orderBy("event_id")
    )


register(
    "events_value_outliers",
    q_events_value_outliers,
    f"""
    WITH stats AS (
      SELECT event_type, COUNT(value) AS n,
             SUM(CAST(round(value * {SCALE}) AS BIGINT)) AS s,
             SUM(CAST(round(value * value * {SCALE}) AS BIGINT)) AS sq
      FROM events GROUP BY event_type
    ),
    enriched AS (
      SELECT event_type, m, sd FROM (
        SELECT event_type,
               (CAST(s AS DOUBLE) / {SCALE}) / n AS m,
               sqrt(((CAST(sq AS DOUBLE) / {SCALE}) / n
                     - ((CAST(s AS DOUBLE) / {SCALE}) / n)
                       * ((CAST(s AS DOUBLE) / {SCALE}) / n)) * n / (n - 1))
                 AS sd
        FROM stats WHERE n >= 2
      ) WHERE sd > 0
    )
    SELECT e.event_id, e.event_type, e.value,
           round((e.value - t.m) / t.sd, 6) AS z
    FROM events e JOIN enriched t USING (event_type)
    WHERE abs(round((e.value - t.m) / t.sd, 6)) >= {_Z_THRESHOLD}
    ORDER BY e.event_id
    """,
)


# ---- One-pass column profile ------------------------------------------------

_PROFILE_COLS = ["event_id", "user_id", "event_type", "value", "ts", "props"]


def q_events_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return profile(ev, _PROFILE_COLS)


register(
    "events_profile",
    q_events_profile,
    sql_profile("events", _PROFILE_COLS, float_cols={"value"}),
)


# ---- Top user journey paths -------------------------------------------------
# Each user's first 5 events (ts, event_id order) joined into a
# 'a>b>c' path string; the 10 most common paths (ties -> path ASC).
# One user-key shuffle; the path table is O(users) rows and the
# top-k is a tiny aggregate.

_PATH_LEN = 5
_PATH_TOPK = 10


def q_events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    first_n = ev.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= _PATH_LEN
    )
    paths = first_n.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__rn", "event_type"))),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_users"))
        .orderBy(F.col("n_users").desc(), F.col("path").asc())
        .limit(_PATH_TOPK)
    )


register(
    "events_top_paths",
    q_events_top_paths,
    f"""
    WITH f AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts ASC, event_id ASC) AS rn
      FROM events
    ),
    p AS (
      SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
      FROM f WHERE rn <= {_PATH_LEN} GROUP BY user_id
    )
    SELECT path, COUNT(*) AS n_users
    FROM p GROUP BY path
    ORDER BY n_users DESC, path ASC
    LIMIT {_PATH_TOPK}
    """,
)


# ---- Markov transition matrix ----------------------------------------------
# P(next event type | current) per user-ordered stream: one user-key
# window for the lead, one (src, dst) aggregate, probabilities as a
# single double division of exact counts.  Output is O(|types|^2).

def q_events_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    pairs = (
        ev.withColumn("__dst", F.lead("event_type").over(w))
        .filter(F.col("__dst").isNotNull())
        .select(F.col("event_type").alias("src"), F.col("__dst").alias("dst"))
    )
    counts = pairs.groupBy("src", "dst").agg(F.count("*").alias("n_transitions"))
    totals = counts.groupBy("src").agg(F.sum("n_transitions").alias("__total"))
    return (
        counts.join(F.broadcast(totals), "src")
        .select(
            "src",
            "dst",
            "n_transitions",
            F.round(
                F.col("n_transitions").cast("double") / F.col("__total"), 6
            ).alias("prob"),
        )
        .orderBy("src", "dst")
    )


register(
    "events_markov",
    q_events_markov,
    """
    WITH pairs AS (
      SELECT event_type AS src,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts ASC, event_id ASC) AS dst
      FROM events
    ),
    counts AS (
      SELECT src, dst, COUNT(*) AS n_transitions
      FROM pairs WHERE dst IS NOT NULL GROUP BY src, dst
    ),
    totals AS (SELECT src, SUM(n_transitions) AS total FROM counts GROUP BY src)
    SELECT c.src, c.dst, c.n_transitions,
           round(CAST(c.n_transitions AS DOUBLE) / t.total, 6) AS prob
    FROM counts c JOIN totals t USING (src)
    ORDER BY c.src, c.dst
    """,
)


# ---- Count-min-sketch heavy hitters ----------------------------------------
# The sketch path (functions/sketch.py) next to its ground truth: the
# top-20 user_ids by SKETCH-estimated frequency, each row carrying
# the exact count and the overcount (est - true >= 0 always, by the
# CMS guarantee).  At 100 TB the exact side of this query is the
# expensive one — the certified artifact is that the constant-size
# sketch's estimates are exactly reproducible and ordered.

_CMS_DEPTH, _CMS_WIDTH, _CMS_TOPK = 4, 256, 20


def q_events_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_price_tracker_with_etl_dashboard_spark.functions.sketch import (
        cms_build,
        cms_estimate,
    )

    ev = load_table(spark, sf_dir, "events")
    sketch = cms_build(ev, "user_id", depth=_CMS_DEPTH, width=_CMS_WIDTH)
    keys = ev.select("user_id").distinct()
    est = cms_estimate(sketch, keys, "user_id", depth=_CMS_DEPTH, width=_CMS_WIDTH)
    true = ev.groupBy("user_id").agg(F.count("*").alias("true_count"))
    return (
        est.join(true, "user_id")
        .select(
            "user_id",
            F.col("est").alias("est_count"),
            "true_count",
            (F.col("est") - F.col("true_count")).alias("overcount"),
        )
        .orderBy(F.col("est_count").desc(), F.col("user_id").asc())
        .limit(_CMS_TOPK)
    )


def _heavy_hitters_sql() -> str:
    from crypto_price_tracker_with_etl_dashboard_spark.functions.sketch import (
        sql_bucket,
    )

    cell_structs = ", ".join(
        f"{{'j': {j}, 'bucket': {sql_bucket('user_id', j, _CMS_WIDTH)}}}"
        for j in range(_CMS_DEPTH)
    )
    return f"""
    WITH cells AS (
      SELECT j, bucket, COUNT(*) AS cnt FROM (
        SELECT unnest([{cell_structs}], recursive := true) FROM events
      ) GROUP BY j, bucket
    ),
    keys AS (SELECT DISTINCT user_id FROM events),
    probes AS (
      SELECT user_id, unnest([{cell_structs}], recursive := true) FROM keys
    ),
    est AS (
      SELECT user_id, MIN(cnt) AS est
      FROM probes JOIN cells USING (j, bucket) GROUP BY user_id
    ),
    truth AS (SELECT user_id, COUNT(*) AS true_count FROM events GROUP BY user_id)
    SELECT user_id, est AS est_count, true_count, est - true_count AS overcount
    FROM est JOIN truth USING (user_id)
    ORDER BY est_count DESC, user_id ASC
    LIMIT {_CMS_TOPK}
    """


register("events_heavy_hitters", q_events_heavy_hitters, _heavy_hitters_sql())


# ---- Robust (MAD) outliers -------------------------------------------------
# The z-score query's robust sibling: median / median-absolute-
# deviation instead of mean / stddev, so a few extreme rows cannot
# drag the threshold toward themselves (the masking failure of
# moment-based outlier detection).  Everything is fixed-point
# integer: v = round(value*SCALE), medians are LOWER medians (the
# multiset element at position (n+1)//2 — deterministic without
# averaging two middles), and the cut is the exact integer
# comparison dev*10 > 18*mad (k = 1.8, sized for the uniform-ish
# value distribution like the z query's 1.5).
#
# Scale: exact medians need a per-group sort — ONE window pass per
# stage (rank + count share the partition), group cardinality is
# |event_type| so partitions are wide but few; at 100 TB swap the
# exact median for approx_percentile and keep the same plan (the
# event_value_quantiles pair documents both variants).

_MAD_K10 = 18  # k = 1.8 in tenths: dev*10 > K10*mad


def q_events_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    fx = ev.filter(F.col("value").isNotNull()).select(
        "event_id",
        "event_type",
        "value",
        F.round(F.col("value") * SCALE).cast("bigint").alias("__v"),
    )
    w = Window.partitionBy("event_type").orderBy("__v")
    wc = Window.partitionBy("event_type")
    ranked = fx.select(
        "event_type", "__v",
        F.row_number().over(w).alias("__rn"),
        F.count("*").over(wc).alias("__n"),
    )
    med = ranked.filter(
        F.col("__rn") == F.expr("(__n + 1) div 2")
    ).select("event_type", F.col("__v").alias("__med"))
    dev = fx.join(F.broadcast(med), "event_type").withColumn(
        "__d", F.abs(F.col("__v") - F.col("__med"))
    )
    wd = Window.partitionBy("event_type").orderBy("__d")
    rdev = dev.select(
        "event_type", "__d",
        F.row_number().over(wd).alias("__rn"),
        F.count("*").over(wc).alias("__n"),
    )
    mad = rdev.filter(
        F.col("__rn") == F.expr("(__n + 1) div 2")
    ).select("event_type", F.col("__d").alias("__mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.col("__d") * 10 > _MAD_K10 * F.col("__mad"))
        .select(
            "event_id",
            "event_type",
            "value",
            F.col("__d").alias("dev_fp"),
            F.col("__mad").alias("mad_fp"),
        )
    )


register(
    "events_robust_outliers",
    q_events_robust_outliers,
    f"""
    WITH fx AS (
      SELECT event_id, event_type, value,
             CAST(ROUND(value * {SCALE}) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL
    ),
    ranked AS (
      SELECT event_type, v,
             row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM fx
    ),
    med AS (SELECT event_type, v AS m FROM ranked WHERE rn = (n + 1) // 2),
    dev AS (
      SELECT f.event_id, f.event_type, f.value, abs(f.v - m.m) AS d
      FROM fx f JOIN med m USING (event_type)
    ),
    rdev AS (
      SELECT event_type, d,
             row_number() OVER (PARTITION BY event_type ORDER BY d) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM dev
    ),
    mad AS (SELECT event_type, d AS mad FROM rdev WHERE rn = (n + 1) // 2)
    SELECT dv.event_id, dv.event_type, dv.value,
           dv.d AS dev_fp, m.mad AS mad_fp
    FROM dev dv JOIN mad m USING (event_type)
    WHERE dv.d * 10 > {_MAD_K10} * m.mad
    """,
)


# ---- Referential-integrity report (cross-table constraints) ----------------
# The Deequ-style cross-table companion to the single-column profile:
# orphan counts for every foreign key in the star schema, each an
# anti-join against the (broadcast-sized) parent key set.  A healthy
# warehouse reports zeros — the VALUE is the report when ingestion
# breaks; counting orphans is one broadcast anti-join per edge, the
# fact side scanned once each, never shuffled.


def q_tpch_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")

    def check(name, fact, fk, dim, pk):
        orphans = fact.join(
            F.broadcast(dim.select(F.col(pk).alias(fk)).distinct()),
            fk,
            "left_anti",
        )
        return fact.agg(
            F.lit(name).alias("fk"),
            F.count("*").alias("fact_rows"),
        ).crossJoin(orphans.agg(F.count("*").alias("orphans")))

    reports = [
        check("lineitem.l_orderkey->orders", li, "l_orderkey", orders, "o_orderkey"),
        check("lineitem.l_suppkey->supplier", li, "l_suppkey", supplier, "s_suppkey"),
        check("orders.o_custkey->customer", orders, "o_custkey", customer, "c_custkey"),
        check("customer.c_nationkey->nation", customer, "c_nationkey", nation, "n_nationkey"),
        check("supplier.s_nationkey->nation", supplier, "s_nationkey", nation, "n_nationkey"),
    ]
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out.orderBy("fk")


register(
    "tpch_integrity",
    q_tpch_integrity,
    """
    SELECT * FROM (
      SELECT 'lineitem.l_orderkey->orders' AS fk,
             (SELECT COUNT(*) FROM lineitem) AS fact_rows,
             (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
                (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
               AS orphans
      UNION ALL
      SELECT 'lineitem.l_suppkey->supplier',
             (SELECT COUNT(*) FROM lineitem),
             (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
                (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
      UNION ALL
      SELECT 'orders.o_custkey->customer',
             (SELECT COUNT(*) FROM orders),
             (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
                (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
      UNION ALL
      SELECT 'customer.c_nationkey->nation',
             (SELECT COUNT(*) FROM customer),
             (SELECT COUNT(*) FROM customer c WHERE NOT EXISTS
                (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
      UNION ALL
      SELECT 'supplier.s_nationkey->nation',
             (SELECT COUNT(*) FROM supplier),
             (SELECT COUNT(*) FROM supplier s WHERE NOT EXISTS
                (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey))
    ) ORDER BY fk
    """,
)


# ---- last-touch attribution -------------------------------------------------
# The conversion-credit report: each purchase is attributed to the
# user's most recent non-purchase event within a 1-hour lookback
# (last-touch single-credit; purchases with no touch in the window
# are 'direct').  The carry is one IGNORE NULLS last_value window
# over the user's (ts, event_id)-ordered stream — both engines
# support the identical frame — and the credited revenue sums in
# fixed point.  ONE shuffle on user_id for the window; the report
# aggregate runs on the O(purchases) carry table.  O(|channels|)
# output.

_ATTR_LOOKBACK_S = 3600


def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    touch_type = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    touch_ts = F.last(
        F.when(F.col("event_type") != "purchase", F.col("ts")),
        ignorenulls=True,
    ).over(w)
    carried = (
        ev.select(
            "user_id", "ts", "event_id", "event_type", "value",
            touch_type.alias("__touch"), touch_ts.alias("__touch_ts"),
        )
        .filter(F.col("event_type") == "purchase")
        .select(
            "value",
            F.when(
                F.col("__touch").isNotNull()
                & (
                    F.unix_timestamp("ts") - F.unix_timestamp("__touch_ts")
                    <= _ATTR_LOOKBACK_S
                ),
                F.col("__touch"),
            ).otherwise(F.lit("direct")).alias("channel"),
        )
    )
    return (
        carried.groupBy("channel")
        .agg(
            F.count("*").alias("n_purchases"),
            F.sum(F.round(F.col("value") * SCALE).cast("bigint")).alias("__rev"),
        )
        .select(
            "channel", "n_purchases",
            F.round(F.col("__rev") / SCALE, 4).alias("revenue"),
        )
        .orderBy("channel")
    )


register(
    "events_attribution",
    q_events_attribution,
    f"""
    WITH carried AS (
      SELECT user_id, ts, event_id, event_type, value,
             last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                        IGNORE NULLS) OVER w AS touch,
             last_value(CASE WHEN event_type <> 'purchase' THEN ts END
                        IGNORE NULLS) OVER w AS touch_ts
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    credited AS (
      SELECT value,
             CASE WHEN touch IS NOT NULL
                   AND (epoch_us(ts) // 1000000)
                       - (epoch_us(touch_ts) // 1000000) <= {_ATTR_LOOKBACK_S}
                  THEN touch ELSE 'direct' END AS channel
      FROM carried WHERE event_type = 'purchase'
    )
    SELECT channel, COUNT(*) AS n_purchases,
           round(CAST(SUM(CAST(round(value * {SCALE}) AS BIGINT)) AS BIGINT)
                 / {SCALE}, 4) AS revenue
    FROM credited
    GROUP BY 1 ORDER BY channel
    """,
)


# ---- sliding-window burst detection ----------------------------------------
# The rate-anomaly primitive a fixed hopping grid misses: the MAX
# event count in ANY trailing 10-minute window per user, found by a
# RANGE frame over epoch seconds (every event is a candidate window
# end — the sliding-window maximum is exact, not grid-quantized).
# Integer counts and epoch seconds only.  ONE shuffle on user_id:
# the range window and the per-user argmax aggregate share it.
# O(users) output.

_BURST_WINDOW_S = 600


def q_events_burst_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # unix_timestamp truncates to whole (positive) seconds = the
    # oracle's epoch_us // 1e6 floor; unix_micros rejects the
    # TIMESTAMP_NTZ the parquet tables carry
    sec = F.unix_timestamp(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(sec)
        .rangeBetween(-_BURST_WINDOW_S, 0)
    )
    counted = ev.select(
        "user_id",
        sec.alias("__sec"),
        F.count("*").over(w).alias("__burst"),
    ).withColumn(
        "max_burst", F.max("__burst").over(Window.partitionBy("user_id"))
    )
    return (
        counted.groupBy("user_id", "max_burst")
        .agg(
            F.min(
                F.when(F.col("__burst") == F.col("max_burst"), F.col("__sec"))
            ).alias("burst_end_sec"),
        )
        .select("user_id", "max_burst", "burst_end_sec")
        .orderBy("user_id")
    )


register(
    "events_burst_detect",
    q_events_burst_detect,
    f"""
    WITH counted AS (
      SELECT user_id, epoch_us(ts) // 1000000 AS sec,
             COUNT(*) OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts) // 1000000
                            RANGE BETWEEN {_BURST_WINDOW_S} PRECEDING
                                      AND CURRENT ROW) AS burst
      FROM events
    ),
    mx AS (
      SELECT user_id, MAX(burst) OVER (PARTITION BY user_id) AS max_burst,
             burst, sec
      FROM counted
    )
    SELECT user_id, max_burst,
           MIN(CASE WHEN burst = max_burst THEN sec END) AS burst_end_sec
    FROM mx
    GROUP BY user_id, max_burst
    ORDER BY user_id
    """,
)


# ---- Gini concentration of event value -------------------------------------
# How concentrated is value across events of a type?  The exact Gini
# coefficient from the sorted-rank closed form
#     G = (2 * sum(i * x_i) - (n + 1) * sum(x_i)) / (n * sum(x_i))
# with x_i the value in fixed-point units and i the (value, event_id)
# rank — every term is an exact DECIMAL(38,0), the final division is
# one double op.  ONE shuffle on event_type: rank window + aggregate
# share it.  O(types) output; negative/zero/null values excluded (Gini
# is defined over positive quantities).

def q_events_value_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    dec = "decimal(38,0)"
    d = ev.select(
        "event_type",
        F.row_number().over(w).alias("__i"),
        F.round(F.col("value") * SCALE).cast("bigint").alias("__x"),
    )
    agg = d.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("__x").cast(dec)).alias("__sx"),
        F.sum(F.col("__i").cast(dec) * F.col("__x").cast(dec)).alias("__six"),
    )
    gini = (
        (2.0 * F.col("__six").cast("double")
         - (F.col("n") + 1).cast("double") * F.col("__sx").cast("double"))
        / (F.col("n").cast("double") * F.col("__sx").cast("double"))
    )
    return (
        agg.filter(F.col("n") >= 2)
        .select("event_type", "n", F.round(gini, 6).alias("gini"))
        .orderBy("event_type")
    )


register(
    "events_value_gini",
    q_events_value_gini,
    f"""
    WITH d AS (
      SELECT event_type,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value ASC, event_id ASC) AS i,
             CAST(round(value * {SCALE}) AS BIGINT) AS x
      FROM events WHERE value > 0
    ),
    agg AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(CAST(x AS DECIMAL(38,0))) AS sx,
             SUM(CAST(i AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS six
      FROM d GROUP BY 1
    )
    SELECT event_type, n,
           round((2.0 * CAST(six AS DOUBLE)
                  - CAST(n + 1 AS DOUBLE) * CAST(sx AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS gini
    FROM agg WHERE n >= 2
    ORDER BY event_type
    """,
)


# ---- Bloom-filter semi-join prefilter --------------------------------------
# The explicit form of runtime bloom pushdown: build a portable
# Bloom filter over the "heavy purchaser" user set (>= 15
# purchases), prefilter the view-event stream through it with k
# broadcast semi-joins (probe side never shuffles), and report the
# filter's quality against exact membership — no false negatives by
# construction (asserted by the row), false positives at the
# textbook rate.  functions/sketch.py::bloom_bits/bloom_semi_filter;
# single-row output, every count an exact integer.

_BLOOM_MIN_PURCHASES = 15
_BLOOM_K = 4
_BLOOM_M = 4096


def q_events_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_price_tracker_with_etl_dashboard_spark.functions.sketch import (
        bloom_bits,
        bloom_semi_filter,
    )

    ev = load_table(spark, sf_dir, "events")
    build = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count("*").alias("__np"))
        .filter(F.col("__np") >= _BLOOM_MIN_PURCHASES)
        .select("user_id")
    )
    bits = bloom_bits(build, "user_id", k=_BLOOM_K, m=_BLOOM_M)
    probe = ev.filter(F.col("event_type") == "view").select("event_id", "user_id")
    candidates = bloom_semi_filter(probe, "user_id", bits, k=_BLOOM_K, m=_BLOOM_M)
    member_rows = probe.join(F.broadcast(build), "user_id", "left_semi")
    cand_true = candidates.join(F.broadcast(build), "user_id", "left_semi")
    counts = (
        probe.agg(F.count("*").alias("n_probe"))
        .crossJoin(candidates.agg(F.count("*").alias("n_candidates")))
        .crossJoin(member_rows.agg(F.count("*").alias("n_member_rows")))
        .crossJoin(cand_true.agg(F.count("*").alias("n_cand_true")))
    )
    return counts.select(
        "n_probe",
        "n_member_rows",
        "n_candidates",
        (F.col("n_candidates") - F.col("n_cand_true")).alias("n_false_pos"),
        # no-false-negative invariant: every member row passes
        (F.col("n_cand_true") == F.col("n_member_rows")).alias("no_false_negatives"),
        F.when(
            F.col("n_probe") > F.col("n_member_rows"),
            F.round(
                (F.col("n_candidates") - F.col("n_cand_true")) * 1000000.0
                / (F.col("n_probe") - F.col("n_member_rows"))
            ).cast("bigint"),
        ).alias("fp_rate_ppm"),
    )


def _bloom_sql() -> str:
    from crypto_price_tracker_with_etl_dashboard_spark.functions.sketch import (
        sql_bucket,
    )

    slices = ", ".join(
        f"{sql_bucket('user_id', j, _BLOOM_M)} AS b{j}" for j in range(_BLOOM_K)
    )
    in_bits = " AND ".join(
        f"b{j} IN (SELECT bit FROM bits)" for j in range(_BLOOM_K)
    )
    return f"""
    WITH build AS (
      SELECT user_id FROM events WHERE event_type = 'purchase'
      GROUP BY 1 HAVING COUNT(*) >= {_BLOOM_MIN_PURCHASES}
    ),
    bits AS (
      SELECT DISTINCT unnest([b0, b1, b2, b3]) AS bit
      FROM (SELECT {slices} FROM build)
    ),
    probe AS (
      SELECT event_id, user_id, {slices}
      FROM events WHERE event_type = 'view'
    ),
    flagged AS (
      SELECT event_id,
             CASE WHEN {in_bits} THEN 1 ELSE 0 END AS cand,
             CASE WHEN user_id IN (SELECT user_id FROM build)
                  THEN 1 ELSE 0 END AS member
      FROM probe
    )
    SELECT COUNT(*) AS n_probe,
           CAST(SUM(member) AS BIGINT) AS n_member_rows,
           CAST(SUM(cand) AS BIGINT) AS n_candidates,
           CAST(SUM(cand) - SUM(cand * member) AS BIGINT) AS n_false_pos,
           (SUM(cand * member) = SUM(member)) AS no_false_negatives,
           CASE WHEN COUNT(*) > SUM(member) THEN
             CAST(round((SUM(cand) - SUM(cand * member)) * 1000000.0
                        / (COUNT(*) - SUM(member))) AS BIGINT)
           END AS fp_rate_ppm
    FROM flagged
    """


register("events_bloom_prefilter", q_events_bloom_prefilter, _bloom_sql())


# ---- weighted median --------------------------------------------------------
# The importance-weighted center: each event's value counts with
# weight 1 + (props.k mod 100) — the robust aggregate curation
# pipelines use when rows carry sampling weights (mixture-sampled
# corpora, inverse-propensity event logs).  Lower weighted median:
# the first value (in (value, event_id) order) whose running weight
# reaches ceil(W/2).  Both the cumulative sum and the threshold are
# exact BIGINTs, the selected value is a raw double — nothing to
# drift.  ONE shuffle on event_type: the cumsum window and the
# argmin aggregate share it.  O(types) output.

def q_events_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = (
        F.get_json_object("props", "$.k").cast("bigint") % 100 + 1
    ).alias("__w")
    win = Window.partitionBy("event_type").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    ).rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.partitionBy("event_type")
    d = ev.select("event_type", "value", "event_id", w).select(
        "event_type", "value",
        F.sum("__w").over(win).alias("__cw"),
        F.sum("__w").over(tot).alias("__tw"),
    )
    hit = d.filter(F.col("__cw") >= F.expr("(__tw + 1) div 2"))
    return (
        hit.groupBy("event_type")
        .agg(
            F.min(F.struct(F.col("__cw"), F.col("value"))).alias("__m"),
            F.max("__tw").alias("total_weight"),
        )
        .select(
            "event_type",
            F.col("__m.value").alias("weighted_median"),
            "total_weight",
        )
        .orderBy("event_type")
    )


register(
    "events_weighted_median",
    q_events_weighted_median,
    """
    WITH d AS (
      SELECT event_type, value,
             SUM(CAST(json_extract(props, '$.k') AS BIGINT) % 100 + 1)
               OVER (PARTITION BY event_type ORDER BY value ASC, event_id ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             SUM(CAST(json_extract(props, '$.k') AS BIGINT) % 100 + 1)
               OVER (PARTITION BY event_type) AS tw
      FROM events WHERE value IS NOT NULL
    ),
    hit AS (SELECT * FROM d WHERE cw >= (tw + 1) // 2)
    SELECT event_type,
           (MIN({'cw': cw, 'v': value})).v AS weighted_median,
           CAST(MAX(tw) AS BIGINT) AS total_weight
    FROM hit
    GROUP BY event_type
    ORDER BY event_type
    """,
)


# ---- A/B arm comparison -----------------------------------------------------
# The experiment readout: users hash-split into two arms (entity-
# level lcg split — the leakage-safe assignment events_split_leakage
# exists to defend), conversion = "user purchased at least once",
# and the two-proportion z statistic from the pooled rate.  Counts
# are exact integers; the rate/z chain is one fixed sequence of
# double ops (sqrt is IEEE-correctly-rounded) both engines evaluate
# identically.  Shuffles: one user_id agg; the readout is a 1-row
# fold of the O(users) arm table.

def q_events_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_price_tracker_with_etl_dashboard_spark.functions.sampling import (
        hash_split,
        lcg_bucket,
    )

    ev = load_table(spark, sf_dir, "events")
    per_user = (
        hash_split(ev, "user_id", {"a": 50, "b": 50}, hasher=lcg_bucket)
        .groupBy("split", "user_id")
        .agg(
            F.max((F.col("event_type") == "purchase").cast("int")).alias("__conv")
        )
    )
    arms = per_user.groupBy().agg(
        F.sum(F.when(F.col("split") == "a", 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("split") == "a", F.col("__conv")).otherwise(0)).alias("conv_a"),
        F.sum(F.when(F.col("split") == "b", 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("split") == "b", F.col("__conv")).otherwise(0)).alias("conv_b"),
    )
    p_a = F.col("conv_a") / F.col("n_a")
    p_b = F.col("conv_b") / F.col("n_b")
    pool = (F.col("conv_a") + F.col("conv_b")) / (F.col("n_a") + F.col("n_b"))
    se = F.sqrt(pool * (1.0 - pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b")))
    return arms.select(
        "n_a", "conv_a", "n_b", "conv_b",
        F.round(p_a, 6).alias("rate_a"),
        F.round(p_b, 6).alias("rate_b"),
        F.when(se > 0, F.round((p_a - p_b) / se, 6)).alias("z_stat"),
    )


def _ab_lift_sql() -> str:
    from crypto_price_tracker_with_etl_dashboard_spark.functions.sampling import (
        sql_lcg_bucket,
    )

    pool = "((conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))"
    se = (
        f"sqrt({pool} * (1.0 - {pool}) * (1.0 / n_a + 1.0 / n_b))"
    )
    return f"""
    WITH per_user AS (
      SELECT CASE WHEN {sql_lcg_bucket('user_id')} < 50 THEN 'a' ELSE 'b' END
               AS split,
             user_id,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM events
      GROUP BY 1, 2
    ),
    arms AS (
      SELECT CAST(SUM(CASE WHEN split = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN split = 'a' THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
             CAST(SUM(CASE WHEN split = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN split = 'b' THEN conv ELSE 0 END) AS BIGINT) AS conv_b
      FROM per_user
    )
    SELECT n_a, conv_a, n_b, conv_b,
           round(conv_a / CAST(n_a AS DOUBLE), 6) AS rate_a,
           round(conv_b / CAST(n_b AS DOUBLE), 6) AS rate_b,
           CASE WHEN {se} > 0
                THEN round((conv_a / CAST(n_a AS DOUBLE)
                            - conv_b / CAST(n_b AS DOUBLE)) / {se}, 6)
           END AS z_stat
    FROM arms
    """


register("events_ab_lift", q_events_ab_lift, _ab_lift_sql())


# ---- CUPED variance-reduced lift -------------------------------------------
# The industrial-strength version of events_ab_lift: regress the
# post-period metric on the pre-period metric (theta = cov/var) and
# report the covariate-adjusted arm difference (Deng et al., WSDM
# 2013).  The whole readout is ALGEBRAIC — adjusted arm means and
# the variance reduction derive from the same six exact sums
# (n, Sx, Sy, Sxy, Sxx, Syy — per arm and pooled), so no second
# per-user pass is needed:
#     mean(Y_adj | arm) = mean(Y|arm) - theta * (mean(X|arm) - mean(X))
#     var reduction     = cov^2 / (varX * varY)       (= corr^2)
# One user_id shuffle builds the per-user (pre, post) pair; one
# 1-row fold computes every sum; the double chain is fixed.  Window
# split: pre = days before Jan 16, post = the rest.

_CUPED_CUT = "2024-01-16"


def q_events_cuped_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_price_tracker_with_etl_dashboard_spark.functions.sampling import (
        hash_split,
        lcg_bucket,
    )

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cut = F.lit(_CUPED_CUT).cast("timestamp")
    vu = F.round(F.col("value") * SCALE).cast("bigint")
    per_user = (
        hash_split(ev, "user_id", {"a": 50, "b": 50}, hasher=lcg_bucket)
        .groupBy("split", "user_id")
        .agg(
            F.sum(F.when(F.col("ts") < cut, vu).otherwise(0)).alias("__x"),
            F.sum(F.when(F.col("ts") >= cut, vu).otherwise(0)).alias("__y"),
        )
    )
    dec = "decimal(38,0)"
    g = per_user.groupBy().agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("split") == "a", 1).otherwise(0)).alias("n_a"),
        F.sum(F.col("__x").cast(dec)).alias("__sx"),
        F.sum(F.col("__y").cast(dec)).alias("__sy"),
        F.sum(F.col("__x").cast(dec) * F.col("__y").cast(dec)).alias("__sxy"),
        F.sum(F.col("__x").cast(dec) * F.col("__x").cast(dec)).alias("__sxx"),
        F.sum(F.col("__y").cast(dec) * F.col("__y").cast(dec)).alias("__syy"),
        F.sum(F.when(F.col("split") == "a", F.col("__x").cast(dec))).alias("__sxa"),
        F.sum(F.when(F.col("split") == "a", F.col("__y").cast(dec))).alias("__sya"),
    )
    n = F.col("n").cast("double")
    n_a = F.col("n_a").cast("double")
    n_b = n - n_a
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxy = F.col("__sxy").cast("double")
    sxx = F.col("__sxx").cast("double")
    syy = F.col("__syy").cast("double")
    sxa = F.col("__sxa").cast("double")
    sya = F.col("__sya").cast("double")
    cov_n = n * sxy - sx * sy
    var_x_n = n * sxx - sx * sx
    var_y_n = n * syy - sy * sy
    theta = cov_n / var_x_n
    mean_y_a = sya / n_a / SCALE
    mean_y_b = (sy - sya) / n_b / SCALE
    mean_x_a = sxa / n_a / SCALE
    mean_x_b = (sx - sxa) / n_b / SCALE
    diff_raw = mean_y_a - mean_y_b
    diff_adj = diff_raw - theta * (mean_x_a - mean_x_b)
    var_red = (cov_n * cov_n) / (var_x_n * var_y_n)
    return g.filter((F.col("n") >= 2)).select(
        F.col("n_a").cast("bigint").alias("n_a"),
        (F.col("n") - F.col("n_a")).cast("bigint").alias("n_b"),
        F.round(theta, 6).alias("theta"),
        F.round(diff_raw, 6).alias("diff_raw"),
        F.round(diff_adj, 6).alias("diff_adj"),
        F.round(var_red, 6).alias("var_reduction"),
    )


def _cuped_sql() -> str:
    from crypto_price_tracker_with_etl_dashboard_spark.functions.sampling import (
        sql_lcg_bucket,
    )

    return f"""
    WITH per_user AS (
      SELECT CASE WHEN {sql_lcg_bucket('user_id')} < 50 THEN 'a' ELSE 'b' END
               AS split,
             user_id,
             CAST(SUM(CASE WHEN ts < TIMESTAMP '{_CUPED_CUT}'
                  THEN CAST(round(value * {SCALE}) AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(SUM(CASE WHEN ts >= TIMESTAMP '{_CUPED_CUT}'
                  THEN CAST(round(value * {SCALE}) AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS y
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    ),
    g AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CASE WHEN split = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             SUM(CAST(x AS DECIMAL(38,0))) AS sx,
             SUM(CAST(y AS DECIMAL(38,0))) AS sy,
             SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sxy,
             SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx,
             SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS syy,
             SUM(CASE WHEN split = 'a' THEN CAST(x AS DECIMAL(38,0)) END) AS sxa,
             SUM(CASE WHEN split = 'a' THEN CAST(y AS DECIMAL(38,0)) END) AS sya
      FROM per_user
    ),
    t AS (
      SELECT n_a, CAST(n AS BIGINT) - n_a AS n_b,
             CAST(n AS DOUBLE) AS nd, CAST(n_a AS DOUBLE) AS nad,
             CAST(n AS DOUBLE) - CAST(n_a AS DOUBLE) AS nbd,
             CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
             CAST(sxy AS DOUBLE) AS sxyd, CAST(sxx AS DOUBLE) AS sxxd,
             CAST(syy AS DOUBLE) AS syyd,
             CAST(sxa AS DOUBLE) AS sxad, CAST(sya AS DOUBLE) AS syad
      FROM g WHERE n >= 2
    )
    SELECT n_a, n_b,
           round((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd), 6) AS theta,
           round(syad / nad / {SCALE} - (syd - syad) / nbd / {SCALE}, 6) AS diff_raw,
           round((syad / nad / {SCALE} - (syd - syad) / nbd / {SCALE})
                 - ((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd))
                   * (sxad / nad / {SCALE} - (sxd - sxad) / nbd / {SCALE}), 6)
             AS diff_adj,
           round(((nd * sxyd - sxd * syd) * (nd * sxyd - sxd * syd))
                 / ((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd)), 6)
             AS var_reduction
    FROM t
    """


register("events_cuped_lift", q_events_cuped_lift, _cuped_sql())


# ---- Kaplan-Meier survival (weekly churn curve) -----------------------------
# The product-limit estimator over engagement lifetimes: a subject
# is a (user, event_type) pair — "how long does a user keep doing
# X?" — whose lifetime is first-to-last occurrence in whole weeks;
# churn is OBSERVED only when the pair has been silent for >=
# _CHURN_QUIET_DAYS before the dataset's last day — every pair still
# active near the end is right-censored (at risk, but not dead).
# The per-user-only cut degenerates on this corpus (nearly every
# user stays active to the last week, so zero observed deaths); the
# engagement cut has real churn mass at every sf.  The survival product is
# the fourth certified arbitrary-length integer recursion
# (operators/survival.py; WITH RECURSIVE oracle).  One shuffle on
# user_id; the fold runs on the calendar-bounded duration histogram.

_CHURN_QUIET_DAYS = 14


def q_events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    users = ev.groupBy("user_id", "event_type").agg(
        F.min(F.to_date("ts")).alias("f"),
        F.max(F.to_date("ts")).alias("l"),
    )
    mx = users.agg(F.max("l").alias("mxd"))
    lifetimes = users.crossJoin(F.broadcast(mx)).select(
        F.expr("datediff(l, f) div 7").alias("duration_weeks"),
        (F.col("l") <= F.date_sub("mxd", _CHURN_QUIET_DAYS)).alias("churned"),
    )
    return km_curve(lifetimes)


_KM_LIFETIMES_SQL = f"""
      SELECT date_diff('day', f, l) // 7 AS duration_weeks,
             l <= mxd - INTERVAL {_CHURN_QUIET_DAYS} DAY AS churned
      FROM (
        SELECT CAST(MIN(ts) AS DATE) AS f, CAST(MAX(ts) AS DATE) AS l
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        GROUP BY user_id, event_type
      ),
      (
        SELECT MAX(CAST(ts AS DATE)) AS mxd
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      )
"""

register("events_survival_km", q_events_survival_km, sql_km_curve(_KM_LIFETIMES_SQL))


# ---- Two-sample KS test between hash splits ---------------------------------
# Did the deterministic splitter bias the value distribution?  The
# Kolmogorov-Smirnov statistic sup |F_a - F_b| between the two
# halves of an LCG hash split, with the ECDFs evaluated on the
# integer value grid (floor(value)) — a binned KS: the sup over bin
# EDGES, exact for the binned distributions and a lower bound for
# the continuous one (documented trade; the grid keeps the
# cumulative window O(value range), never O(corpus)).  Counts per
# (bin, split) aggregate with map-side partials in ONE shuffle;
# cumulative shares are exact integer ppm so the argmax row is a
# hard verdict on both engines.

def q_events_ks_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_price_tracker_with_etl_dashboard_spark.functions.sampling import (
        lcg_bucket,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_id").isNotNull()
    )
    binned = ev.select(
        F.floor("value").alias("g"),
        lcg_bucket("event_id", 2).alias("split"),
    )
    grid = binned.groupBy("g").agg(
        F.sum(F.when(F.col("split") == 0, 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("split") == 1, 1).otherwise(0)).alias("nb"),
    )
    wcum = Window.orderBy("g").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # totals = the cumulative sums' final value (monotone), read from
    # an unbounded frame in the SAME tiny single-partition window
    # stage — a separate grid.agg() branch would re-scan and
    # re-shuffle the corpus a second time (caught by the plan pin)
    wall = Window.orderBy("g").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = grid.select(
        "g",
        F.sum("na").over(wcum).alias("ca"),
        F.sum("nb").over(wcum).alias("cb"),
        F.sum("na").over(wall).alias("ta"),
        F.sum("nb").over(wall).alias("tb"),
    )
    diff = cum.select(
        "g",
        F.abs(
            F.expr("ca * 1000000 div ta") - F.expr("cb * 1000000 div tb")
        ).alias("d_ppm"),
        F.col("ta").alias("n_a"),
        F.col("tb").alias("n_b"),
    )
    return (
        diff.orderBy(F.col("d_ppm").desc(), F.col("g").asc())
        .limit(1)
        .select(
            F.col("d_ppm").alias("ks_ppm"),
            F.col("g").alias("at_value"),
            "n_a",
            "n_b",
        )
    )


def _ks_sql() -> str:
    from crypto_price_tracker_with_etl_dashboard_spark.functions.sampling import (
        sql_lcg_bucket,
    )

    split = sql_lcg_bucket("event_id", 2)
    return f"""
    WITH binned AS (
      SELECT CAST(floor(value) AS BIGINT) AS g, {split} AS split
      FROM events WHERE value IS NOT NULL AND event_id IS NOT NULL
    ),
    grid AS (
      SELECT g,
             CAST(SUM(CASE WHEN split = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(SUM(CASE WHEN split = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
      FROM binned GROUP BY 1
    ),
    cum AS (
      SELECT g,
             CAST(SUM(na) OVER (ORDER BY g
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ca,
             CAST(SUM(nb) OVER (ORDER BY g
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cb,
             CAST(SUM(na) OVER () AS BIGINT) AS ta,
             CAST(SUM(nb) OVER () AS BIGINT) AS tb
      FROM grid
    )
    SELECT abs((ca * 1000000) // ta - (cb * 1000000) // tb) AS ks_ppm,
           g AS at_value, ta AS n_a, tb AS n_b
    FROM cum
    ORDER BY ks_ppm DESC, g ASC
    LIMIT 1
    """


register("events_ks_split", q_events_ks_split, _ks_sql())


# ---- Per-group winsorization report ----------------------------------------
# Robust data cleaning: clip each group's values at its exact
# p05/p95 order statistics (rank ceil(n/20), integer arithmetic — no
# float percentile-index boundary risk) and report the raw vs
# winsorized fixed-point means.  One per-type rank pass finds the
# cut values; the O(groups) cut table broadcasts back onto a second
# scan for the clipped aggregate — the same stats-broadcast shape as
# the z-score/MAD outlier family, never a corpus-wide window.

def q_events_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    ).select("event_type", "value", "event_id")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    # group size from an unbounded frame in the SAME per-type sort as
    # the rank — a separate groupBy(count) branch would pay one more
    # corpus scan + shuffle (caught by the plan pin)
    wn = Window.partitionBy("event_type").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = ev.select(
        "event_type", "value",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    lo_rank = F.expr("(n + 19) div 20")          # ceil(n/20) = p05 rank
    hi_rank = F.col("n") + 1 - F.expr("(n + 19) div 20")
    cuts = (
        ranked.filter((F.col("rn") == lo_rank) | (F.col("rn") == hi_rank))
        .groupBy("event_type")
        .agg(
            F.min(F.when(F.col("rn") == lo_rank, F.col("value"))).alias("lo_cut"),
            F.max(F.when(F.col("rn") == hi_rank, F.col("value"))).alias("hi_cut"),
        )
    )
    clipped = ev.join(F.broadcast(cuts), "event_type").select(
        "event_type",
        "value",
        F.least(F.greatest(F.col("value"), F.col("lo_cut")), F.col("hi_cut")).alias("wv"),
    )
    agg = clipped.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value") * SCALE).cast("bigint")).alias("__sr"),
        F.sum(F.round(F.col("wv") * SCALE).cast("bigint")).alias("__sw"),
    )
    return (
        agg.join(F.broadcast(cuts), "event_type")
        .select(
            "event_type",
            "n",
            "lo_cut",
            "hi_cut",
            F.round((F.col("__sr").cast("double") / SCALE) / F.col("n"), 6).alias(
                "mean_raw"
            ),
            F.round((F.col("__sw").cast("double") / SCALE) / F.col("n"), 6).alias(
                "mean_winsor"
            ),
        )
        .orderBy("event_type")
    )


register(
    "events_winsorize",
    q_events_winsorize,
    f"""
    WITH ev AS (
      SELECT event_type, value, event_id FROM events WHERE value IS NOT NULL
    ),
    counts AS (SELECT event_type, COUNT(*) AS n FROM ev GROUP BY 1),
    ranked AS (
      SELECT e.event_type, e.value, c.n,
             row_number() OVER (PARTITION BY e.event_type
                                ORDER BY e.value ASC, e.event_id ASC) AS rn
      FROM ev e JOIN counts c USING (event_type)
    ),
    cuts AS (
      SELECT event_type,
             MIN(CASE WHEN rn = (n + 19) // 20 THEN value END) AS lo_cut,
             MAX(CASE WHEN rn = n + 1 - (n + 19) // 20 THEN value END) AS hi_cut
      FROM ranked
      WHERE rn = (n + 19) // 20 OR rn = n + 1 - (n + 19) // 20
      GROUP BY 1
    ),
    clipped AS (
      SELECT e.event_type, e.value,
             least(greatest(e.value, c.lo_cut), c.hi_cut) AS wv
      FROM ev e JOIN cuts c USING (event_type)
    ),
    agg AS (
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(CAST(round(value * {SCALE}) AS BIGINT)) AS BIGINT) AS sr,
             CAST(SUM(CAST(round(wv * {SCALE}) AS BIGINT)) AS BIGINT) AS sw
      FROM clipped GROUP BY 1
    )
    SELECT a.event_type, a.n, c.lo_cut, c.hi_cut,
           round((CAST(sr AS DOUBLE) / {SCALE}) / a.n, 6) AS mean_raw,
           round((CAST(sw AS DOUBLE) / {SCALE}) / a.n, 6) AS mean_winsor
    FROM agg a JOIN cuts c USING (event_type)
    ORDER BY a.event_type
    """,
)


# ---- Cramér's V: event_type x hour association ------------------------------
# "Does WHAT users do depend on WHEN?"  The chi-square-based
# association strength between event type and hour-of-day —
# entropy/MI needs log() (not portable bit-for-bit across libms),
# Cramér's V needs only the +-*/sqrt fixed chain.  Per-cell
# chi-square contributions are ppm-quantized to BIGINT BEFORE the
# sum (the doc_lsh_calibration pattern), so the 120-term total is
# order/partitioning-proof; the corpus pays one (type, hour) agg and
# every total joins back onto the tiny contingency table.

def q_events_type_hour_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    cells = ev.groupBy(
        "event_type", F.hour("ts").alias("hr")
    ).agg(F.count("*").alias("o"))
    rt = cells.groupBy("event_type").agg(F.sum("o").alias("rt"))
    ct = cells.groupBy("hr").agg(F.sum("o").alias("ct"))
    tot = cells.agg(
        F.sum("o").alias("n"),
        F.count_distinct("event_type").alias("r"),
        F.count_distinct("hr").alias("c"),
    )
    contrib = (
        cells.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "hr")
        .crossJoin(F.broadcast(tot))
        .select(
            "n", "r", "c",
            F.round(
                (
                    (F.col("o").cast("double")
                     - F.col("rt").cast("double") * F.col("ct").cast("double")
                     / F.col("n").cast("double"))
                    * (F.col("o").cast("double")
                       - F.col("rt").cast("double") * F.col("ct").cast("double")
                       / F.col("n").cast("double"))
                    / (F.col("rt").cast("double") * F.col("ct").cast("double")
                       / F.col("n").cast("double"))
                )
                * 1000000.0
            )
            .cast("bigint")
            .alias("contrib_ppm"),
        )
    )
    agg = contrib.groupBy("n", "r", "c").agg(
        F.sum("contrib_ppm").alias("chi2_ppm")
    )
    v = F.sqrt(
        (F.col("chi2_ppm").cast("double") / 1000000.0)
        / (F.col("n") * F.least(F.col("r") - 1, F.col("c") - 1)).cast("double")
    )
    return agg.select(
        "n",
        F.col("r").cast("bigint").alias("n_types"),
        F.col("c").cast("bigint").alias("n_hours"),
        "chi2_ppm",
        F.round(v, 6).alias("cramers_v"),
    )


register(
    "events_type_hour_assoc",
    q_events_type_hour_assoc,
    """
    WITH cells AS (
      SELECT event_type, hour(ts) AS hr, COUNT(*) AS o
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ),
    rt AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
    ct AS (SELECT hr, CAST(SUM(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
    tot AS (
      SELECT CAST(SUM(o) AS BIGINT) AS n,
             COUNT(DISTINCT event_type) AS r,
             COUNT(DISTINCT hr) AS c
      FROM cells
    ),
    contrib AS (
      SELECT n, r, c,
             CAST(round(
               (CAST(o AS DOUBLE)
                - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(o AS DOUBLE)
                  - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
               / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
               * 1000000.0) AS BIGINT) AS contrib_ppm
      FROM cells JOIN rt USING (event_type) JOIN ct USING (hr), tot
    ),
    agg AS (
      SELECT n, r, c, CAST(SUM(contrib_ppm) AS BIGINT) AS chi2_ppm
      FROM contrib GROUP BY 1, 2, 3
    )
    SELECT n, CAST(r AS BIGINT) AS n_types, CAST(c AS BIGINT) AS n_hours,
           chi2_ppm,
           round(sqrt((CAST(chi2_ppm AS DOUBLE) / 1000000.0)
                      / CAST(n * least(r - 1, c - 1) AS DOUBLE)), 6) AS cramers_v
    FROM agg
    """,
)


# ---- Item-item collaborative filtering --------------------------------------
# "Users who touched k also touched..." — the item-item CF backbone
# (Sarwar et al., WWW 2001): cosine similarity between items from
# binary user-item co-occurrence, sim(i,j) = c_ij / sqrt(c_i * c_j).
# Items come from the event payload (props.k).  The pair stage is
# the basket-affinity plan: per-user sorted item sets (capped — one
# power user cannot explode the quadratic stage), map-side pair
# expansion, one (i, j) shuffle; marginals come from the UNCAPPED
# table and broadcast.  Cosine is one sqrt over exact integers,
# rounded at 6 dp.

_CF_MAX_ITEMS = 64
_CF_MIN_CO = 3


def q_events_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    # ui feeds TWO consumers (item counts + per-user sets): truncate
    # the scan -> json parse -> distinct pipeline once (r12)
    ui = ev.select(
        "user_id",
        F.from_json(F.col("props"), "k BIGINT")["k"].alias("item"),
    ).filter(F.col("item").isNotNull()).distinct().localCheckpoint(eager=False)
    item_n = ui.groupBy("item").agg(F.count("*").alias("n"))
    sets = (
        ui.groupBy("user_id")
        .agg(F.sort_array(F.collect_set("item")).alias("its"))
        .filter((F.size("its") >= 2) & (F.size("its") <= _CF_MAX_ITEMS))
    )
    pairs = F.expr(
        "flatten(transform(its, (x, i) ->"
        " transform(slice(its, i + 2, size(its) - i - 1),"
        " y -> struct(x AS ia, y AS ib))))"
    )
    co = (
        sets.select(F.explode_outer(pairs).alias("pr"))
        .filter(F.col("pr").isNotNull())
        .groupBy(F.col("pr.ia").alias("item_a"), F.col("pr.ib").alias("item_b"))
        .agg(F.count("*").alias("co_users"))
        .filter(F.col("co_users") >= _CF_MIN_CO)
    )
    na = item_n.select(F.col("item").alias("item_a"), F.col("n").alias("__na"))
    nb = item_n.select(F.col("item").alias("item_b"), F.col("n").alias("__nb"))
    cos = F.col("co_users").cast("double") / F.sqrt(
        (F.col("__na") * F.col("__nb")).cast("double")
    )
    return (
        co.join(F.broadcast(na), "item_a")
        .join(F.broadcast(nb), "item_b")
        .select(
            "item_a", "item_b", "co_users", F.round(cos, 6).alias("cosine")
        )
        .orderBy(F.col("cosine").desc(), "item_a", "item_b")
    )


register(
    "events_item_cf",
    q_events_item_cf,
    f"""
    WITH ui AS (
      SELECT DISTINCT user_id,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
      FROM events WHERE user_id IS NOT NULL
        AND json_extract_string(props, '$.k') IS NOT NULL
    ),
    item_n AS (SELECT item, COUNT(*) AS n FROM ui GROUP BY 1),
    usets AS (
      SELECT user_id, COUNT(*) AS sz FROM ui GROUP BY 1
      HAVING COUNT(*) BETWEEN 2 AND {_CF_MAX_ITEMS}
    ),
    co AS (
      SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS co_users
      FROM ui a
      JOIN ui b ON a.user_id = b.user_id AND a.item < b.item
      JOIN usets u ON u.user_id = a.user_id
      GROUP BY 1, 2
      HAVING COUNT(*) >= {_CF_MIN_CO}
    )
    SELECT item_a, item_b, co_users,
           round(CAST(co_users AS DOUBLE)
                 / sqrt(CAST(na.n * nb.n AS DOUBLE)), 6) AS cosine
    FROM co
    JOIN item_n na ON na.item = item_a
    JOIN item_n nb ON nb.item = item_b
    ORDER BY cosine DESC, item_a, item_b
    """,
)


# ---- Sequential pattern support (A happens-before B) ------------------------
# Which event-type orderings do users actually follow?  The
# gap-allowed sequential-pattern complement of events_markov (which
# counts only ADJACENT transitions): support(a -> b) = number of
# users with SOME a event strictly before SOME b event, however many
# events sit between.  "exists a before some b" collapses to one
# composite comparison per (user, pair): FIRST a occurrence <
# LAST b occurrence, on the engine-total (ts, event_id) order — so
# the corpus pays exactly one (user_id, event_type) aggregation
# shuffle, the per-user pair expansion is |types|^2 (bounded by the
# tiny type vocabulary, not by event volume), and the pair count is
# a map-side-combinable second aggregate.  The denominator (distinct
# users) broadcasts as one row.  At 100 TB the plan is unchanged:
# the only data-sized shuffle is the per-(user, type) min/max fold.

def q_events_seq_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    spans = ev.groupBy("user_id", "event_type").agg(
        F.min(F.struct(F.col("ts"), F.col("event_id"))).alias("first"),
        F.max(F.struct(F.col("ts"), F.col("event_id"))).alias("last"),
    )
    a = spans.select(
        "user_id",
        F.col("event_type").alias("src"),
        F.col("first.ts").alias("a_ts"),
        F.col("first.event_id").alias("a_id"),
    )
    b = spans.select(
        "user_id",
        F.col("event_type").alias("dst"),
        F.col("last.ts").alias("b_ts"),
        F.col("last.event_id").alias("b_id"),
    )
    ordered = (
        a.join(b, "user_id")
        .filter(F.col("src") != F.col("dst"))
        .filter(
            (F.col("a_ts") < F.col("b_ts"))
            | ((F.col("a_ts") == F.col("b_ts")) & (F.col("a_id") < F.col("b_id")))
        )
    )
    n_users = ev.agg(
        F.count_distinct("user_id").cast("bigint").alias("n_users")
    )
    return (
        ordered.groupBy("src", "dst")
        .agg(F.count("*").cast("bigint").alias("support"))
        .crossJoin(F.broadcast(n_users))
        .select(
            "src",
            "dst",
            "support",
            F.expr("support * 1000000 div n_users").alias("support_ppm"),
        )
        .orderBy(F.col("support").desc(), "src", "dst")
    )


register(
    "events_seq_pairs",
    q_events_seq_pairs,
    """
    WITH ev AS (
      SELECT user_id, event_type, ts, event_id FROM events
      WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    ),
    spans AS (
      SELECT user_id, event_type,
             MIN(ROW(ts, event_id)) AS first_occ,
             MAX(ROW(ts, event_id)) AS last_occ
      FROM ev GROUP BY 1, 2
    ),
    n AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM ev),
    pairs AS (
      SELECT a.event_type AS src, b.event_type AS dst, COUNT(*) AS support
      FROM spans a
      JOIN spans b ON a.user_id = b.user_id AND a.event_type <> b.event_type
      WHERE a.first_occ < b.last_occ
      GROUP BY 1, 2
    )
    SELECT src, dst, CAST(support AS BIGINT) AS support,
           CAST(support * 1000000 // n_users AS BIGINT) AS support_ppm
    FROM pairs, n
    ORDER BY support DESC, src, dst
    """,
)


# ---- bot / automation screen ---------------------------------------------------
# Per-user behavioral bot heuristics — the spam/automation filter a
# training-data pipeline runs over interaction logs before using them
# as signals: (1) peak events in any single clock hour, (2) the share
# of follow-up events arriving < 1 s after the previous one, (3) the
# share of the user's most common event type.  All three are integer/
# ppm-exact (timestamps compare in exact microseconds); the flag is a
# pure integer-threshold disjunction, certified bit-for-bit.
_BOT_PEAK_HOURLY = 60
_BOT_RAPID_PPM = 500_000
_BOT_TOP_TYPE_PPM = 950_000


def q_events_bot_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    hourly = (
        ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("__h"))
        .agg(F.count("*").alias("c"))
        .groupBy("user_id")
        .agg(F.max("c").cast("bigint").alias("peak_hourly"))
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    gaps = (
        ev.select(
            "user_id",
            # ts is TIMESTAMP_NTZ; the session tz is pinned UTC, so
            # the cast matches DuckDB's naive epoch_us exactly
            (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.lag(F.unix_micros(F.col("ts").cast("timestamp"))).over(w)
            ).alias("__gap_us"),
        )
        .groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(
                F.when(F.col("__gap_us") < 1_000_000, 1).otherwise(0)
            ).cast("bigint").alias("rapid_followups"),
        )
    )
    top_type = (
        ev.groupBy("user_id", "event_type")
        .agg(F.count("*").alias("c"))
        .groupBy("user_id")
        .agg(F.max("c").cast("bigint").alias("top_type_n"))
    )
    joined = gaps.join(hourly, "user_id").join(top_type, "user_id")
    return joined.select(
        "user_id", "n_events", "peak_hourly", "rapid_followups",
        F.expr(
            "CASE WHEN n_events > 1"
            " THEN rapid_followups * 1000000 div (n_events - 1)"
            " ELSE CAST(0 AS BIGINT) END"
        ).alias("rapid_ppm"),
        F.expr("top_type_n * 1000000 div n_events").alias("top_type_ppm"),
    ).select(
        "*",
        (
            (F.col("peak_hourly") >= _BOT_PEAK_HOURLY)
            | (F.col("rapid_ppm") >= _BOT_RAPID_PPM)
            | (F.col("top_type_ppm") >= _BOT_TOP_TYPE_PPM)
        ).alias("bot_flag"),
    ).orderBy("user_id")


register(
    "events_bot_screen",
    q_events_bot_screen,
    f"""
    WITH ev AS (
      SELECT * FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    hourly AS (
      SELECT user_id, CAST(MAX(c) AS BIGINT) AS peak_hourly FROM (
        SELECT user_id, date_trunc('hour', ts) AS h, COUNT(*) AS c
        FROM ev GROUP BY 1, 2
      ) GROUP BY user_id
    ),
    gaps AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CASE WHEN gap_us < 1000000 THEN 1 ELSE 0 END) AS BIGINT)
               AS rapid_followups
      FROM (
        SELECT user_id,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (
                 PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ) AS gap_us
        FROM ev
      ) GROUP BY user_id
    ),
    top_type AS (
      SELECT user_id, CAST(MAX(c) AS BIGINT) AS top_type_n FROM (
        SELECT user_id, event_type, COUNT(*) AS c FROM ev GROUP BY 1, 2
      ) GROUP BY user_id
    ),
    m AS (
      SELECT g.user_id, g.n_events, h.peak_hourly, g.rapid_followups,
             CASE WHEN g.n_events > 1
                  THEN g.rapid_followups * 1000000 // (g.n_events - 1)
                  ELSE CAST(0 AS BIGINT) END AS rapid_ppm,
             t.top_type_n * 1000000 // g.n_events AS top_type_ppm
      FROM gaps g JOIN hourly h USING (user_id) JOIN top_type t USING (user_id)
    )
    SELECT *,
           (peak_hourly >= {_BOT_PEAK_HOURLY}
            OR rapid_ppm >= {_BOT_RAPID_PPM}
            OR top_type_ppm >= {_BOT_TOP_TYPE_PPM}) AS bot_flag
    FROM m ORDER BY user_id
    """,
)


# ---- session bounce rate ---------------------------------------------------------
# Product-analytics staple over the batch gap-sessionization (the
# events_sessionize 30-minute rule): per day of session start, how
# many sessions consist of a single event (a "bounce")?  One user-key
# window pass to assign sessions, one (user, session) rollup, one
# day rollup — all integer.


def q_events_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    w_user = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w_user))
    sess = (
        ev.withColumn(
            "__new",
            F.when(gap.isNull() | (gap > 1800), F.lit(1)).otherwise(F.lit(0)),
        )
        .withColumn(
            "__sid",
            F.sum("__new").over(
                w_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "__sid")
        .agg(F.count("*").alias("n_events"), F.min("ts").alias("start_ts"))
    )
    return (
        sess.groupBy(F.to_date("start_ts").alias("day"))
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum((F.col("n_events") == 1).cast("bigint")).alias("bounces"),
        )
        .select(
            "day", "n_sessions", "bounces",
            F.expr("bounces * 1000000 div n_sessions").alias("bounce_ppm"),
        )
        .orderBy("day")
    )


register(
    "events_bounce_rate",
    q_events_bounce_rate,
    """
    WITH ev AS (
      SELECT * FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END AS is_new
      FROM (
        SELECT user_id, ts, event_id,
               epoch(ts) - lag(epoch(ts)) OVER (
                 PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ) AS gap
        FROM ev
      )
    ),
    sess AS (
      SELECT user_id,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sid,
             ts
      FROM flagged
    ),
    rolled AS (
      SELECT user_id, sid, COUNT(*) AS n_events, MIN(ts) AS start_ts
      FROM sess GROUP BY 1, 2
    )
    SELECT CAST(start_ts AS DATE) AS day,
           COUNT(*) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS bounces,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             * 1000000 // COUNT(*) AS bounce_ppm
    FROM rolled GROUP BY 1 ORDER BY 1
    """,
)


# ---- event-sequence legality violations -------------------------------------------
# Log data-quality screen: flows that are impossible under the
# product's state machine.  The certified rule — a purchase before
# the user's FIRST signup (or with no signup at all) — is the
# canonical funnel-order violation; the flag is one first-timestamp
# comparison per user, so the whole screen is a single user-key
# aggregate and a corpus-level ppm rollup.
def q_events_sequence_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias(
            "first_signup"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    flags = per_user.select(
        "user_id",
        (
            F.col("first_purchase").isNotNull()
            & (
                F.col("first_signup").isNull()
                | (F.col("first_purchase") < F.col("first_signup"))
            )
        ).alias("purchase_before_signup"),
    )
    return flags.agg(
        F.count("*").alias("n_users"),
        F.sum(F.col("purchase_before_signup").cast("bigint")).alias(
            "violating_users"
        ),
    ).select(
        "n_users", "violating_users",
        F.expr("violating_users * 1000000 div n_users").alias("violation_ppm"),
    )


register(
    "events_sequence_violations",
    q_events_sequence_violations,
    """
    WITH per_user AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup' THEN ts END) AS first_signup,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      GROUP BY user_id
    ),
    flags AS (
      SELECT user_id,
             (first_purchase IS NOT NULL AND
              (first_signup IS NULL OR first_purchase < first_signup))
               AS violating
      FROM per_user
    )
    SELECT COUNT(*) AS n_users,
           CAST(SUM(CASE WHEN violating THEN 1 ELSE 0 END) AS BIGINT)
             AS violating_users,
           CAST(SUM(CASE WHEN violating THEN 1 ELSE 0 END) AS BIGINT)
             * 1000000 // COUNT(*) AS violation_ppm
    FROM flags
    """,
)


# ---- difference-in-differences lift --------------------------------------------
# The experimentation family's third estimator (z-test lift, CUPED,
# now DiD): treatment assignment by the deterministic user hash,
# pre/post split at a fixed date, estimate = (T_post - T_pre) -
# (C_post - C_pre) on per-user daily means.  All four cell means come
# from exact integer cent sums; the estimate is one shared double
# expression — the causal readout when treatment starts at a known
# date and groups have different baselines.
_DID_SPLIT_DATE = "2024-01-15"
_DID_EXPR = (
    "((CAST(t_post AS DOUBLE) / CAST(n_t_post AS DOUBLE)"
    "  - CAST(t_pre AS DOUBLE) / CAST(n_t_pre AS DOUBLE))"
    " - (CAST(c_post AS DOUBLE) / CAST(n_c_post AS DOUBLE)"
    "    - CAST(c_pre AS DOUBLE) / CAST(n_c_pre AS DOUBLE)))"
)


def q_events_did_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_price_tracker_with_etl_dashboard_spark.functions.sampling import (
        lcg_bucket,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )
    cells = ev.select(
        (lcg_bucket("user_id", 2) == 1).alias("treated"),
        (F.to_date("ts") >= F.lit(_DID_SPLIT_DATE)).alias("post"),
        F.round(F.col("value") * 100).cast("bigint").alias("vc"),
    ).groupBy().agg(
        F.sum(F.when(F.col("treated") & F.col("post"), F.col("vc"))).alias("t_post"),
        F.count(F.when(F.col("treated") & F.col("post"), 1)).alias("n_t_post"),
        F.sum(F.when(F.col("treated") & ~F.col("post"), F.col("vc"))).alias("t_pre"),
        F.count(F.when(F.col("treated") & ~F.col("post"), 1)).alias("n_t_pre"),
        F.sum(F.when(~F.col("treated") & F.col("post"), F.col("vc"))).alias("c_post"),
        F.count(F.when(~F.col("treated") & F.col("post"), 1)).alias("n_c_post"),
        F.sum(F.when(~F.col("treated") & ~F.col("post"), F.col("vc"))).alias("c_pre"),
        F.count(F.when(~F.col("treated") & ~F.col("post"), 1)).alias("n_c_pre"),
    )
    return cells.select(
        F.col("n_t_pre").cast("bigint").alias("n_t_pre"),
        F.col("n_t_post").cast("bigint").alias("n_t_post"),
        F.col("n_c_pre").cast("bigint").alias("n_c_pre"),
        F.col("n_c_post").cast("bigint").alias("n_c_post"),
        F.expr(_DID_EXPR).alias("did_cents"),
    )


def _did_sql() -> str:
    from crypto_price_tracker_with_etl_dashboard_spark.functions.sampling import (
        sql_lcg_bucket,
    )

    treated = f"({sql_lcg_bucket('user_id', 2)}) = 1"
    return f"""
    WITH cells AS (
      SELECT
        CAST(SUM(CASE WHEN {treated} AND post THEN vc END) AS BIGINT) AS t_post,
        COUNT(CASE WHEN {treated} AND post THEN 1 END) AS n_t_post,
        CAST(SUM(CASE WHEN {treated} AND NOT post THEN vc END) AS BIGINT) AS t_pre,
        COUNT(CASE WHEN {treated} AND NOT post THEN 1 END) AS n_t_pre,
        CAST(SUM(CASE WHEN NOT ({treated}) AND post THEN vc END) AS BIGINT) AS c_post,
        COUNT(CASE WHEN NOT ({treated}) AND post THEN 1 END) AS n_c_post,
        CAST(SUM(CASE WHEN NOT ({treated}) AND NOT post THEN vc END) AS BIGINT) AS c_pre,
        COUNT(CASE WHEN NOT ({treated}) AND NOT post THEN 1 END) AS n_c_pre
      FROM (
        SELECT user_id,
               CAST(ts AS DATE) >= DATE '{_DID_SPLIT_DATE}' AS post,
               CAST(round(value * 100) AS BIGINT) AS vc
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
      )
    )
    SELECT CAST(n_t_pre AS BIGINT) AS n_t_pre,
           CAST(n_t_post AS BIGINT) AS n_t_post,
           CAST(n_c_pre AS BIGINT) AS n_c_pre,
           CAST(n_c_post AS BIGINT) AS n_c_post,
           {_DID_EXPR} AS did_cents
    FROM cells
    """


register("events_did_lift", q_events_did_lift, _did_sql())


# ---- leaderboard churn -------------------------------------------------------
# Stability of the daily top-10 heavy hitters: how much of today's
# value leaderboard is still on it tomorrow?  Rapid churn means
# concentration metrics (Gini, HHI, per-user caps) need re-tuning
# faster than a weekly job.  Per-day ranks are deterministic
# (value-cents desc, user asc); the day-pair overlap is an exact
# integer semi-join count.
_CHURN_TOP_K = 10


def q_events_top_user_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )
    daily = ev.groupBy(
        F.to_date("ts").alias("day"), "user_id"
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("bigint")
        .alias("vc")
    )
    w = Window.partitionBy("day").orderBy(
        F.col("vc").desc(), F.col("user_id").asc()
    )
    top = (
        daily.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= _CHURN_TOP_K)
        .select("day", "user_id")
    )
    nxt = top.select(
        F.expr("date_add(day, -1)").alias("day"),
        F.col("user_id").alias("user_next"),
    )
    overlap = (
        top.join(nxt, (top["day"] == nxt["day"]) & (top["user_id"] == nxt["user_next"]))
        .groupBy(top["day"].alias("day"))
        .agg(F.count("*").cast("bigint").alias("overlap"))
    )
    days = top.groupBy("day").agg(F.count("*").cast("bigint").alias("k"))
    max_day = days.agg(F.max("day").alias("max_day"))
    return (
        days.join(overlap, "day", "left")
        .crossJoin(F.broadcast(max_day))
        .filter(F.col("day") < F.col("max_day"))
        .select(
            "day", "k",
            F.coalesce(F.col("overlap"), F.lit(0)).cast("bigint").alias("overlap"),
        )
        .select(
            "*",
            F.expr("(k - overlap) * 1000000 div k").alias("churn_ppm"),
        )
        .orderBy("day")
    )


register(
    "events_top_user_churn",
    q_events_top_user_churn,
    f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, user_id,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS vc
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
      GROUP BY 1, 2
    ),
    top AS (
      SELECT day, user_id FROM (
        SELECT day, user_id,
               row_number() OVER (PARTITION BY day
                                  ORDER BY vc DESC, user_id ASC) AS rn
        FROM daily
      ) WHERE rn <= {_CHURN_TOP_K}
    ),
    days AS (SELECT day, COUNT(*) AS k FROM top GROUP BY 1),
    ovl AS (
      SELECT t.day, COUNT(*) AS overlap
      FROM top t JOIN top n
        ON n.day = t.day + 1 AND n.user_id = t.user_id
      GROUP BY t.day
    ),
    md AS (SELECT MAX(day) AS max_day FROM top)
    SELECT d.day, CAST(d.k AS BIGINT) AS k,
           CAST(COALESCE(o.overlap, 0) AS BIGINT) AS overlap,
           (CAST(d.k AS BIGINT) - CAST(COALESCE(o.overlap, 0) AS BIGINT))
             * 1000000 // CAST(d.k AS BIGINT) AS churn_ppm
    FROM days d LEFT JOIN ovl o USING (day) CROSS JOIN md
    WHERE d.day < max_day
    ORDER BY d.day
    """,
)


# ---- position-based (U-shaped) attribution ---------------------------------------
# Multi-touch attribution next to events_attribution's last-touch
# rule: credit each pre-conversion touchpoint 40% first / 40% last /
# 20% split across the middles (the classic U-shape), in integer ppm
# with the division remainder assigned to the LAST touch so every
# user's credit sums to exactly 1e6.  Touches are the user's events
# strictly before their first purchase (ts, event_id lexicographic);
# single-touch paths get the full credit, two-touch paths split
# 50/50.  One user-key sort shared by the position ranks; O(types)
# output.


def q_events_position_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    w_first = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("__rn", F.row_number().over(w_first))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            F.col("ts").alias("__fp_ts"),
            F.col("event_id").alias("__fp_eid"),
        )
    )
    touches = ev.join(purchases, "user_id").filter(
        (F.col("ts") < F.col("__fp_ts"))
        | ((F.col("ts") == F.col("__fp_ts")) & (F.col("event_id") < F.col("__fp_eid")))
    )
    wp = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    ranked = (
        touches.withColumn("__pos", F.row_number().over(wp))
        .withColumn("__n", F.count("*").over(Window.partitionBy("user_id")))
    )
    credit = F.expr(
        "CASE WHEN __n = 1 THEN 1000000"
        " WHEN __n = 2 AND __pos = 1 THEN 500000"
        " WHEN __n = 2 THEN 500000"
        " WHEN __pos = 1 THEN 400000"
        " WHEN __pos = __n THEN 400000 + (200000 - (200000 div (__n - 2)) * (__n - 2))"
        " ELSE 200000 div (__n - 2) END"
    ).cast("bigint")
    return (
        ranked.select("event_type", credit.alias("__credit"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_touches"),
            F.sum("__credit").cast("bigint").alias("credit_ppm"),
        )
        .orderBy(F.col("credit_ppm").desc(), "event_type")
    )


register(
    "events_position_attribution",
    q_events_position_attribution,
    """
    WITH ev AS (
      SELECT * FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    purchases AS (
      SELECT user_id, ts AS fp_ts, event_id AS fp_eid FROM (
        SELECT user_id, ts, event_id,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts ASC, event_id ASC) AS rn
        FROM ev WHERE event_type = 'purchase'
      ) WHERE rn = 1
    ),
    touches AS (
      SELECT e.user_id, e.event_type, e.ts, e.event_id
      FROM ev e JOIN purchases p USING (user_id)
      WHERE e.ts < p.fp_ts
         OR (e.ts = p.fp_ts AND e.event_id < p.fp_eid)
    ),
    ranked AS (
      SELECT event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts ASC, event_id ASC) AS pos,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM touches
    )
    SELECT event_type,
           COUNT(*) AS n_touches,
           CAST(SUM(CASE WHEN n = 1 THEN 1000000
                         WHEN n = 2 THEN 500000
                         WHEN pos = 1 THEN 400000
                         WHEN pos = n THEN 400000
                           + (200000 - (200000 // (n - 2)) * (n - 2))
                         ELSE 200000 // (n - 2) END) AS BIGINT) AS credit_ppm
    FROM ranked GROUP BY event_type
    ORDER BY credit_ppm DESC, event_type
    """,
)


# ---- SLO error-budget burn ---------------------------------------------------
# SRE observability over the event stream: daily error rate vs a 2%
# SLO, the day's budget consumption (rate/SLO in ppm — 1e6 = exactly
# on budget), and the RUNNING cumulative burn that pages someone when
# it crosses the month's allowance.  The cumulative sum runs over the
# O(days) daily table (the date-spine prefix-sum shape the backlog
# sweep line documents).
_SLO_PPM = 20_000  # 2% error budget


def q_events_slo_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum((F.col("event_type") == "error").cast("bigint")).alias("errors"),
    )
    scored = daily.select(
        "day", "n_events", "errors",
        F.expr("errors * 1000000 div n_events").alias("error_ppm"),
        F.expr(
            f"errors * 1000000 div n_events * 1000000 div {_SLO_PPM}"
        ).alias("burn_ppm"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return scored.select(
        "day", "n_events", "errors", "error_ppm", "burn_ppm",
        F.sum("burn_ppm").over(w).cast("bigint").alias("cum_burn_ppm"),
    ).orderBy("day")


register(
    "events_slo_burn",
    q_events_slo_burn,
    f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS errors
      FROM events WHERE ts IS NOT NULL GROUP BY 1
    ),
    scored AS (
      SELECT day, n_events, errors,
             errors * 1000000 // n_events AS error_ppm,
             errors * 1000000 // n_events * 1000000 // {_SLO_PPM} AS burn_ppm
      FROM daily
    )
    SELECT day, n_events, errors, error_ppm, burn_ppm,
           CAST(SUM(burn_ppm) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_burn_ppm
    FROM scored ORDER BY day
    """,
)


# ---- decision-stump split search ------------------------------------------------
# The smallest genuinely SUPERVISED operator: find the best single
# threshold on a user's event count for predicting conversion
# (any purchase), by exact Gini impurity reduction over the distinct
# candidate thresholds.  Everything is integer counts; the impurity
# comparison multiplies through by the (positive) denominators
# instead of dividing, so the argmax is pure BIGINT arithmetic with
# a deterministic tiebreak (smallest threshold wins ties) — the
# split-finding inner loop of every tree learner, certified.


def q_events_stump_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    users = ev.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("x"),
        F.max((F.col("event_type") == "purchase").cast("bigint")).alias("y"),
    )
    # candidate thresholds: every distinct count value; split is
    # x <= t.  Cumulative (n, pos) per candidate via one sort-free
    # aggregate + ordered window over the O(distinct x) spine.
    per_x = users.groupBy("x").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("pos"),
    )
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = per_x.select(
        F.col("x").alias("t"),
        F.sum("n").over(w).cast("bigint").alias("nl"),
        F.sum("pos").over(w).cast("bigint").alias("pl"),
    )
    tot = users.agg(
        F.count("*").cast("bigint").alias("N"),
        F.sum("y").cast("bigint").alias("P"),
    )
    # weighted Gini numerator, scaled by N*nl*nr (all positive):
    # score = nl*nr*N - N*(nr*pl^2 + ... ) — equivalently minimize
    # weighted impurity nl*gini_l + nr*gini_r; multiplied through:
    #   obj(t) = nr * (pl*(nl-pl)) * N + nl * (pr*(nr-pr)) * N
    # divided by nl*nr — to avoid rational compare, score_q =
    # floor of the exact double expression (shared string).
    expr = (
        "CAST(floor(("
        " CAST(pl * (nl - pl) AS DOUBLE) / CAST(nl AS DOUBLE)"
        " + CAST((P - pl) * ((N - nl) - (P - pl)) AS DOUBLE)"
        "   / CAST(N - nl AS DOUBLE)"
        ") * 1000000.0 / CAST(N AS DOUBLE)) AS BIGINT)"
    )
    scored = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("nl") < F.col("N"))  # right side must be non-empty
        .select(
            "t", "nl", "pl", "N", "P",
            F.expr(expr).alias("impurity_q"),
        )
    )
    w2 = Window.orderBy(F.col("impurity_q").asc(), F.col("t").asc())
    return (
        scored.withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") == 1)
        .select("t", "nl", "pl", "N", "P", "impurity_q")
    )


register(
    "events_stump_split",
    q_events_stump_split,
    """
    WITH users AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x,
             CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS y
      FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    ),
    per_x AS (
      SELECT x, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS pos
      FROM users GROUP BY x
    ),
    cum AS (
      SELECT x AS t,
             CAST(SUM(n) OVER w AS BIGINT) AS nl,
             CAST(SUM(pos) OVER w AS BIGINT) AS pl
      FROM per_x
      WINDOW w AS (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS N, CAST(SUM(y) AS BIGINT) AS P
      FROM users
    ),
    scored AS (
      SELECT t, nl, pl, N, P,
             CAST(floor((
               CAST(pl * (nl - pl) AS DOUBLE) / CAST(nl AS DOUBLE)
               + CAST((P - pl) * ((N - nl) - (P - pl)) AS DOUBLE)
                 / CAST(N - nl AS DOUBLE)
             ) * 1000000.0 / CAST(N AS DOUBLE)) AS BIGINT) AS impurity_q
      FROM cum CROSS JOIN tot
      WHERE nl < N
    )
    SELECT t, nl, pl, N, P, impurity_q FROM (
      SELECT *, row_number() OVER (ORDER BY impurity_q ASC, t ASC) AS rn
      FROM scored
    ) WHERE rn = 1
    """,
)


# ---- stationary distribution of the journey Markov chain --------------------------
# Where do user journeys SETTLE?  The stationary distribution of the
# events_markov transition matrix by fixed-point power iteration —
# pi' = pi P over the |types|-row chain in integer ppm (round-half-up
# per transition product, the pagerank discipline), 6 iterations
# unrolled identically in the oracle.  Transition counts are exact
# integers; each step's per-state mass is sum((pi_src * c_sd + r/2)
# div r_src) over the observed transitions.
_MSTAT_ITERS = 6


def q_events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    steps = (
        ev.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    row_tot = steps.groupBy("src").agg(F.sum("c").cast("bigint").alias("r"))
    trans = steps.join(F.broadcast(row_tot), "src").cache()
    states = trans.select(F.col("src").alias("state")).unionByName(
        trans.select(F.col("dst").alias("state"))
    ).distinct().cache()
    n = states.count()
    if n == 0:  # no transition; the uniform start divides by n
        return states.select("state", F.lit(0).cast("bigint").alias("mass"))
    pi = states.select(
        "state", F.lit(1_000_000 // n).cast("bigint").alias("mass")
    )
    for it in range(_MSTAT_ITERS):
        pr = pi.select(F.col("state").alias("__s"), F.col("mass").alias("__m"))
        pi = (
            trans.join(F.broadcast(pr), F.col("src") == F.col("__s"))
            .select(
                F.col("dst").alias("state"),
                F.expr("(__m * c + r div 2) div r").alias("__contrib"),
            )
            .groupBy("state")
            .agg(F.sum("__contrib").cast("bigint").alias("mass"))
        )
        if it < _MSTAT_ITERS - 1:
            pi = pi.localCheckpoint(eager=False)
    return pi.orderBy(F.col("mass").desc(), "state")


def _markov_stationary_sql() -> str:
    its = []
    prev = "pi0"
    for k in range(1, _MSTAT_ITERS + 1):
        cur = f"pi{k}"
        its.append(f"""
    {cur} AS (
      SELECT t.dst AS state,
             CAST(SUM((p.mass * t.c + t.r // 2) // t.r) AS BIGINT) AS mass
      FROM trans t JOIN {prev} p ON t.src = p.state
      GROUP BY t.dst
    )""")
        prev = cur
    return f"""
    WITH steps AS (
      SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS c FROM (
        SELECT event_type AS src,
               lead(event_type) OVER (
                 PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ) AS dst
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      ) WHERE dst IS NOT NULL GROUP BY 1, 2
    ),
    row_tot AS (SELECT src, CAST(SUM(c) AS BIGINT) AS r FROM steps GROUP BY 1),
    trans AS (SELECT s.src, s.dst, s.c, rt.r FROM steps s JOIN row_tot rt USING (src)),
    states AS (
      SELECT DISTINCT state FROM (
        SELECT src AS state FROM trans
        UNION ALL SELECT dst FROM trans
      )
    ),
    nn AS (SELECT COUNT(*) AS n FROM states),
    pi0 AS (
      SELECT state, CAST(1000000 // n AS BIGINT) AS mass
      FROM states CROSS JOIN nn
    ),{','.join(its)}
    SELECT state, mass FROM {prev}
    ORDER BY mass DESC, state
    """


register(
    "events_markov_stationary",
    q_events_markov_stationary,
    _markov_stationary_sql(),
)


# ---- behavioral diversity (inverse-Simpson effective event types) ----------
# How CONCENTRATED is each heavy user's behavior?  The effective
# number of event types per user via the inverse Simpson index
# 1 / sum(p_i^2) = n^2 / sum(c_i^2) — the diversity measure that
# stays exact in integer arithmetic (Shannon entropy needs ln, whose
# last-ulp differs between Java's Math.log and libm, so the hash
# would not be engine-portable).  Top-50 users by volume, TakeOrdered
# (no single-partition window).  Scale: two hash aggs keyed on
# user_id(+type) with map-side partials; output bounded at 50 rows.
# n^2 * 1e6 stays under int64 up to ~3e6 events per user.

_DIVERSITY_TOPN = 50


def q_events_user_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    per = ev.groupBy("user_id", "event_type").agg(
        F.count("*").cast("bigint").alias("c")
    )
    agg = per.groupBy("user_id").agg(
        F.sum("c").cast("bigint").alias("n_events"),
        F.count("*").cast("bigint").alias("n_types"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("ss"),
    )
    return (
        agg.select(
            "user_id",
            "n_events",
            "n_types",
            F.expr("n_events * n_events * 1000000 div ss").alias("eff_types_ppm"),
        )
        .orderBy(F.col("n_events").desc(), F.col("user_id").asc())
        .limit(_DIVERSITY_TOPN)
    )


register(
    "events_user_diversity",
    q_events_user_diversity,
    f"""
    WITH per AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
      FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2
    ),
    agg AS (
      SELECT user_id, CAST(SUM(c) AS BIGINT) AS n_events,
             CAST(COUNT(*) AS BIGINT) AS n_types,
             CAST(SUM(c * c) AS BIGINT) AS ss
      FROM per GROUP BY 1
    )
    SELECT user_id, n_events, n_types,
           n_events * n_events * 1000000 // ss AS eff_types_ppm
    FROM agg
    ORDER BY n_events DESC, user_id ASC
    LIMIT {_DIVERSITY_TOPN}
    """,
)


# ---- join-key skew report ---------------------------------------------------
# The diagnostic a pipeline runs BEFORE choosing a join strategy on a
# key (operators/skew.py's salted join vs a plain shuffle join): key
# cardinality, max-key mass, max/mean ratio, and the top-10 keys'
# share of all rows.  One hash agg on the key; the top-10 side is a
# 10-row TakeOrdered folded back by a broadcast cross join, so the
# report is a single row regardless of input size.  salting_advised
# mirrors the >=10x-mean rule of thumb the salted-join docstring
# documents.  max_rows * n_keys * 1e6 must fit int64 — holds through
# ~1e12 row-key products; beyond that the ratio inputs are emitted
# anyway so the flag can be recomputed at lower precision.

_SKEW_TOPN = 10
_SKEW_ADVISE_RATIO_PPM = 10_000_000  # max >= 10x mean


def q_events_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    per = ev.groupBy("user_id").agg(F.count("*").cast("bigint").alias("c"))
    stats = per.agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.sum("c").cast("bigint").alias("n_rows"),
        F.max("c").cast("bigint").alias("max_rows"),
    )
    top = (
        per.orderBy(F.col("c").desc(), F.col("user_id").asc())
        .limit(_SKEW_TOPN)
        .agg(F.sum("c").cast("bigint").alias("top10_rows"))
    )
    return stats.crossJoin(F.broadcast(top)).select(
        "n_rows",
        "n_keys",
        "max_rows",
        F.expr("n_rows div n_keys").alias("mean_rows"),
        F.expr("max_rows * n_keys * 1000000 div n_rows").alias("skew_ratio_ppm"),
        F.expr("top10_rows * 1000000 div n_rows").alias("top10_share_ppm"),
        F.expr(
            f"max_rows * n_keys * 1000000 div n_rows >= {_SKEW_ADVISE_RATIO_PPM}"
        ).alias("salting_advised"),
    )


register(
    "events_key_skew",
    q_events_key_skew,
    f"""
    WITH per AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
      FROM events WHERE user_id IS NOT NULL GROUP BY 1
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(c) AS BIGINT) AS n_rows,
             CAST(MAX(c) AS BIGINT) AS max_rows
      FROM per
    ),
    top AS (
      SELECT CAST(SUM(c) AS BIGINT) AS top10_rows FROM (
        SELECT c FROM per ORDER BY c DESC, user_id ASC LIMIT {_SKEW_TOPN}
      )
    )
    SELECT n_rows, n_keys, max_rows,
           n_rows // n_keys AS mean_rows,
           max_rows * n_keys * 1000000 // n_rows AS skew_ratio_ppm,
           top10_rows * 1000000 // n_rows AS top10_share_ppm,
           max_rows * n_keys * 1000000 // n_rows >= {_SKEW_ADVISE_RATIO_PPM}
             AS salting_advised
    FROM stats CROSS JOIN top
    """,
)


# ---- experiment sizing (MDE / power analysis) --------------------------------
# The question asked BEFORE events_ab_lift is run: how many users per
# arm does a two-proportion z-test need to detect a given relative
# lift on the purchase conversion at alpha=0.05 (two-sided), power
# 0.80?  n = (z_a + z_b)^2 * 2 p(1-p) / (p * mde)^2 with the z-sum
# squared baked in as ONE double literal (7.848878512225001) so both
# engines evaluate the identical IEEE expression — multiplication,
# division and ceil are correctly rounded and engine-portable (unlike
# the inverse-normal itself).  The baseline p comes from exact user
# counts (one shuffle); output is |MDE grid| rows.

_MDE_GRID_PPM = (50_000, 100_000, 200_000)  # 5%, 10%, 20% relative
_Z_SUM_SQ = "7.848878512225001"  # (1.959964 + 0.841621)^2


def _mde_expr(mde_ppm: int) -> str:
    mde = f"({mde_ppm} / 1000000.0)"
    return (
        f"CAST(ceil((({_Z_SUM_SQ} * 2.0) * p) * (1.0 - p)"
        f" / ((p * {mde}) * (p * {mde}))) AS BIGINT)"
    )


def q_events_mde_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    users = ev.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("y")
    )
    tot = users.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("y").cast("bigint").alias("purchasers"),
    ).withColumn("p", F.expr("CAST(purchasers AS DOUBLE) / CAST(n_users AS DOUBLE)"))
    parts = []
    for mde_ppm in _MDE_GRID_PPM:
        parts.append(
            tot.select(
                F.lit(mde_ppm).cast("bigint").alias("mde_rel_ppm"),
                "n_users",
                F.expr("purchasers * 1000000 div n_users").alias("p_ppm"),
                F.expr(_mde_expr(mde_ppm)).alias("n_per_arm"),
                F.expr(f"{_mde_expr(mde_ppm)} * 2 <= n_users").alias("feasible"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("mde_rel_ppm")


def _mde_sql() -> str:
    selects = []
    for mde_ppm in _MDE_GRID_PPM:
        selects.append(f"""
      SELECT CAST({mde_ppm} AS BIGINT) AS mde_rel_ppm, n_users,
             purchasers * 1000000 // n_users AS p_ppm,
             {_mde_expr(mde_ppm)} AS n_per_arm,
             {_mde_expr(mde_ppm)} * 2 <= n_users AS feasible
      FROM tot""")
    union = "\n      UNION ALL\n".join(selects)
    return f"""
    WITH users AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
      FROM events WHERE user_id IS NOT NULL GROUP BY 1
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(y) AS BIGINT) AS purchasers,
             CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS p
      FROM users
    )
    SELECT * FROM ({union}
    ) ORDER BY mde_rel_ppm
    """


register("events_mde_power", q_events_mde_power, _mde_sql())


# ---- peak concurrent sessions per day -----------------------------------------
# Capacity planning's load metric: the maximum number of SIMULTANEOUS
# 30-minute-gap sessions (the events_sessionize convention) observed
# each day.  Sweep line over closed session intervals — +1 at start,
# -1 at end, +1 rows ordered first at an equal instant — with the
# orders_backlog_series bucketed-prefix-sum discipline: the running
# sum is computed inside (day) partitions and shifted by the
# prior-days total, so there is NO partitionless window over the
# change-point spine; the oracle certifies it against DuckDB's plain
# global ordered sum.


def q_events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w_user = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w_user))
    sess = (
        ev.withColumn(
            "is_new", F.when(gap.isNull() | (gap > 1800), F.lit(1)).otherwise(F.lit(0))
        )
        .withColumn(
            "session_id",
            F.sum("is_new").over(
                w_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("start"), F.max("ts").alias("end"))
    )
    deltas = (
        sess.select(F.col("start").alias("ts"), F.lit(1).alias("sign"))
        .unionByName(sess.select(F.col("end").alias("ts"), F.lit(-1).alias("sign")))
        .groupBy(F.to_date("ts").alias("day"), "ts", "sign")
        .agg(F.sum("sign").cast("bigint").alias("d"))
    )
    w_in = (
        Window.partitionBy("day")
        .orderBy(F.col("ts").asc(), F.col("sign").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = deltas.withColumn("cum", F.sum("d").over(w_in))
    per_day = within.groupBy("day").agg(
        F.max("cum").cast("bigint").alias("max_cum"),
        F.sum("d").cast("bigint").alias("day_total"),
        F.sum(F.when(F.col("sign") == 1, F.col("d")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("sessions_started"),
    )
    w_off = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    return (
        per_day.withColumn(
            "off", F.coalesce(F.sum("day_total").over(w_off), F.lit(0).cast("bigint"))
        )
        .select(
            "day",
            "sessions_started",
            (F.col("off") + F.col("max_cum")).cast("bigint").alias("peak_concurrency"),
        )
        .orderBy("day")
    )


register(
    "events_peak_concurrency",
    q_events_peak_concurrency,
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR date_diff('second', lag(ts) OVER w, ts) > 1800
                  THEN 1 ELSE 0 END AS is_new
      FROM events WHERE user_id IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    sess AS (
      SELECT user_id, session_id, MIN(ts) AS start, MAX(ts) AS "end"
      FROM (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id
                 ORDER BY ts ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM flagged
      ) GROUP BY 1, 2
    ),
    deltas AS (
      SELECT CAST(ts AS DATE) AS day, ts, sign, CAST(SUM(sign) AS BIGINT) AS d
      FROM (
        SELECT start AS ts, 1 AS sign FROM sess
        UNION ALL
        SELECT "end" AS ts, -1 AS sign FROM sess
      ) GROUP BY 1, 2, 3
    ),
    swept AS (
      SELECT day, sign, d,
             CAST(SUM(d) OVER (ORDER BY ts, sign DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum
      FROM deltas
    )
    SELECT day,
           CAST(SUM(CASE WHEN sign = 1 THEN d ELSE 0 END) AS BIGINT)
             AS sessions_started,
           CAST(MAX(cum) AS BIGINT) AS peak_concurrency
    FROM swept GROUP BY 1 ORDER BY 1
    """,
)


# ---- sample-ratio-mismatch (SRM) check ------------------------------------------
# The experimentation health gate run BEFORE reading any lift query:
# does the 50/50 user split actually contain 50/50 of the users?  A
# skewed ratio means assignment is broken and every downstream
# readout is invalid.  Chi-square on the two observed arm counts
# against equal expecteds reduces to (a-b)^2/n, compared against the
# 95% critical value 3.841 by integer cross-multiplication — no
# float stats at all.  One user-id shuffle; one output row.

_SRM_CRIT_MILLI = 3841  # chi2(1 df) at p = 0.05, x1000


def q_events_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_price_tracker_with_etl_dashboard_spark.functions.sampling import (
        lcg_bucket,
    )

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    users = ev.select("user_id").distinct().select(
        lcg_bucket("user_id", 2).alias("arm")
    )
    counts = users.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("bigint").alias("arm_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("bigint").alias("arm_b"),
    )
    return counts.select(
        "arm_a",
        "arm_b",
        F.expr("arm_a + arm_b").alias("n_users"),
        F.expr("arm_a * 1000000 div (arm_a + arm_b)").alias("arm_a_ppm"),
        F.expr("(arm_a - arm_b) * (arm_a - arm_b) * 1000 div (arm_a + arm_b)").alias(
            "chi2_milli"
        ),
        F.expr(
            "(arm_a - arm_b) * (arm_a - arm_b) * 1000"
            f" >= {_SRM_CRIT_MILLI} * (arm_a + arm_b)"
        ).alias("srm_detected"),
    )


def _srm_sql() -> str:
    from crypto_price_tracker_with_etl_dashboard_spark.functions.sampling import (
        sql_lcg_bucket,
    )

    return f"""
    WITH users AS (
      SELECT {sql_lcg_bucket('user_id', 2)} AS arm
      FROM (SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL)
    ),
    counts AS (
      SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS arm_a,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS arm_b
      FROM users
    )
    SELECT arm_a, arm_b, arm_a + arm_b AS n_users,
           arm_a * 1000000 // (arm_a + arm_b) AS arm_a_ppm,
           (arm_a - arm_b) * (arm_a - arm_b) * 1000 // (arm_a + arm_b)
             AS chi2_milli,
           (arm_a - arm_b) * (arm_a - arm_b) * 1000
             >= {_SRM_CRIT_MILLI} * (arm_a + arm_b) AS srm_detected
    FROM counts
    """


register("events_srm_check", q_events_srm_check, _srm_sql())


# ---- conversion by session depth ------------------------------------------------
# Does engagement depth predict purchase?  Sessions (the 30-minute
# events_sessionize convention) bucketed by event count (capped at
# 10+), each bucket reporting its session count and the share that
# contained a purchase.  All integer counts; one user shuffle for the
# session windows plus one small bucket agg.


_DEPTH_CAP = 10


def q_events_depth_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w_user = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w_user))
    sess = (
        ev.withColumn(
            "is_new", F.when(gap.isNull() | (gap > 1800), F.lit(1)).otherwise(F.lit(0))
        )
        .withColumn(
            "session_id",
            F.sum("is_new").over(
                w_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").cast("bigint").alias("depth"),
            F.max((F.col("event_type") == "purchase").cast("int")).alias("converted"),
        )
    )
    return (
        sess.select(
            F.least(F.col("depth"), F.lit(_DEPTH_CAP).cast("bigint")).alias(
                "depth_bucket"
            ),
            "converted",
        )
        .groupBy("depth_bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_sessions"),
            F.sum("converted").cast("bigint").alias("n_converted"),
        )
        .select(
            "depth_bucket",
            "n_sessions",
            "n_converted",
            F.expr("n_converted * 1000000 div n_sessions").alias("conv_ppm"),
        )
        .orderBy("depth_bucket")
    )


register(
    "events_depth_conversion",
    q_events_depth_conversion,
    f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR date_diff('second', lag(ts) OVER w, ts) > 1800
                  THEN 1 ELSE 0 END AS is_new
      FROM events WHERE user_id IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    sess AS (
      SELECT user_id, session_id,
             CAST(COUNT(*) AS BIGINT) AS depth,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
      FROM (
        SELECT user_id, ts, event_type,
               SUM(is_new) OVER (PARTITION BY user_id
                 ORDER BY ts ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM flagged
      ) GROUP BY 1, 2
    )
    SELECT depth_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(converted) AS BIGINT) AS n_converted,
           CAST(SUM(converted) AS BIGINT) * 1000000 // COUNT(*) AS conv_ppm
    FROM (
      SELECT LEAST(depth, CAST({_DEPTH_CAP} AS BIGINT)) AS depth_bucket,
             converted
      FROM sess
    ) GROUP BY 1 ORDER BY 1
    """,
)


# ---- Welch t-test on purchase spend (continuous-metric A/B) ------------------
# events_ab_lift reads a PROPORTION; experiments on revenue need the
# continuous-metric test: Welch's unequal-variance t on per-user
# purchase spend between the two LCG arms.  Per-user spend is summed
# in exact integer cents; each arm's (n, S, SS) moments are exact
# int64 (every one under 2^53, hence exactly representable), and the
# t statistic is ONE shared double expression — division, multiply
# and IEEE sqrt are correctly rounded, so the milli-floored t is
# engine-portable without any fixed-point variance dance.

_WELCH_T_CRIT_MILLI = 1960  # |t| at p ~ 0.05 for large df


_WELCH_SE2_EXPR = (
    "((CAST(ssa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)"
    " / CAST(na AS DOUBLE)) / (CAST(na AS DOUBLE) - 1.0)) / CAST(na AS DOUBLE)"
    " + ((CAST(ssb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)"
    " / CAST(nb AS DOUBLE)) / (CAST(nb AS DOUBLE) - 1.0)) / CAST(nb AS DOUBLE)"
)

_WELCH_T_EXPR = (
    "(CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)"
    " - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))"
    f" / sqrt({_WELCH_SE2_EXPR})"
)


def q_events_value_ab_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_price_tracker_with_etl_dashboard_spark.functions.sampling import (
        lcg_bucket,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & (F.col("event_type") == "purchase")
        & F.col("value").isNotNull()
    )
    spend = ev.groupBy("user_id").agg(
        F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("cents")
    )
    arms = spend.select(lcg_bucket("user_id", 2).alias("arm"), "cents")
    mom = arms.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("bigint").alias("na"),
        F.sum(F.when(F.col("arm") == 0, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("sa"),
        F.sum(F.when(F.col("arm") == 0, F.col("cents") * F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("ssa"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("bigint").alias("nb"),
        F.sum(F.when(F.col("arm") == 1, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("sb"),
        F.sum(F.when(F.col("arm") == 1, F.col("cents") * F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("ssb"),
    )
    # both-variances-zero would make t = 0/0 = NaN; the guard is the
    # same shared double expression so it filters identically
    return mom.filter(F.expr(f"na >= 2 AND nb >= 2 AND ({_WELCH_SE2_EXPR}) > 0")).select(
        "na",
        "nb",
        F.expr("CAST(floor(CAST(sa AS DOUBLE) / na) AS BIGINT)").alias(
            "mean_a_cents"
        ),
        F.expr("CAST(floor(CAST(sb AS DOUBLE) / nb) AS BIGINT)").alias(
            "mean_b_cents"
        ),
        F.expr(f"CAST(floor(({_WELCH_T_EXPR}) * 1000.0) AS BIGINT)").alias(
            "t_milli"
        ),
        F.expr(
            f"abs(CAST(floor(({_WELCH_T_EXPR}) * 1000.0) AS BIGINT))"
            f" >= {_WELCH_T_CRIT_MILLI}"
        ).alias("significant"),
    )


def _welch_sql() -> str:
    from crypto_price_tracker_with_etl_dashboard_spark.functions.sampling import (
        sql_lcg_bucket,
    )

    return f"""
    WITH spend AS (
      SELECT user_id,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events
      WHERE user_id IS NOT NULL AND event_type = 'purchase'
        AND value IS NOT NULL
      GROUP BY 1
    ),
    arms AS (
      SELECT {sql_lcg_bucket('user_id', 2)} AS arm, cents FROM spend
    ),
    mom AS (
      SELECT
        CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
        CAST(SUM(CASE WHEN arm = 0 THEN cents ELSE 0 END) AS BIGINT) AS sa,
        CAST(SUM(CASE WHEN arm = 0 THEN cents * cents ELSE 0 END) AS BIGINT)
          AS ssa,
        CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        CAST(SUM(CASE WHEN arm = 1 THEN cents ELSE 0 END) AS BIGINT) AS sb,
        CAST(SUM(CASE WHEN arm = 1 THEN cents * cents ELSE 0 END) AS BIGINT)
          AS ssb
      FROM arms
    )
    SELECT na, nb,
           CAST(floor(CAST(sa AS DOUBLE) / na) AS BIGINT) AS mean_a_cents,
           CAST(floor(CAST(sb AS DOUBLE) / nb) AS BIGINT) AS mean_b_cents,
           CAST(floor(({_WELCH_T_EXPR}) * 1000.0) AS BIGINT) AS t_milli,
           abs(CAST(floor(({_WELCH_T_EXPR}) * 1000.0) AS BIGINT))
             >= {_WELCH_T_CRIT_MILLI} AS significant
    FROM mom WHERE na >= 2 AND nb >= 2 AND ({_WELCH_SE2_EXPR}) > 0
    """


register("events_value_ab_welch", q_events_value_ab_welch, _welch_sql())


# ---- within-session fatigue curve ------------------------------------------------
# Do users slow down as a session progresses?  Mean gap (seconds,
# milli-floored) between consecutive events BY POSITION within the
# session — the fatigue/engagement-decay curve product teams read
# before tuning session-length targets.  Positions cap at 20 (the
# tail is sparse and would emit one row per max depth).  One user
# shuffle for the session windows; the curve agg is |positions| rows.

_FATIGUE_MAX_POS = 20


def q_events_session_fatigue(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w_user = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w_user))
    sess = ev.withColumn(
        "is_new", F.when(gap.isNull() | (gap > 1800), F.lit(1)).otherwise(F.lit(0))
    ).withColumn(
        "session_id",
        F.sum("is_new").over(
            w_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    w_sess = Window.partitionBy("user_id", "session_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    steps = (
        sess.withColumn("pos", F.row_number().over(w_sess))
        .withColumn(
            "g",
            F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w_sess)),
        )
        .filter(F.col("g").isNotNull() & (F.col("pos") <= _FATIGUE_MAX_POS))
    )
    return (
        steps.groupBy(F.col("pos").cast("bigint").alias("position"))
        .agg(
            F.count("*").cast("bigint").alias("n_steps"),
            F.sum("g").cast("bigint").alias("sum_gap_s"),
        )
        .select(
            "position",
            "n_steps",
            F.expr("sum_gap_s * 1000 div n_steps").alias("mean_gap_milli_s"),
        )
        .orderBy("position")
    )


register(
    "events_session_fatigue",
    q_events_session_fatigue,
    f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR date_diff('second', lag(ts) OVER w, ts) > 1800
                  THEN 1 ELSE 0 END AS is_new
      FROM events WHERE user_id IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    sess AS (
      SELECT user_id, ts, event_id,
             SUM(is_new) OVER (PARTITION BY user_id
               ORDER BY ts ASC, event_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    ),
    steps AS (
      SELECT row_number() OVER ws AS pos,
             date_diff('second', lag(ts) OVER ws, ts) AS g
      FROM sess
      WINDOW ws AS (PARTITION BY user_id, session_id
                    ORDER BY ts ASC, event_id ASC)
    )
    SELECT CAST(pos AS BIGINT) AS position,
           CAST(COUNT(*) AS BIGINT) AS n_steps,
           CAST(SUM(g) AS BIGINT) * 1000 // COUNT(*) AS mean_gap_milli_s
    FROM steps
    WHERE g IS NOT NULL AND pos <= {_FATIGUE_MAX_POS}
    GROUP BY 1 ORDER BY 1
    """,
)


# ---- Simpson's-paradox screen -----------------------------------------------------
# The aggregation trap every experiment readout must clear: the
# OVERALL conversion lift between the two LCG arms can carry the
# opposite sign of EVERY activity stratum's lift when arm mix differs
# across strata.  Lift signs are exact integer cross-products
# (conv_a * n_b - conv_b * n_a — no division, no floats); users
# stratify at a fixed 5-events/user activity cut.  A reversal flags
# the readout as mix-confounded.  One user shuffle; 1-row report.

# 66 = the corpus's median per-user event count at every shipped SF
# (a cut of 5 left the light stratum empty — everyone is "heavy" at
# ~65 events/user, which silently degenerated the strata)
_SIMPSON_ACTIVITY_CUT = 66


def q_events_simpson_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_price_tracker_with_etl_dashboard_spark.functions.sampling import (
        lcg_bucket,
    )

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    users = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias("y"),
    )
    tagged = users.select(
        lcg_bucket("user_id", 2).alias("arm"),
        (F.col("n_events") > _SIMPSON_ACTIVITY_CUT).cast("int").alias("heavy"),
        "y",
    )
    cells = tagged.groupBy("arm", "heavy").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("conv"),
    )
    # one row: pivot the 4 cells into columns via conditional sums
    flat = cells.agg(
        *[
            F.sum(
                F.when((F.col("arm") == a) & (F.col("heavy") == h), F.col(c))
                .otherwise(0)
            )
            .cast("bigint")
            .alias(f"{c}_{a}{h}")
            for c in ("n", "conv")
            for a in (0, 1)
            for h in (0, 1)
        ]
    )
    sign = lambda expr: f"CASE WHEN {expr} > 0 THEN 1 WHEN {expr} < 0 THEN -1 ELSE 0 END"  # noqa: E731
    overall = sign(
        "(conv_00 + conv_01) * (n_10 + n_11) - (conv_10 + conv_11) * (n_00 + n_01)"
    )
    light = sign("conv_00 * n_10 - conv_10 * n_00")
    heavy = sign("conv_01 * n_11 - conv_11 * n_01")
    return flat.select(
        F.expr("n_00 + n_01").alias("n_arm_a"),
        F.expr("n_10 + n_11").alias("n_arm_b"),
        F.expr(overall).cast("bigint").alias("overall_dir"),
        F.expr(light).cast("bigint").alias("light_dir"),
        F.expr(heavy).cast("bigint").alias("heavy_dir"),
        F.expr(
            f"({overall}) <> 0 AND ({light}) = ({heavy})"
            f" AND ({overall}) = -({light})"
        ).alias("simpson_reversal"),
    )


def _simpson_sql() -> str:
    from crypto_price_tracker_with_etl_dashboard_spark.functions.sampling import (
        sql_lcg_bucket,
    )

    cols = []
    for c in ("n", "conv"):
        for a in (0, 1):
            for h in (0, 1):
                cols.append(
                    f"CAST(SUM(CASE WHEN arm = {a} AND heavy = {h}"
                    f" THEN {c} ELSE 0 END) AS BIGINT) AS {c}_{a}{h}"
                )
    sign = lambda e: f"CASE WHEN {e} > 0 THEN 1 WHEN {e} < 0 THEN -1 ELSE 0 END"  # noqa: E731
    overall = sign(
        "(conv_00 + conv_01) * (n_10 + n_11) - (conv_10 + conv_11) * (n_00 + n_01)"
    )
    light = sign("conv_00 * n_10 - conv_10 * n_00")
    heavy = sign("conv_01 * n_11 - conv_11 * n_01")
    return f"""
    WITH users AS (
      SELECT user_id, COUNT(*) AS n_events,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
      FROM events WHERE user_id IS NOT NULL GROUP BY 1
    ),
    tagged AS (
      SELECT {sql_lcg_bucket('user_id', 2)} AS arm,
             CASE WHEN n_events > {_SIMPSON_ACTIVITY_CUT} THEN 1 ELSE 0 END
               AS heavy,
             y
      FROM users
    ),
    cells AS (
      SELECT arm, heavy, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS conv
      FROM tagged GROUP BY 1, 2
    ),
    flat AS (SELECT {', '.join(cols)} FROM cells)
    SELECT n_00 + n_01 AS n_arm_a,
           n_10 + n_11 AS n_arm_b,
           CAST({overall} AS BIGINT) AS overall_dir,
           CAST({light} AS BIGINT) AS light_dir,
           CAST({heavy} AS BIGINT) AS heavy_dir,
           ({overall}) <> 0 AND ({light}) = ({heavy})
             AND ({overall}) = -({light}) AS simpson_reversal
    FROM flat
    """


register("events_simpson_check", q_events_simpson_check, _simpson_sql())


# ---- event-stream freshness report ------------------------------------------------
# The on-call data-ops monitor: per event type, the last observed
# event and its staleness against the stream head — a type that went
# quiet signals a broken producer long before volume alarms fire.
# Staleness is exact integer seconds; the stale flag trips at 24 h.
# One small type agg + a broadcast 1-row head.

_FRESHNESS_STALE_S = 86_400


def q_events_freshness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.max("ts").alias("last_ts"),
    )
    head = ev.agg(F.max("ts").alias("head_ts"))
    return (
        per.crossJoin(F.broadcast(head))
        .select(
            "event_type",
            "n_events",
            "last_ts",
            (
                F.unix_timestamp("head_ts") - F.unix_timestamp("last_ts")
            ).cast("bigint").alias("staleness_s"),
            (
                (F.unix_timestamp("head_ts") - F.unix_timestamp("last_ts"))
                > _FRESHNESS_STALE_S
            ).alias("stale"),
        )
        .orderBy("event_type")
    )


register(
    "events_freshness_report",
    q_events_freshness_report,
    f"""
    WITH per AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
             MAX(ts) AS last_ts
      FROM events GROUP BY 1
    ),
    head AS (SELECT MAX(ts) AS head_ts FROM events)
    SELECT event_type, n_events, last_ts,
           CAST(epoch_us(head_ts) // 1000000 - epoch_us(last_ts) // 1000000
                AS BIGINT) AS staleness_s,
           epoch_us(head_ts) // 1000000 - epoch_us(last_ts) // 1000000
             > {_FRESHNESS_STALE_S} AS stale
    FROM per CROSS JOIN head
    ORDER BY event_type
    """,
)


# ---- batch perceptron (integer weights) ---------------------------------------------
# A linear classifier TRAINED inside the engine with bit-exact
# portability: the batch perceptron update w += sum over
# misclassified of y*x keeps every weight an exact integer when the
# features are integers — no learning-rate floats, no exp/log, so
# the whole training run (3 synchronous rounds, the kmeans/pagerank
# discipline) unrolls into a DuckDB oracle that matches bit-for-bit.
# Features per user: bias, capped event count, distinct types, view
# count; label +-1 on purchase.  Each round is one broadcast of the
# 1-row weight state against the user table + one sum — state is
# O(features), never O(users).  Output: the final weights and the
# training accuracy.

_PCT_ROUNDS = 8  # unnormalized integer features converge slowly; 8
# synchronous rounds settle both the hand case and the real corpus
_PCT_CAP = 1000  # feature cap keeps w·x far inside int64

_PCT_FEATS = ("fx0", "fx1", "fx2", "fx3")


def _pct_margin() -> str:
    return " + ".join(f"w{i} * {f}" for i, f in enumerate(_PCT_FEATS))


def q_events_perceptron(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    users = ev.groupBy("user_id").agg(
        F.least(F.count("*"), F.lit(_PCT_CAP)).cast("bigint").alias("fx1"),
        F.count_distinct("event_type").cast("bigint").alias("fx2"),
        F.least(
            F.sum((F.col("event_type") == "view").cast("int")), F.lit(_PCT_CAP)
        )
        .cast("bigint")
        .alias("fx3"),
        F.when(
            F.max((F.col("event_type") == "purchase").cast("int")) == 1, 1
        )
        .otherwise(-1)
        .cast("bigint")
        .alias("y"),
    ).withColumn("fx0", F.lit(1).cast("bigint"))
    users = users.localCheckpoint(eager=True)

    w = users.sparkSession.createDataFrame(
        [(0, 0, 0, 0)], "w0 bigint, w1 bigint, w2 bigint, w3 bigint"
    )
    margin = _pct_margin()
    for _ in range(_PCT_ROUNDS):
        joined = users.crossJoin(F.broadcast(w))
        upd = joined.agg(
            *[
                (
                    F.max(F.col(f"w{i}"))
                    + F.sum(
                        F.when(
                            F.expr(f"y * ({margin}) <= 0"),
                            F.col("y") * F.col(f),
                        ).otherwise(0)
                    )
                )
                .cast("bigint")
                .alias(f"w{i}")
                for i, f in enumerate(_PCT_FEATS)
            ]
        )
        w = upd.localCheckpoint(eager=True)
    final = users.crossJoin(F.broadcast(w))
    return final.agg(
        *[F.max(f"w{i}").alias(f"w{i}") for i in range(len(_PCT_FEATS))],
        F.count("*").cast("bigint").alias("n_users"),
        F.sum(F.expr(f"CAST(y * ({margin}) > 0 AS INT)"))
        .cast("bigint")
        .alias("n_correct"),
    ).select(
        "w0",
        "w1",
        "w2",
        "w3",
        "n_users",
        F.expr("n_correct * 1000000 div n_users").alias("train_acc_ppm"),
    )


def _perceptron_sql() -> str:
    margin = _pct_margin()
    ctes = [
        f"""users AS (
      SELECT CAST(1 AS BIGINT) AS fx0,
             CAST(LEAST(COUNT(*), {_PCT_CAP}) AS BIGINT) AS fx1,
             CAST(COUNT(DISTINCT event_type) AS BIGINT) AS fx2,
             CAST(LEAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END),
                        {_PCT_CAP}) AS BIGINT) AS fx3,
             CAST(CASE WHEN MAX(CASE WHEN event_type = 'purchase'
                                     THEN 1 ELSE 0 END) = 1
                       THEN 1 ELSE -1 END AS BIGINT) AS y
      FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    )""",
        "wr0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,"
        " CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3)",
    ]
    for k in range(1, _PCT_ROUNDS + 1):
        upd_cols = ", ".join(
            f"CAST(MAX(w{i}) + SUM(CASE WHEN y * ({margin}) <= 0"
            f" THEN y * {f} ELSE 0 END) AS BIGINT) AS w{i}"
            for i, f in enumerate(_PCT_FEATS)
        )
        ctes.append(
            f"wr{k} AS (SELECT {upd_cols}"
            f" FROM users CROSS JOIN wr{k - 1})"
        )
    return f"""
    WITH {','.join(ctes)}
    SELECT w0, w1, w2, w3,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN y * ({margin}) > 0 THEN 1 ELSE 0 END) AS BIGINT)
             * 1000000 // COUNT(*) AS train_acc_ppm
    FROM users CROSS JOIN wr{_PCT_ROUNDS}
    GROUP BY w0, w1, w2, w3
    """


register("events_perceptron", q_events_perceptron, _perceptron_sql())


# ---- dormancy-length histogram ---------------------------------------------------
# The winback-timing read growth accounting points at: when users DO
# come back, how long were they away?  For every resurrection (an
# active day following >= 1 fully-quiet calendar day), the dormancy
# length in days, bucketed 1..4 and 5+.  Day granularity, not weeks —
# the corpus spans ~a month, and the same query at coarser grain is a
# one-constant change.  One user shuffle; |buckets| output rows.


def q_events_dormancy_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    ud = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    wd = Window.partitionBy("user_id").orderBy("day")
    gaps = (
        ud.withColumn("prev", F.lag("day").over(wd))
        .filter(F.col("prev").isNotNull())
        .select(
            (F.datediff("day", "prev").cast("bigint") - 1).alias("dormant_days")
        )
        .filter(F.col("dormant_days") >= 1)
    )
    bucket = F.when(F.col("dormant_days") >= 5, F.lit(5)).otherwise(
        F.col("dormant_days")
    )
    total = gaps.agg(F.count("*").cast("bigint").alias("n_resurrections"))
    return (
        gaps.groupBy(bucket.cast("bigint").alias("dormancy_days"))
        .agg(F.count("*").cast("bigint").alias("n"))
        .crossJoin(F.broadcast(total))
        .select(
            "dormancy_days",
            "n",
            F.expr("n * 1000000 div n_resurrections").alias("share_ppm"),
        )
        .orderBy("dormancy_days")
    )


register(
    "events_dormancy_histogram",
    q_events_dormancy_histogram,
    """
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
      FROM events WHERE user_id IS NOT NULL
    ),
    gaps AS (
      SELECT CAST(date_diff('day', prev, day) AS BIGINT) - 1 AS dormant_days
      FROM (
        SELECT day,
               lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev
        FROM ud
      ) WHERE prev IS NOT NULL
    ),
    res AS (SELECT * FROM gaps WHERE dormant_days >= 1),
    total AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_resurrections FROM res
    )
    SELECT CASE WHEN dormant_days >= 5 THEN CAST(5 AS BIGINT)
                ELSE dormant_days END AS dormancy_days,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) * 1000000 // n_resurrections AS share_ppm
    FROM res CROSS JOIN total
    GROUP BY 1, n_resurrections ORDER BY 1
    """,
)


# ---- Neyman sampling allocation --------------------------------------------------
# The sampling DESIGN next to events_per_user_cap's execution:
# allocate a 10k-row budget across event types proportionally to
# N_h * sigma_h (Neyman 1934) — high-variance strata earn more
# samples than proportional allocation gives them.  sigma_h comes
# from exact cent moments via IEEE sqrt; the final floored counts are
# one shared double chain, so the plan is driver-certifiable.

_NEYMAN_BUDGET = 10_000

_NEYMAN_SD = (
    "sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)"
    " / CAST(nh AS DOUBLE)) / CAST(nh AS DOUBLE))"
)


def q_events_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    mom = ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("nh"),
        F.sum(F.expr("CAST(round(value * 100) AS BIGINT)"))
        .cast("bigint")
        .alias("s"),
        F.sum(
            F.expr(
                "CAST(round(value * 100) AS BIGINT)"
                " * CAST(round(value * 100) AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("ss"),
    )
    # the per-stratum weight is quantized to integer micro-units
    # BEFORE summing: a SUM over raw doubles is partial-order
    # dependent (the exact trap operators/exact.py documents), while
    # the integer weight sum and the final allocation divisions are
    # bit-portable
    weighted = mom.withColumn(
        "wq",
        F.expr(
            f"CAST(floor(CAST(nh AS DOUBLE) * ({_NEYMAN_SD}) * 1000000.0)"
            " AS BIGINT)"
        ),
    )
    total = weighted.agg(F.sum("wq").cast("bigint").alias("tw"))
    return (
        weighted.crossJoin(F.broadcast(total))
        .select(
            "event_type",
            "nh",
            # wq * budget can exceed int64 at corpus scale; the ratio
            # of two exact ints through doubles is bit-portable
            F.expr(
                f"CAST(floor(CAST(wq AS DOUBLE) * {_NEYMAN_BUDGET}.0"
                " / CAST(tw AS DOUBLE)) AS BIGINT)"
            ).alias("alloc_n"),
            F.expr(
                "CAST(floor(CAST(wq AS DOUBLE) * 1000000.0"
                " / CAST(tw AS DOUBLE)) AS BIGINT)"
            ).alias("alloc_ppm"),
        )
        .orderBy("event_type")
    )


register(
    "events_neyman_allocation",
    q_events_neyman_allocation,
    f"""
    WITH mom AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nh,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)
                      * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS ss
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    weighted AS (
      SELECT event_type, nh,
             CAST(floor(CAST(nh AS DOUBLE) * ({_NEYMAN_SD}) * 1000000.0)
                  AS BIGINT) AS wq
      FROM mom
    ),
    total AS (SELECT CAST(SUM(wq) AS BIGINT) AS tw FROM weighted)
    SELECT event_type, nh,
           CAST(floor(CAST(wq AS DOUBLE) * {_NEYMAN_BUDGET}.0
                      / CAST(tw AS DOUBLE)) AS BIGINT) AS alloc_n,
           CAST(floor(CAST(wq AS DOUBLE) * 1000000.0
                      / CAST(tw AS DOUBLE)) AS BIGINT) AS alloc_ppm
    FROM weighted CROSS JOIN total
    ORDER BY event_type
    """,
)


# ---- post-stratified experiment lift ----------------------------------------------
# The fourth causal estimator beside the z-test, CUPED and DiD:
# post-stratification reweights each activity stratum's per-arm
# conversion by the stratum's population share, removing the mix
# confound events_simpson_check detects.  Per-stratum rates stay
# exact integer cross-products scaled to ppm; the weighted adjusted
# rates are one shared double chain over exact counts.

_PSTRAT_CUT = _SIMPSON_ACTIVITY_CUT  # shared stratification cut


def q_events_poststrat_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_price_tracker_with_etl_dashboard_spark.functions.sampling import (
        lcg_bucket,
    )

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    users = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias("y"),
    )
    tagged = users.select(
        lcg_bucket("user_id", 2).alias("arm"),
        (F.col("n_events") > _PSTRAT_CUT).cast("int").alias("heavy"),
        "y",
    )
    cells = tagged.groupBy("arm", "heavy").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("conv"),
    )
    flat = cells.agg(
        *[
            F.sum(
                F.when((F.col("arm") == a) & (F.col("heavy") == h), F.col(c))
                .otherwise(0)
            )
            .cast("bigint")
            .alias(f"{c}_{a}{h}")
            for c in ("n", "conv")
            for a in (0, 1)
            for h in (0, 1)
        ]
    )
    # stratum weights from the POOLED population (light = n_00+n_10,
    # heavy = n_01+n_11); adjusted rate per arm = sum_h w_h * rate_ah
    adj = lambda a: (  # noqa: E731
        f"(CAST(n_00 + n_10 AS DOUBLE) * CAST(conv_{a}0 AS DOUBLE)"
        f" / CAST(n_{a}0 AS DOUBLE)"
        f" + CAST(n_01 + n_11 AS DOUBLE) * CAST(conv_{a}1 AS DOUBLE)"
        f" / CAST(n_{a}1 AS DOUBLE))"
        f" / CAST(n_00 + n_01 + n_10 + n_11 AS DOUBLE)"
    )
    raw = lambda a: (  # noqa: E731
        f"CAST(conv_{a}0 + conv_{a}1 AS DOUBLE)"
        f" / CAST(n_{a}0 + n_{a}1 AS DOUBLE)"
    )
    return flat.filter(
        F.expr("n_00 > 0 AND n_01 > 0 AND n_10 > 0 AND n_11 > 0")
    ).select(
        F.expr("n_00 + n_01").alias("n_arm_a"),
        F.expr("n_10 + n_11").alias("n_arm_b"),
        F.expr(f"CAST(floor(({raw(1)} - {raw(0)}) * 1000000.0) AS BIGINT)").alias(
            "raw_lift_ppm"
        ),
        F.expr(f"CAST(floor(({adj(1)} - {adj(0)}) * 1000000.0) AS BIGINT)").alias(
            "adjusted_lift_ppm"
        ),
    )


def _poststrat_sql() -> str:
    from crypto_price_tracker_with_etl_dashboard_spark.functions.sampling import (
        sql_lcg_bucket,
    )

    cols = []
    for c in ("n", "conv"):
        for a in (0, 1):
            for h in (0, 1):
                cols.append(
                    f"CAST(SUM(CASE WHEN arm = {a} AND heavy = {h}"
                    f" THEN {c} ELSE 0 END) AS BIGINT) AS {c}_{a}{h}"
                )

    def adj(a: int) -> str:
        return (
            f"(CAST(n_00 + n_10 AS DOUBLE) * CAST(conv_{a}0 AS DOUBLE)"
            f" / CAST(n_{a}0 AS DOUBLE)"
            f" + CAST(n_01 + n_11 AS DOUBLE) * CAST(conv_{a}1 AS DOUBLE)"
            f" / CAST(n_{a}1 AS DOUBLE))"
            f" / CAST(n_00 + n_01 + n_10 + n_11 AS DOUBLE)"
        )

    def raw(a: int) -> str:
        return (
            f"CAST(conv_{a}0 + conv_{a}1 AS DOUBLE)"
            f" / CAST(n_{a}0 + n_{a}1 AS DOUBLE)"
        )

    return f"""
    WITH users AS (
      SELECT user_id, COUNT(*) AS n_events,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
      FROM events WHERE user_id IS NOT NULL GROUP BY 1
    ),
    tagged AS (
      SELECT {sql_lcg_bucket('user_id', 2)} AS arm,
             CASE WHEN n_events > {_PSTRAT_CUT} THEN 1 ELSE 0 END AS heavy,
             y
      FROM users
    ),
    cells AS (
      SELECT arm, heavy, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS conv
      FROM tagged GROUP BY 1, 2
    ),
    flat AS (SELECT {', '.join(cols)} FROM cells)
    SELECT n_00 + n_01 AS n_arm_a,
           n_10 + n_11 AS n_arm_b,
           CAST(floor(({raw(1)} - {raw(0)}) * 1000000.0) AS BIGINT)
             AS raw_lift_ppm,
           CAST(floor(({adj(1)} - {adj(0)}) * 1000000.0) AS BIGINT)
             AS adjusted_lift_ppm
    FROM flat
    WHERE n_00 > 0 AND n_01 > 0 AND n_10 > 0 AND n_11 > 0
    """


register("events_poststrat_lift", q_events_poststrat_lift, _poststrat_sql())


# ---- one-row experiment readout --------------------------------------------------
# The doc_curation_funnel pattern applied to experimentation: ONE row
# a reviewer reads before trusting any lift — validity (SRM),
# mix-confounding (Simpson reversal), the proportion lift raw and
# post-stratified, and the continuous-metric Welch verdict — each
# column computed by the already-certified query it names, so the
# report can never disagree with its parts.


def q_events_experiment_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    srm = q_events_srm_check(spark, sf_dir).select(
        "n_users", "srm_detected"
    )
    simpson = q_events_simpson_check(spark, sf_dir).select(
        F.col("simpson_reversal")
    )
    lifts = q_events_poststrat_lift(spark, sf_dir).select(
        "raw_lift_ppm", "adjusted_lift_ppm"
    )
    welch = q_events_value_ab_welch(spark, sf_dir).select(
        F.col("t_milli").alias("spend_t_milli"),
        F.col("significant").alias("spend_significant"),
    )
    return (
        srm.crossJoin(F.broadcast(simpson))
        .crossJoin(F.broadcast(lifts))
        .crossJoin(F.broadcast(welch))
        .select(
            "n_users",
            "srm_detected",
            "simpson_reversal",
            "raw_lift_ppm",
            "adjusted_lift_ppm",
            "spend_t_milli",
            "spend_significant",
            F.expr("NOT srm_detected AND NOT simpson_reversal").alias(
                "readout_valid"
            ),
        )
    )


def _experiment_report_sql() -> str:
    from crypto_price_tracker_with_etl_dashboard_spark.queries import ORACLE_SQL

    srm = ORACLE_SQL["events_srm_check"]
    simpson = ORACLE_SQL["events_simpson_check"]
    lifts = ORACLE_SQL["events_poststrat_lift"]
    welch = ORACLE_SQL["events_value_ab_welch"]
    return f"""
    WITH srm AS ({srm}),
    simpson AS ({simpson}),
    lifts AS ({lifts}),
    welch AS ({welch})
    SELECT srm.n_users, srm.srm_detected, simpson.simpson_reversal,
           lifts.raw_lift_ppm, lifts.adjusted_lift_ppm,
           welch.t_milli AS spend_t_milli,
           welch.significant AS spend_significant,
           NOT srm.srm_detected AND NOT simpson.simpson_reversal
             AS readout_valid
    FROM srm CROSS JOIN simpson CROSS JOIN lifts CROSS JOIN welch
    """


register(
    "events_experiment_report",
    q_events_experiment_report,
    _experiment_report_sql(),
)


# ---- between/within user variance decomposition ---------------------------------------
# The one-way ANOVA read on event values: how much of the variance is
# BETWEEN users (stable user-level differences) vs WITHIN a user's
# own events?  eta^2 = SS_between / SS_total from exact cent moments
# — high eta^2 says user-level features carry signal, low says events
# are individually noisy.  One user agg + one 1-row fold; the ratio
# is a shared double chain.


def q_events_variance_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    per_user = ev.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("m"),
        F.sum(F.expr("CAST(round(value * 100) AS BIGINT)"))
        .cast("bigint")
        .alias("s"),
        F.sum(
            F.expr(
                "CAST(round(value * 100) AS BIGINT)"
                " * CAST(round(value * 100) AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("ss"),
    )
    # SS_between needs sum over users of s^2/m (double, per-user exact
    # ints); quantized to micro-units before summing (order-proof)
    mom = per_user.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("m").cast("bigint").alias("n"),
        F.sum("s").cast("bigint").alias("st"),
        F.sum("ss").cast("bigint").alias("sst"),
        F.sum(
            F.expr(
                "CAST(floor(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)"
                " / CAST(m AS DOUBLE) * 1000000.0) AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("grp_q"),
    )
    eta = (
        "(CAST(grp_q AS DOUBLE) / 1000000.0"
        " - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(n AS DOUBLE))"
        " / (CAST(sst AS DOUBLE)"
        " - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(n AS DOUBLE))"
    )
    return mom.filter(
        F.expr(
            "n >= 2 AND CAST(sst AS DOUBLE)"
            " - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(n AS DOUBLE) > 0"
        )
    ).select(
        "k",
        "n",
        F.expr(f"CAST(floor(({eta}) * 1000000.0) AS BIGINT)").alias(
            "eta2_ppm"
        ),
    )


def _anova_sql() -> str:
    eta = (
        "(CAST(grp_q AS DOUBLE) / 1000000.0"
        " - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(n AS DOUBLE))"
        " / (CAST(sst AS DOUBLE)"
        " - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(n AS DOUBLE))"
    )
    return f"""
    WITH per_user AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)
                      * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS ss
      FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
      GROUP BY 1
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(m) AS BIGINT) AS n,
             CAST(SUM(s) AS BIGINT) AS st,
             CAST(SUM(ss) AS BIGINT) AS sst,
             CAST(SUM(CAST(floor(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                                 / CAST(m AS DOUBLE) * 1000000.0)
                           AS BIGINT)) AS BIGINT) AS grp_q
      FROM per_user
    )
    SELECT k, n,
           CAST(floor(({eta}) * 1000000.0) AS BIGINT) AS eta2_ppm
    FROM mom
    WHERE n >= 2 AND CAST(sst AS DOUBLE)
      - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(n AS DOUBLE) > 0
    """


register("events_variance_anova", q_events_variance_anova, _anova_sql())


# ---- Markov effective fan-out ---------------------------------------------------
# How PREDICTABLE is each journey state?  The inverse-Simpson
# effective number of next-steps per from-state over the
# events_markov transition counts (the exact-integer diversity the
# user-level query uses): eff = (sum c)^2 / sum c^2 in ppm — eff ~ 1
# means the next event is nearly deterministic, eff ~ |types| means
# anything can follow.  One (from, to) lead-window agg; |types| rows.


def q_events_markov_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    trans = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_state"),
            F.col("next_type").alias("to_state"),
        )
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    return (
        trans.groupBy("from_state")
        .agg(
            F.sum("c").cast("bigint").alias("n_transitions"),
            F.count("*").cast("bigint").alias("n_successors"),
            F.sum(F.expr("c * c")).cast("bigint").alias("ss"),
        )
        .select(
            "from_state",
            "n_transitions",
            "n_successors",
            F.expr(
                "n_transitions * n_transitions * 1000000 div ss"
            ).alias("eff_successors_ppm"),
        )
        .orderBy("from_state")
    )


register(
    "events_markov_fanout",
    q_events_markov_fanout,
    """
    WITH trans AS (
      SELECT event_type AS from_state, next_type AS to_state,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM (
        SELECT event_type,
               lead(event_type) OVER (PARTITION BY user_id
                 ORDER BY ts ASC, event_id ASC) AS next_type
        FROM events WHERE user_id IS NOT NULL
      ) WHERE next_type IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT from_state,
           CAST(SUM(c) AS BIGINT) AS n_transitions,
           CAST(COUNT(*) AS BIGINT) AS n_successors,
           CAST(SUM(c) AS BIGINT) * CAST(SUM(c) AS BIGINT) * 1000000
             // CAST(SUM(c * c) AS BIGINT) AS eff_successors_ppm
    FROM trans GROUP BY 1 ORDER BY 1
    """,
)


# ---- behavioral k-anonymity audit --------------------------------------------------
# The privacy read a training-data pipeline owes its users: how many
# are UNIQUELY identifiable by a coarse behavioral quasi-identifier
# (activity decile band x dominant event type x peak-activity hour
# band)?  k = users sharing the quasi-id; the report counts k=1
# (unique) and k<5 users.  All exact integers; deterministic
# dominant-type/peak-band tie-breaks (count desc, value asc).


def q_events_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    per_type = ev.groupBy("user_id", "event_type").agg(
        F.count("*").cast("bigint").alias("c")
    )
    wt = Window.partitionBy("user_id").orderBy(
        F.col("c").desc(), F.col("event_type").asc()
    )
    top_type = (
        per_type.withColumn("rnk", F.row_number().over(wt))
        .filter(F.col("rnk") == 1)
        .select("user_id", F.col("event_type").alias("top_type"))
    )
    per_band = ev.groupBy(
        "user_id", F.expr("hour(ts) div 6").alias("band")
    ).agg(F.count("*").cast("bigint").alias("c"))
    wb = Window.partitionBy("user_id").orderBy(
        F.col("c").desc(), F.col("band").asc()
    )
    peak_band = (
        per_band.withColumn("rnk", F.row_number().over(wb))
        .filter(F.col("rnk") == 1)
        .select("user_id", F.col("band").alias("peak_band"))
    )
    activity = ev.groupBy("user_id").agg(
        F.expr("CAST(COUNT(*) div 10 AS BIGINT)").alias("act_band")
    )
    qid = activity.join(top_type, "user_id").join(peak_band, "user_id")
    groups = qid.groupBy("act_band", "top_type", "peak_band").agg(
        F.count("*").cast("bigint").alias("k")
    )
    return groups.agg(
        F.sum("k").cast("bigint").alias("n_users"),
        F.count("*").cast("bigint").alias("n_quasi_ids"),
        F.sum(F.when(F.col("k") == 1, 1).otherwise(0)).cast("bigint").alias(
            "unique_users"
        ),
        F.sum(F.when(F.col("k") < 5, F.col("k")).otherwise(0))
        .cast("bigint")
        .alias("under_k5_users"),
    ).select(
        "n_users",
        "n_quasi_ids",
        "unique_users",
        F.expr("unique_users * 1000000 div n_users").alias("unique_ppm"),
        F.expr("under_k5_users * 1000000 div n_users").alias("under_k5_ppm"),
    )


register(
    "events_k_anonymity",
    q_events_k_anonymity,
    """
    WITH per_type AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
      FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2
    ),
    top_type AS (
      SELECT user_id, event_type AS top_type FROM (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY c DESC, event_type ASC) AS rnk
        FROM per_type
      ) WHERE rnk = 1
    ),
    per_band AS (
      SELECT user_id, hour(ts) // 6 AS band, CAST(COUNT(*) AS BIGINT) AS c
      FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2
    ),
    peak_band AS (
      SELECT user_id, band AS peak_band FROM (
        SELECT user_id, band,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY c DESC, band ASC) AS rnk
        FROM per_band
      ) WHERE rnk = 1
    ),
    activity AS (
      SELECT user_id, CAST(COUNT(*) // 10 AS BIGINT) AS act_band
      FROM events WHERE user_id IS NOT NULL GROUP BY 1
    ),
    groups AS (
      SELECT act_band, top_type, peak_band, CAST(COUNT(*) AS BIGINT) AS k
      FROM activity
      JOIN top_type USING (user_id)
      JOIN peak_band USING (user_id)
      GROUP BY 1, 2, 3
    )
    SELECT CAST(SUM(k) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_quasi_ids,
           CAST(SUM(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS unique_users,
           CAST(SUM(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT)
             * 1000000 // CAST(SUM(k) AS BIGINT) AS unique_ppm,
           CAST(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
             * 1000000 // CAST(SUM(k) AS BIGINT) AS under_k5_ppm
    FROM groups
    """,
)


# ---- alert threshold sweep ---------------------------------------------------------
# The ops-tuning read for the burst alert: how many (user, 10-min
# window) cells would fire at each candidate threshold?  One tumbling
# window agg, conditional counts at three thresholds — the
# emb_neardup_sweep discipline applied to alert tuning, so the pager
# budget is chosen from data instead of folklore.

_ALERT_SWEEP_THRESHOLDS = (5, 10, 20)


def q_events_alert_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    cells = ev.groupBy(
        "user_id", F.window("ts", "10 minutes").alias("w")
    ).agg(F.count("*").cast("bigint").alias("n"))
    parts = []
    for t in _ALERT_SWEEP_THRESHOLDS:
        parts.append(
            cells.agg(
                F.lit(t).cast("bigint").alias("threshold"),
                F.sum(F.expr(f"CAST(n >= {t} AS BIGINT)"))
                .cast("bigint")
                .alias("alert_cells"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    total = cells.agg(F.count("*").cast("bigint").alias("n_cells"))
    return (
        out.crossJoin(F.broadcast(total))
        .select(
            "threshold",
            "n_cells",
            "alert_cells",
            F.expr("alert_cells * 1000000 div n_cells").alias("alert_ppm"),
        )
        .orderBy("threshold")
    )


def _alert_sweep_sql() -> str:
    selects = []
    for t in _ALERT_SWEEP_THRESHOLDS:
        selects.append(
            f"""
      SELECT CAST({t} AS BIGINT) AS threshold,
             CAST(SUM(CASE WHEN n >= {t} THEN 1 ELSE 0 END) AS BIGINT)
               AS alert_cells
      FROM cells"""
        )
    union = "\n      UNION ALL\n".join(selects)
    return f"""
    WITH cells AS (
      SELECT user_id, time_bucket(INTERVAL 10 MINUTE, ts) AS w,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2
    ),
    total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cells FROM cells)
    SELECT threshold, n_cells, alert_cells,
           alert_cells * 1000000 // n_cells AS alert_ppm
    FROM ({union}
    ) CROSS JOIN total
    ORDER BY threshold
    """


register(
    "events_alert_threshold_sweep",
    q_events_alert_threshold_sweep,
    _alert_sweep_sql(),
)


# ---- Mann-Kendall trend test --------------------------------------------------------
# The nonparametric is-traffic-trending test (Mann 1945, Kendall):
# S = sum over all day pairs of sign(c_j - c_i), j > i — monotone
# growth pushes S toward +n(n-1)/2 with NO distributional assumption
# and NO floats anywhere: the variance identity var(S) =
# n(n-1)(2n+5)/18 clears to the integer verdict
# 18 * S^2 * 10000 >= 38416 * n(n-1)(2n+5).  The pair stage is a
# self-join over the DAY-level aggregate (O(days^2) pairs — bounded
# by the calendar, never by event volume).


def q_events_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").cast("bigint").alias("c")
    )
    a = daily.select(F.col("day").alias("d1"), F.col("c").alias("c1"))
    b = daily.select(F.col("day").alias("d2"), F.col("c").alias("c2"))
    pairs = a.join(b, F.col("d1") < F.col("d2"))
    s = pairs.agg(
        F.sum(
            F.when(F.col("c2") > F.col("c1"), 1)
            .when(F.col("c2") < F.col("c1"), -1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("S")
    )
    n = daily.agg(F.count("*").cast("bigint").alias("n"))
    return (
        s.crossJoin(F.broadcast(n))
        .filter(F.col("n") >= 8)
        .select(
            "n",
            "S",
            F.expr(
                "18 * S * S * 10000 >= 38416 * n * (n - 1) * (2 * n + 5)"
            ).alias("trend_detected"),
            F.expr(
                "CASE WHEN S > 0 THEN 1 WHEN S < 0 THEN -1 ELSE 0 END"
            ).cast("bigint").alias("direction"),
        )
    )


register(
    "events_mann_kendall",
    q_events_mann_kendall,
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ),
    s AS (
      SELECT CAST(SUM(CASE WHEN b.c > a.c THEN 1
                           WHEN b.c < a.c THEN -1 ELSE 0 END) AS BIGINT) AS S
      FROM daily a JOIN daily b ON a.day < b.day
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily)
    SELECT n, S,
           18 * S * S * 10000 >= 38416 * n * (n - 1) * (2 * n + 5)
             AS trend_detected,
           CAST(CASE WHEN S > 0 THEN 1 WHEN S < 0 THEN -1 ELSE 0 END
                AS BIGINT) AS direction
    FROM s CROSS JOIN n
    WHERE n >= 8
    """,
)


# ---- new-user event share by week ----------------------------------------------------
# How much of each week's traffic comes from users in their FIRST
# week?  The acquisition-dependence read growth accounting implies
# but never weights by volume.  One user shuffle for first-week tags,
# one week agg; |weeks| rows.


def q_events_new_user_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w = Window.partitionBy("user_id")
    tagged = ev.select(
        F.to_date(F.date_trunc("week", "ts")).alias("week"),
        (
            F.to_date(F.date_trunc("week", "ts"))
            == F.min(F.to_date(F.date_trunc("week", "ts"))).over(w)
        ).cast("int").alias("is_new"),
    )
    return (
        tagged.groupBy("week")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum("is_new").cast("bigint").alias("new_user_events"),
        )
        .select(
            "week",
            "n_events",
            "new_user_events",
            F.expr("new_user_events * 1000000 div n_events").alias(
                "new_share_ppm"
            ),
        )
        .orderBy("week")
    )


register(
    "events_new_user_share",
    q_events_new_user_share,
    """
    WITH tagged AS (
      SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
             CASE WHEN CAST(date_trunc('week', ts) AS DATE)
                    = MIN(CAST(date_trunc('week', ts) AS DATE))
                      OVER (PARTITION BY user_id)
                  THEN 1 ELSE 0 END AS is_new
      FROM events WHERE user_id IS NOT NULL
    )
    SELECT week,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(is_new) AS BIGINT) AS new_user_events,
           CAST(SUM(is_new) AS BIGINT) * 1000000 // COUNT(*)
             AS new_share_ppm
    FROM tagged GROUP BY 1 ORDER BY 1
    """,
)


# ---- activity-streak histogram ----------------------------------------------------
# Engagement intensity: each user's LONGEST run of consecutive
# active days (gaps-and-islands on the distinct-day spine), bucketed
# 1..6 and 7+ — the habit-formation curve behind DAU targets.  One
# user shuffle; |buckets| rows.


def q_events_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    ud = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    wd = Window.partitionBy("user_id").orderBy("day")
    runs = (
        ud.withColumn("rn", F.row_number().over(wd))
        .withColumn("grp", F.expr("date_sub(day, rn)"))
        .groupBy("user_id", "grp")
        .agg(F.count("*").cast("bigint").alias("len"))
    )
    best = runs.groupBy("user_id").agg(F.max("len").alias("max_streak"))
    bucket = F.when(F.col("max_streak") >= 7, F.lit(7)).otherwise(
        F.col("max_streak")
    )
    total = best.agg(F.count("*").cast("bigint").alias("n_users"))
    return (
        best.groupBy(bucket.cast("bigint").alias("streak_days"))
        .agg(F.count("*").cast("bigint").alias("n"))
        .crossJoin(F.broadcast(total))
        .select(
            "streak_days",
            "n",
            F.expr("n * 1000000 div n_users").alias("share_ppm"),
        )
        .orderBy("streak_days")
    )


register(
    "events_activity_streaks",
    q_events_activity_streaks,
    """
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
      FROM events WHERE user_id IS NOT NULL
    ),
    runs AS (
      SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len
      FROM (
        SELECT user_id,
               day - CAST(row_number() OVER (PARTITION BY user_id
                                             ORDER BY day) AS INT) AS grp
        FROM ud
      ) GROUP BY 1, 2
    ),
    best AS (
      SELECT user_id, MAX(len) AS max_streak FROM runs GROUP BY 1
    ),
    total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users FROM best)
    SELECT CASE WHEN max_streak >= 7 THEN CAST(7 AS BIGINT)
                ELSE max_streak END AS streak_days,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) * 1000000 // n_users AS share_ppm
    FROM best CROSS JOIN total
    GROUP BY 1, n_users ORDER BY 1
    """,
)


# ---- daily-basket event-type co-occurrence lift --------------------------------
# The market-basket read on the events stream: do two event types
# co-occur in the same (user, day) basket more often than chance?
# Lifetime baskets are degenerate here (every active user eventually
# emits every type), so the basket is the user-DAY — the same grain
# the session family uses.  Lift is the all-integer cross-multiplied
# ratio co*n/(nA*nB) in ppm (the log-free PMI surrogate; 1e6 =
# independence).  One (user, day, type) distinct + one self-join on
# the basket key: the pair stage is |baskets| x types^2, never
# |events|^2.

def q_events_type_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    baskets = events.select(
        "user_id", F.to_date("ts").alias("day"), "event_type"
    ).distinct()
    # 1-row total kept IN-PLAN (broadcast cross join), not a driver
    # count: one job, and the plan stays pure dataflow.
    n = (
        baskets.select("user_id", "day")
        .distinct()
        .agg(F.count("*").cast("bigint").alias("n_total"))
    )
    sizes = baskets.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_type")
    )
    a = baskets.select(
        "user_id", "day", F.col("event_type").alias("type_a")
    )
    b = baskets.select(
        "user_id", "day", F.col("event_type").alias("type_b")
    )
    co = (
        a.join(b, ["user_id", "day"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("bigint").alias("co_baskets"))
    )
    return (
        co.join(
            F.broadcast(sizes.withColumnRenamed("event_type", "type_a")).withColumnRenamed("n_type", "n_a"),
            "type_a",
        )
        .join(
            F.broadcast(sizes.withColumnRenamed("event_type", "type_b")).withColumnRenamed("n_type", "n_b"),
            "type_b",
        )
        .join(F.broadcast(n))
        .select(
            "type_a",
            "type_b",
            "co_baskets",
            # Widened to DECIMAL(38,0) (HUGEINT on the oracle side):
            # co_baskets * n_total * 1e6 overflows BIGINT once
            # co*n exceeds ~9.2e12 (a few million baskets), and Spark
            # with ANSI off would wrap silently where DuckDB raises
            # (r6 advice).  The 128-bit-wide product is exact to
            # ~1e38; the QUOTIENT (what div returns as BIGINT) is
            # <= 1e6 * n_total / n_b, safe for any real corpus.
            F.expr(
                "(CAST(co_baskets AS DECIMAL(38,0))"
                " * CAST(n_total AS DECIMAL(38,0)) * 1000000)"
                " div (CAST(n_a AS DECIMAL(38,0))"
                " * CAST(n_b AS DECIMAL(38,0)))"
            ).alias("lift_ppm"),
        )
        .orderBy("type_a", "type_b")
    )


register(
    "events_type_cooccurrence",
    q_events_type_cooccurrence,
    """
    WITH baskets AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type
      FROM events
    ),
    n AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_total
      FROM (SELECT DISTINCT user_id, day FROM baskets)
    ),
    sizes AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_type
      FROM baskets GROUP BY 1
    ),
    co AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS co_baskets
      FROM baskets a
      JOIN baskets b ON a.user_id = b.user_id AND a.day = b.day
                    AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, co_baskets,
           CAST(CAST(co_baskets AS HUGEINT) * n.n_total * 1000000
                // (CAST(sa.n_type AS HUGEINT) * sb.n_type) AS BIGINT)
             AS lift_ppm
    FROM co
    JOIN sizes sa ON co.type_a = sa.event_type
    JOIN sizes sb ON co.type_b = sb.event_type
    CROSS JOIN n
    ORDER BY type_a, type_b
    """,
)


# ---- weekly user-concentration HHI ---------------------------------------------
# The whale/bot dominance monitor: per week, the Herfindahl index of
# event volume across users (ppm) and its reciprocal — the effective
# number of users actually generating the traffic.  A week where a
# few accounts dominate shows eff_users collapsing long before any
# per-user cap trips.  All integer: sum(cnt^2) and total^2 are exact
# BIGINTs, shares never materialize as floats.  One (week, user)
# aggregate + one week aggregate.

def q_events_user_hhi_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy(
        F.date_trunc("week", "ts").cast("date").alias("week"), "user_id"
    ).agg(F.count("*").cast("bigint").alias("cnt"))
    return (
        per_user.groupBy("week")
        .agg(
            F.count("*").cast("bigint").alias("n_users"),
            F.sum("cnt").cast("bigint").alias("n_events"),
            F.sum(F.expr("cnt * cnt")).cast("bigint").alias("sum_sq"),
        )
        .select(
            "week",
            "n_users",
            "n_events",
            F.expr("sum_sq * 1000000 div (n_events * n_events)").alias(
                "hhi_ppm"
            ),
            F.expr("n_events * n_events * 1000 div sum_sq").alias(
                "eff_users_milli"
            ),
        )
        .orderBy("week")
    )


register(
    "events_user_hhi_weekly",
    q_events_user_hhi_weekly,
    """
    WITH per_user AS (
      SELECT CAST(date_trunc('week', ts) AS DATE) AS week, user_id,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    wk AS (
      SELECT week,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(cnt) AS BIGINT) AS n_events,
             CAST(SUM(cnt * cnt) AS BIGINT) AS sum_sq
      FROM per_user GROUP BY 1
    )
    SELECT week, n_users, n_events,
           sum_sq * 1000000 // (n_events * n_events) AS hhi_ppm,
           n_events * n_events * 1000 // sum_sq AS eff_users_milli
    FROM wk ORDER BY week
    """,
)


# ---- view-to-purchase abandonment (forward-window anti-conversion) --------------
# Batch 57.  The remarketing read the funnel family lacks: per VIEW
# EVENT (not per user), did a purchase by the same user follow within
# the window?  The operator shape being certified is the forward
# conditional-min window — min(purchase ts) over ROWS strictly after
# the current event in (ts, event_id) order — which answers "next
# matching event" for ANY pair of types in one user-key shuffle, no
# self-join, no range join.  A view with no purchase in
# (view, view + 60 min] is abandoned.  Timestamps compare at exact
# microseconds; counts and ppm are integers.

_ABANDON_WINDOW_MIN = 60


def q_events_abandonment(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    nxt = F.min(
        F.when(F.col("event_type") == "purchase", F.col("ts"))
    ).over(w)
    views = (
        ev.withColumn("next_purchase", nxt)
        .filter(F.col("event_type") == "view")
        .select(
            F.to_date("ts").alias("day"),
            F.expr(
                "CAST(next_purchase IS NOT NULL AND next_purchase <="
                f" ts + INTERVAL {_ABANDON_WINDOW_MIN} MINUTES AS BIGINT)"
            ).alias("converted"),
        )
    )
    return (
        views.groupBy("day")
        .agg(
            F.count("*").cast("bigint").alias("n_views"),
            F.sum("converted").cast("bigint").alias("n_converted"),
        )
        .select(
            "day",
            "n_views",
            "n_converted",
            F.expr("(n_views - n_converted) * 1000000 div n_views").alias(
                "abandon_ppm"
            ),
        )
        .orderBy("day")
    )


register(
    "events_abandonment",
    q_events_abandonment,
    f"""
    WITH nxt AS (
      SELECT ts, event_type,
             min(CASE WHEN event_type = 'purchase' THEN ts END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
             ) AS next_purchase
      FROM events
    ),
    views AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(next_purchase IS NOT NULL AND next_purchase <=
                  ts + INTERVAL {_ABANDON_WINDOW_MIN} MINUTE AS BIGINT)
               AS converted
      FROM nxt WHERE event_type = 'view'
    )
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_views,
           CAST(SUM(converted) AS BIGINT) AS n_converted,
           CAST((COUNT(*) - SUM(converted)) * 1000000 // COUNT(*) AS BIGINT)
             AS abandon_ppm
    FROM views GROUP BY day ORDER BY day
    """,
)


# ---- Active-days histogram / power-user curve (batch 60) --------------------
# The L28-style engagement-depth curve: bucket users by how many
# DISTINCT calendar days they were active across the table's 30-day
# span, then histogram users per depth with an integer-ppm share.
# The shape (monotone-decreasing vs "smile") is the canonical
# habit-formation read on any activity stream.  Scale: one user-key
# distinct-day agg (map-side combinable after the per-partition
# to_date projection), one O(31)-row rollup, window total over the
# 31-row histogram — nothing user-sized leaves the first exchange.

def q_events_active_days_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.countDistinct(F.to_date("ts")).cast("bigint").alias("active_days")
    )
    hist = per_user.groupBy("active_days").agg(
        F.count("*").cast("bigint").alias("n_users")
    )
    return (
        hist.withColumn(
            "share_ppm",
            F.expr("CAST((n_users * 1000000) DIV (SUM(n_users) OVER ()) AS BIGINT)"),
        )
        .orderBy("active_days")
    )


register(
    "events_active_days_histogram",
    q_events_active_days_histogram,
    """
    WITH per_user AS (
      SELECT user_id,
             CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS active_days
      FROM events GROUP BY user_id
    ),
    hist AS (
      SELECT active_days, CAST(COUNT(*) AS BIGINT) AS n_users
      FROM per_user GROUP BY active_days
    )
    SELECT active_days, n_users,
           CAST((n_users * 1000000) // SUM(n_users) OVER () AS BIGINT)
             AS share_ppm
    FROM hist ORDER BY active_days
    """,
)


# ---- Session entry/exit matrix (batch 60) -----------------------------------
# Per 30-minute-gap session (the certified events_sessionize
# convention), which event type OPENS it and which CLOSES it; the
# (entry, exit) matrix is the landing-page/exit-page report that
# drives funnel-entry placement.  Ties inside a session are broken by
# event_id in BOTH directions, so the pick is total-ordered and
# engine-portable.  Scale: ONE user-key exchange serves all three
# window passes AND the (user, session) rollup (HashPartitioning on
# user_id satisfies the wider clustering), then an O(types^2) rollup
# with a window total over <= 25 rows.

def q_events_entry_exit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w_user = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w_user))
    sess = ev.withColumn(
        "is_new", F.when(gap.isNull() | (gap > 1800), F.lit(1)).otherwise(F.lit(0))
    ).withColumn(
        "session_id",
        F.sum("is_new").over(
            w_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    w_asc = Window.partitionBy("user_id", "session_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    w_desc = Window.partitionBy("user_id", "session_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    per_sess = (
        sess.withColumn("rn_a", F.row_number().over(w_asc))
        .withColumn("rn_d", F.row_number().over(w_desc))
        .groupBy("user_id", "session_id")
        .agg(
            F.max(F.when(F.col("rn_a") == 1, F.col("event_type"))).alias(
                "entry_type"
            ),
            F.max(F.when(F.col("rn_d") == 1, F.col("event_type"))).alias(
                "exit_type"
            ),
        )
    )
    hist = per_sess.groupBy("entry_type", "exit_type").agg(
        F.count("*").cast("bigint").alias("n_sessions")
    )
    return hist.withColumn(
        "share_ppm",
        F.expr("CAST((n_sessions * 1000000) DIV (SUM(n_sessions) OVER ()) AS BIGINT)"),
    ).orderBy(F.col("n_sessions").desc(), "entry_type", "exit_type")


register(
    "events_entry_exit",
    q_events_entry_exit,
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR date_diff('second', lag(ts) OVER w, ts) > 1800
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    sess AS (
      SELECT user_id, ts, event_id, event_type,
             CAST(SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS session_id
      FROM flagged
    ),
    numbered AS (
      SELECT user_id, session_id, event_type,
             row_number() OVER (PARTITION BY user_id, session_id
                                ORDER BY ts ASC, event_id ASC) AS rn_a,
             row_number() OVER (PARTITION BY user_id, session_id
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM sess
    ),
    per_sess AS (
      SELECT user_id, session_id,
             MAX(CASE WHEN rn_a = 1 THEN event_type END) AS entry_type,
             MAX(CASE WHEN rn_d = 1 THEN event_type END) AS exit_type
      FROM numbered GROUP BY user_id, session_id
    ),
    hist AS (
      SELECT entry_type, exit_type, CAST(COUNT(*) AS BIGINT) AS n_sessions
      FROM per_sess GROUP BY entry_type, exit_type
    )
    SELECT entry_type, exit_type, n_sessions,
           CAST((n_sessions * 1000000) // SUM(n_sessions) OVER () AS BIGINT)
             AS share_ppm
    FROM hist
    """,
)
