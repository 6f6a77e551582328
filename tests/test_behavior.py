"""Behavior-analytics queries (queries/behavior.py) and the profile
operator (operators/profile.py): semantics checked against
independent pandas recomputations on the sf0.001 tables, plus
hand-built edge cases for the profile operator.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from crypto_price_tracker_with_etl_dashboard_spark.operators.profile import profile
from crypto_price_tracker_with_etl_dashboard_spark.sources import load_table
from tests.conftest import SF_SMALL


def test_profile_counts_nulls_distinct_minmax(spark):
    rows = [
        (1, "a", 2.0),
        (2, "a", None),
        (3, None, 8.5),
        (3, "b", 8.5),
    ]
    df = spark.createDataFrame(rows, ["k", "s", "v"])
    out = {r["column"]: r for r in profile(df, ["k", "s", "v"]).collect()}
    assert out["k"]["n_rows"] == 4 and out["k"]["n_nulls"] == 0
    assert out["k"]["n_distinct"] == 3
    assert (out["k"]["min_value"], out["k"]["max_value"]) == ("1", "3")
    assert out["s"]["n_nulls"] == 1 and out["s"]["n_distinct"] == 2
    assert (out["s"]["min_value"], out["s"]["max_value"]) == ("a", "b")
    assert out["v"]["n_nulls"] == 1 and out["v"]["n_distinct"] == 2
    # floats render through DECIMAL(38,6): fixed 6-fraction-digit form,
    # identical on Spark and DuckDB at any magnitude (no sci-notation)
    assert (out["v"]["min_value"], out["v"]["max_value"]) == ("2.000000", "8.500000")


def test_profile_single_job_no_per_column_scan(spark):
    from tests.test_plans import plan_of

    docs = load_table(spark, SF_SMALL, "documents")
    plan = plan_of(profile(docs, ["doc_id", "lang", "source"]))
    # multi-distinct runs through ONE Expand pass — the scan appears
    # exactly once, not once per column
    assert plan.count("FileScan parquet") == 1


def _events_pdf(spark) -> pd.DataFrame:
    ev = load_table(spark, SF_SMALL, "events").select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    return ev.toPandas().sort_values(["user_id", "ts", "event_id"])


def test_markov_matches_pandas(spark):
    from crypto_price_tracker_with_etl_dashboard_spark.queries.behavior import (
        q_events_markov,
    )

    pdf = _events_pdf(spark)
    pdf["dst"] = pdf.groupby("user_id")["event_type"].shift(-1)
    pairs = pdf.dropna(subset=["dst"])
    expected = (
        pairs.groupby(["event_type", "dst"]).size().rename("n").reset_index()
    )
    got = q_events_markov(spark, SF_SMALL).toPandas()
    merged = got.merge(
        expected, left_on=["src", "dst"], right_on=["event_type", "dst"]
    )
    assert len(merged) == len(got) == len(expected)
    assert (merged["n_transitions"] == merged["n"]).all()
    # probabilities sum to ~1 per source row
    sums = got.groupby("src")["prob"].sum()
    assert ((sums - 1.0).abs() < 1e-4).all()


def test_top_paths_matches_pandas(spark):
    from crypto_price_tracker_with_etl_dashboard_spark.queries.behavior import (
        q_events_top_paths,
    )

    pdf = _events_pdf(spark)
    pdf["rn"] = pdf.groupby("user_id").cumcount() + 1
    paths = (
        pdf[pdf["rn"] <= 5]
        .groupby("user_id")["event_type"]
        .agg(lambda s: ">".join(s))
        .rename("path")
        .reset_index()
    )
    expected = paths.groupby("path").size().rename("n_users").reset_index()
    expected = expected.sort_values(
        ["n_users", "path"], ascending=[False, True]
    ).head(10)
    got = q_events_top_paths(spark, SF_SMALL).toPandas()
    assert list(got["path"]) == list(expected["path"])
    assert list(got["n_users"]) == list(expected["n_users"])


def test_zscore_outliers_match_pandas(spark):
    from crypto_price_tracker_with_etl_dashboard_spark.queries.behavior import (
        q_events_value_outliers,
    )

    pdf = _events_pdf(spark)
    got = q_events_value_outliers(spark, SF_SMALL).toPandas()
    for et, g in pdf.groupby("event_type"):
        m, sd = g["value"].mean(), g["value"].std(ddof=1)
        exp_ids = set(g.loc[abs((g["value"] - m) / sd).round(6) >= 1.5, "event_id"])
        got_ids = set(got.loc[got["event_type"] == et, "event_id"])
        assert got_ids == exp_ids, et
    # z values match the pandas computation to fixed-point tolerance
    merged = got.merge(pdf, on=["event_id", "event_type"])
    stats = pdf.groupby("event_type")["value"].agg(["mean", "std"])
    for _, r in merged.iterrows():
        m, sd = stats.loc[r["event_type"], "mean"], stats.loc[r["event_type"], "std"]
        assert r["z"] == pytest.approx((r["value_x"] - m) / sd, abs=1e-4)


def test_bigram_topk_matches_pandas(spark):
    from collections import Counter

    from crypto_price_tracker_with_etl_dashboard_spark.queries.text import (
        q_doc_bigram_topk,
    )

    docs = load_table(spark, SF_SMALL, "documents").select("text").toPandas()
    counts: Counter = Counter()
    for t in docs["text"]:
        toks = t.split(" ")
        counts.update(
            f"{a} {b}" for a, b in zip(toks, toks[1:])
        )
    expected = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = [
        (r["bigram"], r["n"]) for r in q_doc_bigram_topk(spark, SF_SMALL).collect()
    ]
    assert got == expected


def test_robust_outliers_resist_masking(spark, tmp_path):
    """The point of MAD over z-score: a CLUSTER of extreme values
    inflates the stddev enough to hide itself (every |z| < 1.5 —
    the classic masking failure), while the median/MAD cut still
    flags exactly the planted cluster."""
    import datetime as dt
    import os

    from crypto_price_tracker_with_etl_dashboard_spark.queries.behavior import (
        q_events_robust_outliers,
        q_events_value_outliers,
    )

    t0 = dt.datetime(2024, 1, 1)
    vals = [10.0, 10.1, 9.9, 10.1, 9.9, 10.0, 500.0, 500.0, 500.0, 500.0]
    rows = [
        (i, t0 + dt.timedelta(seconds=i), 1, "click", v, "{}")
        for i, v in enumerate(vals)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    d = str(tmp_path / "sf")
    os.makedirs(d, exist_ok=True)
    ev.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))

    robust = q_events_robust_outliers(spark, d).collect()
    assert sorted(r["event_id"] for r in robust) == [6, 7, 8, 9]  # the plants
    assert all(r["mad_fp"] > 0 for r in robust)

    # the z query (|z| > 1.5) misses ALL of them: the cluster is
    # 40% of the data, so mean ~ 206 and sd ~ 253 -> plant z ~ 1.16
    zflags = {r["event_id"] for r in q_events_value_outliers(spark, d).collect()}
    assert zflags.isdisjoint({6, 7, 8, 9})


def test_attribution_matches_pandas(spark):
    from crypto_price_tracker_with_etl_dashboard_spark.queries.behavior import (
        q_events_attribution,
    )

    ev = load_table(spark, SF_SMALL, "events").toPandas()
    ev = ev.sort_values(["user_id", "ts", "event_id"])
    rows = []
    for _, g in ev.groupby("user_id"):
        touch_type, touch_ts = None, None
        for r in g.itertuples():
            if r.event_type == "purchase":
                if (
                    touch_type is not None
                    and (int(r.ts.timestamp()) - int(touch_ts.timestamp())) <= 3600
                ):
                    rows.append((touch_type, r.value))
                else:
                    rows.append(("direct", r.value))
            else:
                touch_type, touch_ts = r.event_type, r.ts
    ref = pd.DataFrame(rows, columns=["channel", "value"])
    expected = {
        ch: (len(g), round(sum(round(v * 10000) for v in g["value"]) / 10000, 4))
        for ch, g in ref.groupby("channel")
    }
    got = {
        r["channel"]: (r["n_purchases"], r["revenue"])
        for r in q_events_attribution(spark, SF_SMALL).collect()
    }
    assert got == expected


def test_burst_detect_matches_bruteforce(spark):
    from crypto_price_tracker_with_etl_dashboard_spark.queries.behavior import (
        q_events_burst_detect,
    )

    ev = load_table(spark, SF_SMALL, "events").toPandas()
    expected = {}
    for uid, g in ev.groupby("user_id"):
        secs = sorted(int(t.timestamp()) for t in g["ts"])
        best, best_end = 0, None
        for end in secs:
            c = sum(1 for s in secs if end - 600 <= s <= end)
            if c > best:
                best, best_end = c, end
            elif c == best and best_end is not None:
                pass  # keep earliest end
        expected[uid] = (best, best_end)
    got = {
        r["user_id"]: (r["max_burst"], r["burst_end_sec"])
        for r in q_events_burst_detect(spark, SF_SMALL).collect()
    }
    assert got == expected


def test_gini_matches_closed_form(spark):
    from crypto_price_tracker_with_etl_dashboard_spark.queries.behavior import (
        q_events_value_gini,
    )

    ev = load_table(spark, SF_SMALL, "events").toPandas()
    ev = ev[ev["value"] > 0]
    expected = {}
    for t, g in ev.groupby("event_type"):
        xs = [round(v * 10000) for v in g.sort_values(["value", "event_id"])["value"]]
        n, sx = len(xs), sum(xs)
        if n < 2:
            continue
        six = sum((i + 1) * x for i, x in enumerate(xs))
        expected[t] = round((2.0 * six - (n + 1) * sx) / (n * sx), 6)
    got = {
        r["event_type"]: r["gini"]
        for r in q_events_value_gini(spark, SF_SMALL).collect()
    }
    assert got == expected


def test_gini_uniform_values_near_zero(spark):
    # equal values -> G = (2*sum(i) - (n+1)*n) / (n*n) * (1/1) = 0
    df = spark.createDataFrame(
        [(i, "t", 5.0) for i in range(10)], ["event_id", "event_type", "value"]
    )
    from pyspark.sql import Window
    from crypto_price_tracker_with_etl_dashboard_spark.operators.exact import SCALE

    # reuse the query's algebra directly on a local frame
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    d = df.select(
        "event_type",
        F.row_number().over(w).alias("i"),
        F.round(F.col("value") * SCALE).cast("bigint").alias("x"),
    )
    agg = d.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("x").cast("decimal(38,0)")).alias("six"),
    ).collect()[0]
    g = (2.0 * float(agg["six"]) - (agg["n"] + 1) * float(agg["sx"])) / (
        agg["n"] * float(agg["sx"])
    )
    assert g == 0.0


def test_incremental_merge_equals_recompute(spark):
    from crypto_price_tracker_with_etl_dashboard_spark.operators.incremental import (
        agg_state,
        finalize,
        merge_states,
    )

    ev = load_table(spark, SF_SMALL, "events").select(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day"), "value"
    )
    cut = F.lit("2024-01-15").cast("timestamp")
    merged = finalize(
        merge_states(
            agg_state(ev.filter(F.col("day") < cut), ["event_type", "day"], "value"),
            agg_state(ev.filter(F.col("day") >= cut), ["event_type", "day"], "value"),
        )
    )
    full = finalize(agg_state(ev, ["event_type", "day"], "value"))
    m = {(r["event_type"], r["day"]): r for r in merged.collect()}
    f = {(r["event_type"], r["day"]): r for r in full.collect()}
    assert m.keys() == f.keys()
    for k in f:
        for c in ("n", "sum_value", "mean_value", "v_min", "v_max"):
            assert m[k][c] == f[k][c], (k, c)


def test_incremental_merge_is_associative(spark):
    from crypto_price_tracker_with_etl_dashboard_spark.operators.incremental import (
        agg_state,
        finalize,
        merge_states,
    )

    rows = [("a", 1.5), ("a", 2.5), ("a", -1.0), ("b", 7.0)]
    dfs = [
        spark.createDataFrame([(t, v)], ["k", "v"]) for t, v in rows
    ]
    states = [agg_state(d, ["k"], "v") for d in dfs]
    left = merge_states(merge_states(states[0], states[1]),
                        merge_states(states[2], states[3]))
    right = merge_states(states[0],
                         merge_states(states[1],
                                      merge_states(states[2], states[3])))
    assert sorted(map(tuple, finalize(left).collect())) == sorted(
        map(tuple, finalize(right).collect())
    )


def test_weighted_median_lower_convention_even_total(spark, monkeypatch):
    """The review-found off-by-one: with total weight W even and the
    cumulative weight hitting exactly W/2 at value v1, the LOWER
    weighted median is v1 (threshold ceil(W/2) = (W+1) div 2 in
    INTEGER arithmetic — double division would demand W/2 + 0.5 and
    return the next value)."""
    import crypto_price_tracker_with_etl_dashboard_spark.queries.behavior as B

    rows = [
        # (event_id, type, value, weight via props.k): weights 5 and 5
        (1, "t", 1.0, '{"k": 4}'),   # w = 4 % 100 + 1 = 5, cum 5
        (2, "t", 9.0, '{"k": 4}'),   # w = 5, cum 10 = W
    ]
    df = spark.createDataFrame(rows, ["event_id", "event_type", "value", "props"])
    monkeypatch.setattr(
        B, "load_table", lambda spark_, sf_dir, name: df
    )
    out = B.q_events_weighted_median(spark, "unused").collect()
    assert len(out) == 1
    r = out[0]
    # ceil(10/2) = 5 is reached at value 1.0 -> lower median
    assert (r["weighted_median"], r["total_weight"]) == (1.0, 10)


def test_markov_stationary_on_empty_events_matches_duckdb(spark, tmp_path):
    """A zero-row events table has no transition: an empty result
    with the normal schema, as the DuckDB twin returns, not a division
    by the state count."""
    import duckdb
    import pyarrow.parquet as pq

    from crypto_price_tracker_with_etl_dashboard_spark.queries.behavior import (
        _markov_stationary_sql,
        q_events_markov_stationary,
    )

    schema = pq.read_schema(f"{SF_SMALL}/events.parquet")
    pq.write_table(schema.empty_table(), tmp_path / "events.parquet")
    got = q_events_markov_stationary(spark, str(tmp_path))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'")
    want = con.execute(_markov_stationary_sql())
    assert got.collect() == want.fetchall() == []
    assert got.columns == [d[0] for d in want.description]
    assert [t for _, t in got.dtypes] == ["string", "bigint"]
