"""The iterative graph family's O(nodes) broadcast guard (r9 verdict
ask #2): past MAX_BROADCAST_NODES the forced ``F.broadcast`` hint is
swapped for a ``shuffle_hash`` hint and the cached edge layout is
co-located on the per-round join key (r10 verdict ask #4) instead of
OOMing, the bind is observable in the guard log, and — crucially —
results are bit-identical either way, because the hints and the
layout only pick the physical join strategy."""

from __future__ import annotations

import re

import pytest
from conftest import SF_SMALL
from pyspark.sql import functions as F

from crypto_price_tracker_with_etl_dashboard_spark.operators import (
    _broadcast_guard as bg,
)
from crypto_price_tracker_with_etl_dashboard_spark.operators.hits import hits
from crypto_price_tracker_with_etl_dashboard_spark.operators.kcore import kcore
from crypto_price_tracker_with_etl_dashboard_spark.operators.lpa import (
    label_propagation,
)
from crypto_price_tracker_with_etl_dashboard_spark.operators.pagerank import pagerank


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


@pytest.fixture()
def small_graph(spark):
    # two triangles joined by a bridge: nontrivial communities/ranks
    edges = [(0, 1), (0, 2), (1, 2), (3, 4), (3, 5), (4, 5), (2, 3)]
    return spark.createDataFrame(edges, ["u", "v"])


def test_lpa_hint_dropped_above_threshold_same_result(
    spark, small_graph, monkeypatch
):
    bg.clear_guard_log(spark)
    below = sorted(
        label_propagation(small_graph, iters=2).collect(),
        key=lambda r: r.node,
    )
    log = bg.guard_log(spark)
    assert log and all(d["hinted"] for d in log if d["op"] == "lpa")
    assert "strategy=broadcast" in _analyzed(label_propagation(small_graph, iters=2))

    monkeypatch.setattr(bg, "MAX_BROADCAST_NODES", 1)
    bg.clear_guard_log(spark)
    above_df = label_propagation(small_graph, iters=2)
    # no broadcast hint anywhere in the plan once the guard binds —
    # the O(nodes) side carries a shuffle_hash hint instead (it
    # becomes the hash-BUILD side; the edge list streams)
    analyzed = _analyzed(above_df)
    assert "strategy=broadcast" not in analyzed
    assert "strategy=shuffle_hash" in analyzed
    above = sorted(above_df.collect(), key=lambda r: r.node)
    log = bg.guard_log(spark)
    assert log and all(not d["hinted"] for d in log if d["op"] == "lpa")
    # the guard's node figure is the FREE |nbr| = 2*|edges| upper
    # bound (14 for this 7-edge graph), not an extra count job
    assert [d["n_nodes"] for d in log if d["op"] == "lpa"] == [14, 14]
    # the certified result is unchanged: the guard only drops a hint
    assert below == above


def test_pagerank_and_hits_guard_same_result(spark, small_graph, monkeypatch):
    weighted = small_graph.select(
        F.col("u").alias("src"), F.col("v").alias("dst"), F.lit(1).alias("w")
    )
    pr_below = sorted(pagerank(weighted, iters=2).collect())
    hits_below_df = hits(weighted, iters=2)
    hits_hints_below = _analyzed(hits_below_df).count("strategy=broadcast")
    hits_below = sorted(hits_below_df.collect())

    monkeypatch.setattr(bg, "MAX_BROADCAST_NODES", 1)
    bg.clear_guard_log(spark)
    pr_above_df = pagerank(weighted, iters=2)
    assert "strategy=broadcast" not in _analyzed(pr_above_df)
    assert "strategy=shuffle_hash" in _analyzed(pr_above_df)
    pr_above = sorted(pr_above_df.collect())
    hits_above_df = hits(weighted, iters=2)
    # hits keeps its 1-row L1-total scalar-attach broadcast hints
    # (bounded by construction) — only the O(nodes) hints must swap
    assert _analyzed(hits_above_df).count("strategy=broadcast") < hits_hints_below
    hits_above = sorted(hits_above_df.collect())

    # r13: the per-round rank broadcast (pagerank_rank) is gone — the
    # out-weights ride on the enriched edge cache (one guarded build
    # join, pagerank_outw) and each round guards only the damped-sum
    # table (pagerank_sum)
    ops = {d["op"] for d in bg.guard_log(spark) if not d["hinted"]}
    assert {"pagerank_outw", "pagerank_sum", "hits_hub", "hits_auth"} <= ops
    assert pr_below == pr_above
    assert hits_below == hits_above


@pytest.fixture()
def no_auto_broadcast(spark):
    """Pin the SHJ fallback plan: AQE's runtime size check would
    broadcast the tiny test-side anyway (also a no-edge-shuffle plan,
    but not the one that exists at real above-threshold sizes)."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def _edge_side_ensure_exchanges(plan: str, keys: tuple[str, ...]) -> list[str]:
    """Per-round ENSURE_REQUIREMENTS exchanges whose partitioning key
    is an edge-side column — the re-shuffle-the-100TB-side pattern the
    co-located layout must eliminate.  The one-time layout exchange is
    tagged REPARTITION_BY_NUM and lives inside the cached relation, so
    it never matches."""
    pat = "|".join(re.escape(k) for k in keys)
    return re.findall(
        rf"Exchange hashpartitioning\((?:{pat})#\d+L?, \d+\), ENSURE_REQUIREMENTS",
        plan,
    )


def test_lpa_above_threshold_edge_side_never_reshuffled(
    spark, small_graph, monkeypatch, no_auto_broadcast
):
    """r10 verdict ask #4: above the threshold, TWO consecutive LPA
    rounds stream the co-located cached mirror through shuffle_hash
    joins with ZERO Exchange on the edge side — only the O(nodes)
    label table shuffles per round.  localCheckpoint is disabled so
    the final plan holds both rounds."""
    from pyspark.sql import DataFrame

    monkeypatch.setattr(bg, "MAX_BROADCAST_NODES", 1)
    monkeypatch.setattr(
        DataFrame, "localCheckpoint", lambda self, eager=True: self
    )
    df = label_propagation(small_graph, iters=2)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ShuffledHashJoin") >= 2  # both rounds present
    assert _edge_side_ensure_exchanges(plan, ("a",)) == []
    # The label side's shuffles are its own per-round aggregates
    # (node-keyed): since r13 the un-truncated chain lets the rename
    # node -> __ln carry the agg's hash partitioning straight into
    # the next round's join, so there is NO extra __ln re-shuffle —
    # one fewer O(nodes) Exchange per round than the r12 checkpointed
    # shape (a checkpoint's RDD scan erased the partitioning).
    assert len(re.findall(r"Exchange hashpartitioning\(__ln#\d+", plan)) == 0
    assert (
        len(
            re.findall(
                r"Exchange hashpartitioning\(node#\d+L?, \d+\), ENSURE_REQUIREMENTS",
                plan,
            )
        )
        >= 2
    )


def test_pagerank_hits_above_threshold_edge_side_never_reshuffled(
    spark, small_graph, monkeypatch, no_auto_broadcast
):
    """Same pin for the directed operators: pagerank streams its
    src-partitioned layout, hits streams one layout per half-step key
    (src for the hub step, dst for the authority step)."""
    from pyspark.sql import DataFrame

    weighted = small_graph.select(
        F.col("u").alias("src"), F.col("v").alias("dst"), F.lit(1).alias("w")
    )
    monkeypatch.setattr(bg, "MAX_BROADCAST_NODES", 1)
    monkeypatch.setattr(
        DataFrame, "localCheckpoint", lambda self, eager=True: self
    )
    pr = pagerank(weighted, iters=2)
    pr.collect()
    plan = pr._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ShuffledHashJoin") >= 2
    assert _edge_side_ensure_exchanges(plan, ("src",)) == []

    h = hits(weighted, iters=2)
    h.collect()
    plan = h._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ShuffledHashJoin") >= 2
    assert _edge_side_ensure_exchanges(plan, ("src", "dst")) == []


def test_kcore_hint_dropped_above_threshold_same_result(
    spark, small_graph, monkeypatch
):
    """r11 verdict finding #1: kcore's per-round alive-set join goes
    through the guard like its iterative siblings — broadcast below
    the threshold, an observable shuffle_hash swap above it, same
    certified rows either way."""
    bg.clear_guard_log(spark)
    below = sorted(kcore(small_graph, k=2).collect(), key=lambda r: r.node)
    log = [d for d in bg.guard_log(spark) if d["op"] == "kcore"]
    assert log and all(d["hinted"] for d in log)
    # the guard's node figure is the per-round EXACT alive count
    # (kcore materializes it for the convergence check anyway): all 6
    # nodes of the two-triangle graph are 2-core alive every round
    assert [d["n_nodes"] for d in log] == [6] * len(log)
    # (kcore localCheckpoints its result, so the hint swap is pinned
    # at the PLAN level in the un-truncated test below; here the log
    # plus bit-identical results carry the behavioral contract)

    monkeypatch.setattr(bg, "MAX_BROADCAST_NODES", 1)
    bg.clear_guard_log(spark)
    above = sorted(kcore(small_graph, k=2).collect(), key=lambda r: r.node)
    log = bg.guard_log(spark)
    assert log and all(not d["hinted"] for d in log if d["op"] == "kcore")
    assert below == above


def test_kcore_above_threshold_edge_side_never_reshuffled(
    spark, small_graph, monkeypatch, no_auto_broadcast
):
    """Above the threshold kcore streams its co-located cached mirror
    (hash-partitioned on the semi-join key ``b``) through shuffle_hash
    semi-joins with ZERO Exchange on the edge side — only the O(nodes)
    alive set (column ``__kb``) shuffles per round.  localCheckpoint
    is disabled so the final plan holds the peel rounds.  kcore's
    checkpoints are all eager, so the patch must land on the CLASSIC
    DataFrame class (pyspark.sql.DataFrame's base-class method is
    shadowed by the classic override)."""
    from pyspark.sql.classic.dataframe import DataFrame

    monkeypatch.setattr(bg, "MAX_BROADCAST_NODES", 1)
    monkeypatch.setattr(
        DataFrame, "localCheckpoint", lambda self, eager=True: self
    )
    # path graph 0-1-2-3 + triangle 4-5-6: the path peels away over
    # two rounds, so the retained plan holds >= 2 guarded joins
    edges = [(0, 1), (1, 2), (2, 3), (4, 5), (4, 6), (5, 6)]
    df = kcore(spark.createDataFrame(edges, ["u", "v"]), k=2)
    rows = sorted(df.collect())
    assert rows == [(4, 2), (5, 2), (6, 2)]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ShuffledHashJoin") >= 2  # multiple peel rounds
    assert _edge_side_ensure_exchanges(plan, ("b",)) == []
    # the per-round O(nodes) work IS there: each round's degree
    # aggregate shuffles on the mirrored source column `a` (the alive
    # side itself rides that aggregate's partitioning through the
    # __kb alias — Project preserves partitioning, so the semi-join
    # adds NO exchange on either side)
    assert (
        len(
            re.findall(
                r"Exchange hashpartitioning\(a#\d+L?, \d+\), ENSURE_REQUIREMENTS",
                plan,
            )
        )
        >= 2
    )


def test_guard_log_prunes_other_applications_on_insert(spark, small_graph):
    """Two sequential Spark applications must not cross-contaminate
    the guard log (r10 verdict ask #8): the first insert under a new
    applicationId evicts every other application's records — the
    session cache's stale-application rule — so a finished
    application's log cannot leak for the process lifetime."""
    bg._GUARD_LOG["app-from-a-previous-session"] = [
        {"op": "lpa", "n_nodes": 1, "limit": 1, "hinted": True}
    ]
    label_propagation(small_graph, iters=1).collect()
    assert "app-from-a-previous-session" not in bg._GUARD_LOG
    app_id = spark.sparkContext.applicationId
    assert any(d["op"] == "lpa" for d in bg._GUARD_LOG.get(app_id, []))


def test_guard_log_caps_per_app_length(spark, small_graph):
    """The live application's record list is bounded at
    _GUARD_LOG_MAX (oldest dropped) so a long-lived driver looping
    graph operators holds O(1) log memory."""
    app_id = spark.sparkContext.applicationId
    bg.clear_guard_log(spark)
    bg._GUARD_LOG[app_id] = [
        {"op": f"filler-{i}", "n_nodes": 1, "limit": 1, "hinted": True}
        for i in range(bg._GUARD_LOG_MAX)
    ]
    bg.guarded_broadcast(small_graph, 1, op="newest")
    records = bg._GUARD_LOG[app_id]
    assert len(records) == bg._GUARD_LOG_MAX
    assert records[-1]["op"] == "newest"  # newest kept, oldest dropped
    assert records[0]["op"] == "filler-1"
    bg.clear_guard_log(spark)


def test_operator_caches_evict_stale_apps(spark, small_graph):
    """r11 ADVICE: entries recorded under a finished application must
    not leak DataFrame handles for the process lifetime.  Every
    operator's first session-cache call drops other-app entries, and
    drops them without unpersist: the stale app's SparkContext is
    stopped, only the handles remain."""
    from crypto_price_tracker_with_etl_dashboard_spark.operators import (
        _session_cache as sc,
    )
    from crypto_price_tracker_with_etl_dashboard_spark.operators.ktruss import ktruss
    from crypto_price_tracker_with_etl_dashboard_spark.operators.triangles import (
        triangle_counts,
    )

    class StaleFrame:
        def unpersist(self):
            raise AssertionError("a stale entry must be dropped without unpersist")

    weighted = small_graph.select(
        F.col("u").alias("src"), F.col("v").alias("dst"), F.lit(1).alias("w")
    )
    runs = {
        "lpa": lambda: label_propagation(small_graph, iters=1),
        "kcore": lambda: kcore(small_graph, k=2),
        "ktruss": lambda: ktruss(small_graph, k=3, rounds=1),
        "pagerank": lambda: pagerank(weighted, iters=1),
        "hits": lambda: hits(weighted, iters=1),
        "triangles": lambda: triangle_counts(small_graph),
    }
    for name, run in runs.items():
        stale = sc._Entry("stale-finished-app", ("stale", name), (StaleFrame(),))
        sc._ENTRIES.insert(0, stale)
        run().collect()
        assert stale not in sc._ENTRIES, name


def test_colocate_fallback_logged_and_uses_default_parallelism(
    spark, small_graph, monkeypatch
):
    """r11 ADVICE: a non-integer spark.sql.shuffle.partitions (e.g.
    'auto' under some AQE configs) must not silently fall back to a
    fixed 200 — the fallback is defaultParallelism and it is recorded
    in the guard log."""
    from pyspark.sql.conf import RuntimeConfig

    orig = RuntimeConfig.get

    def fake(self, key, default=None):
        if key == "spark.sql.shuffle.partitions":
            return "auto"
        return orig(self, key) if default is None else orig(self, key, default)

    monkeypatch.setattr(RuntimeConfig, "get", fake)
    bg.clear_guard_log(spark)
    out = bg.colocate_for_guarded_joins(small_graph, "u")
    expect = spark.sparkContext.defaultParallelism
    recs = [
        d
        for d in bg.guard_log(spark)
        if d["op"] == "colocate_partitions_fallback"
    ]
    assert len(recs) == 1 and recs[0]["n_nodes"] == expect
    assert out.rdd.getNumPartitions() == expect
    bg.clear_guard_log(spark)


def test_modularity_query_guard_binds_and_matches(spark, monkeypatch):
    """events_community_modularity (queries/graph.py tag join) above
    vs below the threshold: identical certified rows."""
    from crypto_price_tracker_with_etl_dashboard_spark.queries import SPARK_QUERIES

    sf = SF_SMALL
    q = SPARK_QUERIES["events_community_modularity"]
    below = sorted(q(spark, sf).collect())
    monkeypatch.setattr(bg, "MAX_BROADCAST_NODES", 1)
    bg.clear_guard_log(spark)
    above = sorted(q(spark, sf).collect())
    binds = [d for d in bg.guard_log(spark) if not d["hinted"]]
    assert {"modularity_tag_u", "modularity_tag_v"} <= {d["op"] for d in binds}
    assert below == above
