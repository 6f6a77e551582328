"""Fixed-point PageRank (operators/pagerank.py): closed-structure
invariants on hand-built graphs, DuckDB parity on the toy scale the
oracle row can't cover (arbitrary graphs), and the broadcast plan
shape."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from crypto_price_tracker_with_etl_dashboard_spark.operators.pagerank import (
    pagerank,
    sql_pagerank,
)

TOY = [("a", "b", 1), ("b", "a", 1), ("b", "c", 2), ("c", "b", 2)]


@pytest.fixture(scope="module")
def toy_edges(spark):
    return spark.createDataFrame(TOY, ["src", "dst", "w"])


def test_pagerank_matches_duckdb_recursion(spark, toy_edges):
    got = sorted(
        (r["node"], r["pagerank"]) for r in pagerank(toy_edges, iters=4).collect()
    )
    values = ", ".join(f"('{s}','{d}',{w})" for s, d, w in TOY)
    sql = sql_pagerank(
        f"edges AS (SELECT * FROM (VALUES {values}) t(src, dst, w))", iters=4
    )
    want = sorted(duckdb.sql(sql).fetchall())
    assert got == want


def test_pagerank_mass_and_order(spark, toy_edges):
    """Ranks are positive, sum to ~1 (dangling-free graph; only
    integer rounding drift), and the structurally central node b
    (linked by everyone) outranks the periphery."""
    out = {r["node"]: r["pagerank"] for r in pagerank(toy_edges, iters=8).collect()}
    assert all(v > 0 for v in out.values())
    assert abs(sum(out.values()) - 1.0) < 1e-6
    assert out["b"] > out["a"] and out["b"] > out["c"]


def test_pagerank_dangling_node_keeps_base_rank(spark):
    """A sink node (no out-edges) still receives rank; its unspread
    mass leaks (documented simplification), so totals stay < 1."""
    edges = spark.createDataFrame([("a", "sink", 1)], ["src", "dst", "w"])
    out = {r["node"]: r["pagerank"] for r in pagerank(edges, iters=3).collect()}
    assert set(out) == {"a", "sink"}
    assert out["sink"] > out["a"]  # everything a spreads lands on sink
    assert sum(out.values()) < 1.0


def test_pagerank_rejects_zero_iters(spark, toy_edges):
    with pytest.raises(ValueError, match="iters"):
        pagerank(toy_edges, iters=0)


def test_pagerank_partition_invariant(spark, toy_edges):
    a = sorted(map(tuple, pagerank(toy_edges, iters=4).collect()))
    b = sorted(map(tuple, pagerank(toy_edges.repartition(7), iters=4).collect()))
    assert a == b


def test_pagerank_plan_broadcasts_ranks(spark, toy_edges):
    """The per-round joins broadcast the O(nodes) side — the edge
    list must never be exchange-shuffled inside the iteration (its
    one build + cache is the only edge movement)."""
    from tests.test_plans import plan_of

    plan = plan_of(pagerank(toy_edges, iters=2))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "InMemoryTableScan" in plan  # cached edge list feeds the rounds


@pytest.mark.parametrize("renamed", ["src", "dst"])
def test_pagerank_edge_column_named_node(spark, toy_edges, renamed):
    """A caller's src or dst column may be named ``node``: the rank
    table's join key is reserved, so the round join stays unambiguous
    and the ranks equal the same graph's ranks under plain names."""
    cols = {"src": "src", "dst": "dst", renamed: "node"}
    edges = toy_edges.select(
        F.col("src").alias(cols["src"]), F.col("dst").alias(cols["dst"]), "w"
    )
    got = sorted(pagerank(edges, src=cols["src"], dst=cols["dst"], iters=4).collect())
    want = sorted(pagerank(toy_edges, iters=4).collect())
    assert got == want


def test_pagerank_empty_edges_matches_duckdb(spark):
    """No edge, no node: an empty rank table with the normal schema,
    as the DuckDB twin returns, not a division by the node count."""
    edges = spark.createDataFrame([], "src string, dst string, w long")
    got = pagerank(edges, iters=4)
    sql = sql_pagerank(
        "edges AS (SELECT * FROM (VALUES ('a', 'b', 1)) t(src, dst, w) WHERE false)",
        iters=4,
    )
    want = duckdb.sql(sql)
    assert got.collect() == want.fetchall() == []
    assert got.columns == want.columns
    assert [t for _, t in got.dtypes] == ["string", "double"]
