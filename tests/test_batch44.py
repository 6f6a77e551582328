"""Unit tests for the batch-44 operators: idiosyncratic vol share,
degree CCDF, prefix clusters, split shipments, and repeat rate by
segment.  Query-level equivalence vs DuckDB is the oracle harness's
job (check_oracle-certified at sf0.01 and sf0.1 this round)."""

from __future__ import annotations

from conftest import SF_SMALL


def test_idio_share_bounds(spark):
    from crypto_price_tracker_with_etl_dashboard_spark.queries.finance import (
        q_prices_idio_vol_share,
    )

    rows = q_prices_idio_vol_share(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        # R^2 lies in [0, 1] -> both shares are complementary ppm
        assert 0 <= r["systematic_ppm"] <= 1_000_000
        assert r["idio_ppm"] == 1_000_000 - r["systematic_ppm"]


def test_degree_ccdf_monotone(spark):
    from crypto_price_tracker_with_etl_dashboard_spark.queries.graph import (
        q_trade_degree_ccdf,
    )

    rows = q_trade_degree_ccdf(spark, SF_SMALL).collect()
    assert [r["threshold"] for r in rows] == [1, 2, 5, 10, 20, 50, 100]
    counts = [r["n_at_least"] for r in rows]
    assert counts == sorted(counts, reverse=True)  # CCDF is non-increasing
    assert rows[0]["n_at_least"] == rows[0]["n_suppliers"]  # degree >= 1 always


def test_degree_ccdf_on_empty_trade_matches_duckdb(spark, tmp_path):
    """Zero-row lineitem and orders: no supplier, so every threshold
    row is (t, 0, 0, NULL) on both engines, not an ANSI division by
    zero on the Spark side."""
    import duckdb
    import pyarrow.parquet as pq

    from crypto_price_tracker_with_etl_dashboard_spark.queries.graph import (
        _degree_ccdf_sql,
        q_trade_degree_ccdf,
    )

    con = duckdb.connect()
    for name in ("lineitem", "orders"):
        schema = pq.read_schema(f"{SF_SMALL}/{name}.parquet")
        pq.write_table(schema.empty_table(), tmp_path / f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{tmp_path}/{name}.parquet'")
    got = [tuple(r) for r in q_trade_degree_ccdf(spark, str(tmp_path)).collect()]
    want = con.execute(_degree_ccdf_sql()).fetchall()
    assert got == want == [(t, 0, 0, None) for t in (1, 2, 5, 10, 20, 50, 100)]


def test_prefix_clusters_shape(spark):
    from crypto_price_tracker_with_etl_dashboard_spark.queries.text import (
        q_doc_prefix_clusters,
    )

    rows = q_doc_prefix_clusters(spark, SF_SMALL).collect()
    assert 0 < len(rows) <= 10
    sizes = [r["n_members"] for r in rows]
    assert sizes == sorted(sizes, reverse=True)
    for r in rows:
        assert r["n_members"] >= 2
        assert len(r["prefix"]) <= 32


def test_split_shipments_partition(spark):
    from pyspark.sql import functions as F

    from crypto_price_tracker_with_etl_dashboard_spark.queries.olap import (
        q_orders_split_shipments,
    )
    from crypto_price_tracker_with_etl_dashboard_spark.sources import load_table

    rows = q_orders_split_shipments(spark, SF_SMALL).collect()
    n_orders_with_lines = (
        load_table(spark, SF_SMALL, "lineitem")
        .agg(F.count_distinct("l_orderkey"))
        .collect()[0][0]
    )
    assert sum(r["n_orders"] for r in rows) == n_orders_with_lines
    assert abs(sum(r["share_ppm"] for r in rows) - 1_000_000) <= len(rows)
    for r in rows:
        assert r["mean_span_milli_d"] >= 0


def test_repeat_by_segment_identities(spark):
    from crypto_price_tracker_with_etl_dashboard_spark.queries.olap import (
        q_customer_repeat_by_segment,
    )

    rows = q_customer_repeat_by_segment(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert 0 <= r["repeaters"] <= r["n_customers"]
        assert r["repeat_ppm"] == r["repeaters"] * 1_000_000 // r["n_customers"]
        assert r["orders_per_cust_milli"] >= 0
