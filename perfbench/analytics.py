"""``analytics``: a warm, ordered pass over a fixed slice of the query
registry, each query run to its row count, in ``bench.py``'s HEADLINE
order so the session caches see the same pressure between queries as
the headline bench. Every family the engine work targets is in the
slice; set-up runs it once cold, collected and checked against the
DuckDB oracle twin.
"""

from __future__ import annotations

import math
import os
import time

import duckdb
import pandas as pd
from tools.check_oracle import normalize

import gen
from common import Outcome, cache_layers, op_layers
from spans import Tracer

# (query, family), HEADLINE order
SLICE = [
    ("q1_pricing_summary", "relational"),
    ("orders_rollup", "relational"),
    ("doc_dup_clusters", "text"),
    ("emb_ivf_topk", "vector"),
    ("prices_ema_macd", "indicators"),
    ("trade_pagerank", "graph"),
    ("trade_hits", "graph"),
    ("trade_assortativity", "graph"),
]
MIN_PASSES = 2
FAMILIES = ("relational", "indicators", "text", "vector", "graph")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def oracle_diff(spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> str | None:
    """tools/check_oracle.py's verdict: row count, columns, dtype kinds,
    then exact order-insensitive values."""
    s, o = normalize(spark_df), normalize(oracle_df)
    if len(s) != len(o):
        return f"row count {len(s)} vs {len(o)}"
    if list(s.columns) != list(o.columns):
        return f"columns {list(s.columns)} vs {list(o.columns)}"
    if [d.kind for d in s.dtypes] != [d.kind for d in o.dtypes]:
        return "dtype kinds differ"
    for c in s.columns:
        neq = ~(s[c].eq(o[c]) | (s[c].isna() & o[c].isna()))
        if neq.any():
            return f"{c}: {int(neq.sum())} cells differ"
    return None


def run(spark, seed: int, seconds: float, tracer: Tracer, work: str, out: Outcome) -> None:
    from __spark_entry__ import oracle_sql, queries

    sf = os.path.join(work, "sf")
    gen.write_analytics_tables(seed, sf)
    registry, oracles = queries(), oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    # set-up: one cold pass, collected and checked against the oracle
    counts = {}
    t_setup = 0.0
    for name, _ in SLICE:
        t0 = time.perf_counter()
        try:
            got = registry[name](spark, sf).toPandas()
        except Exception as e:  # counted; the pass goes on
            out.record(f"{name}: {e!r}"[:300])
            continue
        finally:
            t_setup += time.perf_counter() - t0
        counts[name] = len(got)
        out.record(oracle_diff(got, con.execute(oracles[name]).fetchdf()))
    con.close()
    tracer.reset()

    passes = 0
    per_query: dict[str, list[float]] = {name: [] for name, _ in SLICE}
    fam = {f: {"build_s": 0.0, "action_s": 0.0, "jobs": 0} for f in FAMILIES}
    # whole passes only, at least MIN_PASSES; another starts while the
    # time left still holds one more pass as long as the last
    t_end = time.perf_counter() + seconds
    last_pass = 0.0
    while passes < MIN_PASSES or time.perf_counter() + last_pass <= t_end:
        t_pass = time.perf_counter()
        for name, family in SLICE:
            t0 = time.perf_counter()
            try:
                with tracer.op(name, family) as op:
                    with tracer.span("queries.build"):
                        df = registry[name](spark, sf)
                    with tracer.span("spark.action"):
                        # the plan DataFrame.count() runs, kept as a
                        # DataFrame so its planning phases can be read
                        agg = df.groupBy().count()
                        n = agg.collect()[0][0]
                    tracer.record_plan(op, agg)
            except Exception as e:  # counted; the pass goes on
                out.record(f"{name}: {e!r}"[:300])
                continue
            per_query[name].append(time.perf_counter() - t0)
            out.record(None if n == counts.get(name) else f"{name}: {n} rows, set-up saw {counts.get(name)}")
            if op is not None:
                fam[family]["build_s"] += op.spans["queries.build"]
                fam[family]["action_s"] += op.spans["spark.action"]
                fam[family]["jobs"] += op.jobs
        passes += 1
        last_pass = time.perf_counter() - t_pass

    # a pass is the sum of each query's best time over the passes (the
    # min-of-N bench.py reports), so a burst of host interference during
    # one pass does not move it
    query_s = {name: min(ts) for name, ts in per_query.items() if ts}
    out.e2e.update({
        "setup_s": t_setup,
        "work_p50_s": sum(query_s.values()),
        # geometric mean, not median: the median of eight unlike queries
        # jumps between the two middle ones
        "request_p50_s": math.exp(sum(map(math.log, query_s.values())) / len(query_s)),
        "requests_per_s": len(query_s) / sum(query_s.values()),
    })
    out.info.update({"passes": passes, "queries": len(SLICE), "pass_s": out.e2e["work_p50_s"],
                     **{f"{name}_s": round(t, 4) for name, t in query_s.items()}})
    if tracer.enabled:
        op_layers(tracer, out)
        cache_layers(spark, out)
        for f, vals in fam.items():
            for k, v in vals.items():
                out.layers[f"queries.{f}.{k}"] = v / passes
