"""HITS (Kleinberg hubs & authorities) over a directed weighted edge
DataFrame — the link-analysis complement to PageRank
(operators/pagerank.py): PageRank measures global random-walk
influence on the mirrored graph; HITS keeps the edge DIRECTION and
scores the two sides of it separately (hub = points at good
authorities, authority = pointed at by good hubs).  On the
supplier->customer trade graph that is exactly the buyer/seller
asymmetry the mirror erases.

Exactness discipline (the pagerank/ema_macd pattern): the classic
float mutual recursion

    a'(v) = sum_{u->v} h(u) * w(u,v);   then L1-normalize
    h'(u) = sum_{u->v} a'(v) * w(u,v);  then L1-normalize

is run in fixed-point integer units (UNIT = 1e6).  Normalization
must avoid the pure-integer form ``x * UNIT div T`` (the product
overflows BIGINT once UNIT^2 * total_weight > 2^63) without the
quantized-divisor approximation (``x div round(T/UNIT)`` drifts up
to 20% off-unit on low-degree graphs where T/UNIT is small), so it
routes through DOUBLE with only correctly-rounded IEEE ops:

    x_norm = floor((CAST(x AS DOUBLE) * UNIT) / greatest(1, T))

Every term is the same value in both engines, *, /, and floor are
correctly rounded / exact, and the parenthesization is fixed — so
the result is bit-identical cross-engine even when T exceeds 2^53
and its double image rounds (both engines round it identically).
The DuckDB oracle (:func:`sql_hits`) unrolls the same iterations,
so every score matches exactly; L1 totals stay within |nodes| units
of UNIT at any scale.

Scale shape per half-step (the pagerank plan): the O(nodes) score
table is BROADCAST onto the one cached edge list — edges shuffle
ZERO times after their build; each half-step is a map-side join plus
one hash aggregate with map-side partials, and the L1 total is a
1-row aggregate cross-joined back (never collected to the driver).
Score lineage is truncated per round with localCheckpoint (the
components.py lesson).  Past MAX_BROADCAST_NODES the co-located
fallback engages (operators/_broadcast_guard.py, r10 verdict ask #4):
one cached edge layout per half-step key (src and dst — the two
half-steps probe on different keys) plus the node table on node, and
each half-step's shuffle_hash join streams its layout — still zero
edge-side Exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crypto_price_tracker_with_etl_dashboard_spark.operators._broadcast_guard import (
    colocate_for_guarded_joins,
    guarded_broadcast,
    hint_will_fit,
)
from crypto_price_tracker_with_etl_dashboard_spark.operators._session_cache import (
    cached_count,
    session_plan_cache,
)

UNIT = 10**6

# The HITS build tables (edges, nodes, dual co-located layouts) live
# in the session plan cache, as pagerank's do: repeat calls over the
# same edge expression reuse the builds with zero jobs; the mutual
# recursion itself always runs.


def _l1_normalize(scores: DataFrame, col: str, unit: int) -> DataFrame:
    """L1-normalize an integer score column to ~``unit`` total via the
    exact-floor double form (see module docstring).

    The raw-score relation feeds BOTH the total and the rescale
    branch; truncating it first stops the per-half-step subtree from
    evaluating twice (and from compounding across the h->a->h chain
    within an iteration)."""
    scores = scores.localCheckpoint(eager=False)
    total = scores.agg(
        F.greatest(F.lit(1).cast("bigint"), F.sum(col).cast("bigint")).alias("__T")
    )
    return scores.crossJoin(F.broadcast(total)).select(
        "node",
        F.floor((F.col(col).cast("double") * unit) / F.col("__T"))
        .cast("bigint")
        .alias(col),
    )


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    iters: int = 4,
    unit: int = UNIT,
) -> DataFrame:
    """(node, hub, authority) after ``iters`` mutual-recursion rounds
    from a uniform hub start.  ``edges`` rows are (src, dst, w > 0)
    with parallel edges pre-aggregated; direction is preserved.
    Nodes with no out-edges get hub 0, no in-edges authority 0."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    # materialize once before the two-branch node union (count job
    # only on a cache miss, kept in the cache entry — r13); 2x the
    # edge count is the guard's free node bound (see comment below)
    edges = session_plan_cache(edges, materialize=True)
    n_nodes = 2 * cached_count(edges)
    # lazy entry: the first action's broadcast build populates it,
    # exactly the pre-r13 job structure
    nodes = session_plan_cache(
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    # FREE upper bound for the broadcast guard: |nodes| <= 2 * |edges|
    # (each edge names two endpoints), and the edge count was already
    # materialized above — no extra count job; a conservative bound
    # only risks dropping a hint AQE's runtime size check re-adds.
    if not hint_will_fit(n_nodes):
        # The guard will drop the per-half-step score broadcasts: the
        # two half-steps probe the edge list on DIFFERENT keys (hub
        # step joins on src, authority step on dst), so keep one
        # co-located cached layout per key — the dual-bucketing shape
        # a production graph store writes at ingest — plus the node
        # table on node.  Each half-step's shuffle_hash join then
        # streams its edge layout with zero edge-side Exchange.
        #
        # COST (r11 ADVICE): this holds TWO full edge-list copies at
        # once, and the guard binds exactly when the graph is huge.
        # Deliberate trade: both layouts are probed EVERY iteration
        # (a lazy dst build would save nothing past round 1), and
        # Dataset cache() defaults to StorageLevel.MEMORY_AND_DISK —
        # partitions that don't fit SPILL to disk instead of OOMing,
        # so the 2x footprint degrades to disk reads, never to the
        # failure mode the guard exists to stop.
        # The one-layout alternative re-shuffles the 100 TB side every
        # round — strictly worse than spilling the second copy.  The
        # raw layouts stay in the plan cache next to the co-located
        # ones (r13, the same spill-not-OOM argument): a repeat call
        # re-hits every layout instead of rebuilding the raw one.
        edges_by_src = session_plan_cache(
            colocate_for_guarded_joins(edges, src), materialize=True
        )
        edges_by_dst = session_plan_cache(
            colocate_for_guarded_joins(edges, dst), materialize=True
        )
        nodes = session_plan_cache(
            colocate_for_guarded_joins(nodes, "node"), materialize=True
        )
    else:
        edges_by_src = edges_by_dst = edges
    # SPARSE-SUPPORT recursion (r12, the pagerank rewrite's twin): a
    # node missing from a raw score table carries exactly 0 — it
    # contributes nothing to the next half-step's sums and
    # L1-normalizes to floor(0/T) = 0 — so the per-half-step O(nodes)
    # zero-extension join (nodes LEFT JOIN raw, coalesce 0) the
    # pre-r12 shape paid TWICE per iteration is dropped from the
    # loop; the full node table re-enters exactly once, in the final
    # extension below.  L1 totals are unchanged (zeros add 0), so
    # every surviving score is bit-identical to the dense recursion.
    h = nodes.select("node", F.lit(unit).cast("bigint").alias("h"))
    a = None
    for it in range(iters):
        # authority half-step: a_raw(v) = sum_{u->v} h(u) * w
        hr = h.select(F.col("node").alias("__hn"), F.col("h").alias("__hs"))
        a_raw = (
            edges_by_src.join(
                guarded_broadcast(hr, n_nodes, op="hits_hub"),
                F.col(src) == F.col("__hn"),
            )
            .select(
                F.col(dst).alias("node"),
                (F.col("__hs") * F.col(weight).cast("bigint")).alias("__c"),
            )
            .groupBy("node")
            .agg(F.sum("__c").cast("bigint").alias("a"))
        )
        a = _l1_normalize(a_raw, "a", unit)
        # checkpoint `a` only on the LAST iteration (r13): there it
        # feeds TWO consumers (the hub half-step inside h's lineage
        # AND the final extension), so without truncation the
        # normalize projection + L1-total agg would evaluate twice.
        # On earlier iterations `a` feeds only the next half-step —
        # and plan growth is already contained by the checkpoint
        # inside _l1_normalize (the expensive raw subtree is an RDD
        # scan), so the extra per-iteration checkpoints bought
        # nothing while each one executed its upstream stages at
        # construction (the AQE toRdd cost the pagerank/LPA loops
        # document).
        if it == iters - 1:
            a = a.localCheckpoint(eager=False)
        # hub half-step: h_raw(u) = sum_{u->v} a(v) * w
        ar = a.select(F.col("node").alias("__an"), F.col("a").alias("__as"))
        h_raw = (
            edges_by_dst.join(
                guarded_broadcast(ar, n_nodes, op="hits_auth"),
                F.col(dst) == F.col("__an"),
            )
            .select(
                F.col(src).alias("node"),
                (F.col("__as") * F.col(weight).cast("bigint")).alias("__c"),
            )
            .groupBy("node")
            .agg(F.sum("__c").cast("bigint").alias("h"))
        )
        h = _l1_normalize(h_raw, "h", unit)
        # `h` is never checkpointed (r13): it feeds exactly one
        # consumer per iteration (the next authority half-step, or
        # the final extension), and _l1_normalize already truncated
        # the expensive subtree beneath it.
    # ONE final zero-extension over the full node table (was twice
    # per iteration): nodes with no out-edges get hub 0, no in-edges
    # authority 0 — exactly the dense recursion's values
    return (
        nodes.join(
            guarded_broadcast(h, n_nodes, op="hits_hub_total"), "node", "left"
        )
        .join(
            guarded_broadcast(a, n_nodes, op="hits_auth_total"), "node", "left"
        )
        .select(
            "node",
            (F.coalesce(F.col("h"), F.lit(0)).cast("double") / unit).alias("hub"),
            (F.coalesce(F.col("a"), F.lit(0)).cast("double") / unit).alias(
                "authority"
            ),
        )
    )


def sql_hits(edges_cte: str, iters: int = 4, unit: int = UNIT) -> str:
    """DuckDB mirror: the identical integer mutual recursion UNROLLED
    one CTE pair per iteration (aggregates are not allowed in a
    recursive CTE term — the sql_pagerank pattern).  ``edges_cte``
    must end in a CTE named ``edges`` yielding (src, dst, w)."""
    its = []
    prev_h = "h0"
    a_cur = None
    for k in range(1, iters + 1):
        a_raw, a_cur, h_raw, h_cur = f"araw{k}", f"a{k}", f"hraw{k}", f"h{k}"
        its.append(f"""
    {a_raw} AS MATERIALIZED (
      SELECT n.node, COALESCE(s.S, 0) AS a
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, SUM(r.h * e.w) AS S
        FROM edges e JOIN {prev_h} r ON e.src = r.node
        GROUP BY e.dst
      ) s ON n.node = s.node
    ),
    {a_cur} AS MATERIALIZED (
      SELECT node,
             CAST(floor((CAST(a AS DOUBLE) * {unit}) / t.T) AS BIGINT) AS a
      FROM {a_raw} CROSS JOIN (
        SELECT GREATEST(1, CAST(SUM(a) AS BIGINT)) AS T FROM {a_raw}
      ) t
    ),
    {h_raw} AS MATERIALIZED (
      SELECT n.node, COALESCE(s.S, 0) AS h
      FROM nodes n LEFT JOIN (
        SELECT e.src AS node, SUM(r.a * e.w) AS S
        FROM edges e JOIN {a_cur} r ON e.dst = r.node
        GROUP BY e.src
      ) s ON n.node = s.node
    ),
    {h_cur} AS MATERIALIZED (
      SELECT node,
             CAST(floor((CAST(h AS DOUBLE) * {unit}) / t.T) AS BIGINT) AS h
      FROM {h_raw} CROSS JOIN (
        SELECT GREATEST(1, CAST(SUM(h) AS BIGINT)) AS T FROM {h_raw}
      ) t
    )""")
        prev_h = h_cur
    return f"""
    WITH {edges_cte},
    nodes AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM edges
        UNION ALL SELECT dst AS node FROM edges
      )
    ),
    h0 AS (SELECT node, CAST({unit} AS BIGINT) AS h FROM nodes),{','.join(its)}
    SELECT h.node AS node,
           CAST(h.h AS DOUBLE) / {unit} AS hub,
           CAST(a.a AS DOUBLE) / {unit} AS authority
    FROM {prev_h} h JOIN {a_cur} a ON h.node = a.node
    """
