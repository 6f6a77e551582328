"""k-core decomposition (bounded peel) over an undirected edge list.

The density filter graph pipelines run before expensive per-node
work: the k-core is the maximal subgraph where every node keeps
degree >= k, found by iteratively peeling nodes of degree < k
(Matula & Beck, JACM 1983 — peeling converges because removal only
ever lowers degrees).  Spam/bot rings and tight communities survive;
tendrils and one-off co-occurrences fall away.

Scale shape (the LPA envelope, r11 verdict finding #1): the mirrored
neighbor table (a, b) — one row per edge DIRECTION — is built once,
cached, and each round makes exactly ONE join: semi-join nbr on ``b``
against the O(nodes) alive set, then a (a -> count) hash aggregate
with map-side partials.  The alive side goes through
``guarded_broadcast`` — broadcast while the node count fits under
MAX_BROADCAST_NODES, an observable ``shuffle_hash`` swap past it —
and when the guard will bind, the cached mirror is laid out
hash-partitioned on ``b`` ONCE (``colocate_for_guarded_joins``), so
every round's join streams it with zero edge-side Exchange.  The
bound passed to the guard is the already-materialized per-round
``n_alive`` count — kcore counts the alive set every round for its
convergence check anyway, so the guard costs zero extra jobs.

Single-join equivalence (why one semi-join replaces the previous
two-endpoint filter): alive sets shrink monotonically, and a node
that died at round s had fewer than k alive neighbors THEN — with a
shrinking alive set its alive-neighbor count only shrinks further, so
counting alive neighbors for ALL nodes and filtering ``>= k``
excludes every dead node automatically.  Per round the surviving set
is identical to filtering edges on both endpoints, row for row (the
fixpoint degrees too), so the unrolled DuckDB oracle is unchanged.

The peel stops at the FIRST round that removes nothing (one count()
action per round, same driver-scalar discipline as
connected_components' convergence check); round count is bounded by
the peel depth, which is tiny on real degree distributions (2-4
here).  The DuckDB oracle unrolls a fixed number of rounds — valid
because peeling is monotone: once converged, further rounds are
no-ops, so an R-round unroll equals the fixpoint whenever
convergence happens within R (asserted by the operator's
``max_rounds`` raise).
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
    hold,
    session_plan_cache,
)


def _degrees(edges: DataFrame) -> DataFrame:
    """(node, deg) from an undirected u<v edge list: one explode of
    both endpoints + a partial-agged count (NOT a unionByName of two
    projections — each union branch would re-read the upstream)."""
    return (
        edges.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )


def _mirror(e: DataFrame) -> DataFrame:
    """Mirrored neighbor table (a, b), one row per edge DIRECTION
    (the LPA shape): ONE join per peel round instead of two chained
    endpoint semi-joins, and one co-located layout instead of the
    dual layout the chained form would need above-threshold."""
    return e.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("a"), F.col("v").alias("b")),
                F.struct(F.col("v").alias("a"), F.col("u").alias("b")),
            )
        ).alias("p")
    ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))


def kcore(edges: DataFrame, k: int, max_rounds: int = 20) -> DataFrame:
    """Nodes of the k-core with their in-core degree.

    Peels until stable; raises if ``max_rounds`` passes without
    convergence (so a caller whose oracle unrolls R rounds can trust
    the fixpoint was reached within R).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    # kcore and core_decomposition share one held slot: either call
    # releases the other's frames
    hold("kcore")
    held: list[DataFrame] = []
    # materialize the edge projection ONCE (the triangles/LPA edge
    # discipline): an uncached input would otherwise re-run its whole
    # upstream build on every round's action.  Skip the cache when the
    # CALLER already cached the input (the ktruss convention, r11
    # ADVICE): re-caching an identical plan warns and risks dropping a
    # sibling's cache entry on the next call's unpersist.
    e = edges.select("u", "v")
    if not (edges.storageLevel.useMemory or edges.storageLevel.useDisk):
        e = e.cache()
        held.append(e)
    # initial alive set from full-graph degrees; its count doubles as
    # the broadcast-guard bound for EVERY round (alive only shrinks),
    # already materialized for the convergence check — zero extra jobs
    # LAZY checkpoint + count = ONE job per materialization (r12
    # optimization: eager=True ran a materialize job and then a count
    # job every round — the count now triggers the checkpoint)
    alive = (
        _degrees(e).filter(F.col("deg") >= k).select("node")
        .localCheckpoint(eager=False)
    )
    n_alive = alive.count()
    nbr = _mirror(e)
    if not hint_will_fit(n_alive):
        # the guard will drop the per-round broadcast: lay the cached
        # mirror out hash-partitioned on the per-round join key ONCE,
        # so every round's shuffle_hash semi-join streams it from the
        # cache with zero edge-side Exchange (only the O(nodes) alive
        # set shuffles; InMemoryTableScan preserves the layout —
        # the LPA/pagerank discipline)
        nbr = colocate_for_guarded_joins(nbr, "b")
    # the mirror is SHARED with LPA and the coreness decomposition
    # via the semantic-plan session cache (r12) — owned there, never
    # among the frames this operator holds
    # materialize-on-miss (r13): the count job runs only when the
    # mirror is newly cached — LPA/coreness hits pay zero jobs here
    nbr = session_plan_cache(nbr, materialize=True)
    hold("kcore", *held)
    for _ in range(max_rounds):
        al = alive.select(F.col("node").alias("__kb"))
        deg = (
            nbr.join(
                guarded_broadcast(al, n_alive, op="kcore"),
                F.col("b") == F.col("__kb"),
                "left_semi",
            )
            .groupBy(F.col("a").alias("node"))
            .agg(F.count("*").alias("deg"))
        )
        new_alive = (
            deg.filter(F.col("deg") >= k).select("node")
            .localCheckpoint(eager=False)
        )
        n_new = new_alive.count()
        if n_new == n_alive:
            # lazy: the caller's first action materializes it once
            return (
                deg.filter(F.col("deg") >= k).select("node", "deg")
                .localCheckpoint(eager=False)
            )
        alive, n_alive = new_alive, n_new
    raise RuntimeError(f"k-core peel did not converge in {max_rounds} rounds")


def core_decomposition(
    edges: DataFrame, max_k: int = 8, rounds_per_level: int = 8
) -> DataFrame:
    """Per-node coreness, capped at ``max_k``: ``core(v)`` = the
    largest ``k <= max_k`` such that ``v`` survives the k-core peel
    (Matula & Beck's decomposition, batched by level).  The
    graph-density analogue of a per-document quality score — ring
    detection thresholds on it, sampling stratifies by it — where
    :func:`kcore` answers only the single-threshold membership
    question.

    One running alive set peels at increasing thresholds k = 2..max_k
    (every edge endpoint is trivially in the 1-core): because alive
    sets shrink monotonically and thresholds only rise, a node dead
    at any earlier level can never re-pass a later ``>= k`` filter —
    the same monotonicity argument that justifies :func:`kcore`'s
    single-join form, extended across levels.  So the whole
    decomposition reuses ONE cached mirrored neighbor table and the
    per-level peel is the identical guarded semi-join + hash
    aggregate: broadcast below MAX_BROADCAST_NODES, co-located
    shuffle_hash above it, zero edge-side Exchange either way.  The
    guard bound is the entering alive count, already materialized for
    the convergence check.  ``core(v) = 1 + #levels v survived``,
    assembled with one union + hash aggregate at the end — no
    per-level anti-joins.

    Raises if any level fails to converge within
    ``rounds_per_level`` — the contract that lets
    :func:`sql_core_decomposition` unroll exactly that many rounds
    per level (extra unrolled rounds are no-ops once converged).
    """
    if max_k < 1:
        raise ValueError(f"max_k must be >= 1, got {max_k}")
    hold("kcore")
    held: list[DataFrame] = []
    e = edges.select("u", "v")
    if not (edges.storageLevel.useMemory or edges.storageLevel.useDisk):
        e = e.cache()
        held.append(e)
    # the 1-core: every node incident to an edge (lazy checkpoint +
    # count = one job, the kcore() r12 discipline)
    alive = (
        e.select(F.explode(F.array("u", "v")).alias("node"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_alive = alive.count()
    base = alive
    if max_k == 1:
        hold("kcore", *held)
        return base.select(
            "node", F.lit(1).cast("bigint").alias("core")
        )
    nbr = _mirror(e)
    if not hint_will_fit(n_alive):
        # the guard will bind at level 2 already (alive only shrinks
        # from here): lay the cached mirror out hash-partitioned on
        # the per-round join key ONCE — every level's every round
        # then streams it with zero edge-side Exchange
        nbr = colocate_for_guarded_joins(nbr, "b")
    # shared with LPA / kcore via the session plan cache (r12)
    nbr = session_plan_cache(nbr, materialize=True)
    hold("kcore", *held)
    # Degree MEMOIZATION across rounds and levels (r12): ``deg``
    # always holds each node's alive-neighbor count over the CURRENT
    # alive set, so a round first filters the inherited table and
    # recomputes it only when the filter actually removed nodes.  A
    # converged level hands its still-valid table straight to the
    # next threshold — on graphs where whole levels drop nothing the
    # edge-linear pass is skipped entirely and the level costs one
    # O(nodes) filter count.  Round-for-round the alive sets equal
    # the recompute-every-round form (monotone removal: equal counts
    # imply equal sets), so the unrolled oracle is unchanged.
    deg = (
        nbr.groupBy(F.col("a").alias("node"))
        .agg(F.count("*").alias("deg"))
        .localCheckpoint(eager=False)
    )
    level_finals: list[DataFrame] = []
    for k in range(2, max_k + 1):
        converged = False
        for _ in range(rounds_per_level):
            new_alive = (
                deg.filter(F.col("deg") >= k).select("node")
                .localCheckpoint(eager=False)
            )
            n_new = new_alive.count()
            if n_new == n_alive:
                converged = True
                alive = new_alive
                break
            alive, n_alive = new_alive, n_new
            al = alive.select(F.col("node").alias("__kb"))
            deg = (
                nbr.join(
                    guarded_broadcast(al, n_alive, op="core_decomposition"),
                    F.col("b") == F.col("__kb"),
                    "left_semi",
                )
                .groupBy(F.col("a").alias("node"))
                .agg(F.count("*").alias("deg"))
                .localCheckpoint(eager=False)
            )
        if not converged:
            raise RuntimeError(
                f"core peel at k={k} did not converge in "
                f"{rounds_per_level} rounds"
            )
        if n_alive == 0:
            break  # every higher core is empty too
        level_finals.append(alive)
    survived = base.select("node").limit(0)
    for fin in level_finals:
        survived = survived.unionByName(fin.select("node"))
    extra = survived.groupBy("node").agg(F.count("*").alias("__x"))
    return base.join(extra, "node", "left").select(
        "node",
        (F.lit(1) + F.coalesce(F.col("__x"), F.lit(0)))
        .cast("bigint")
        .alias("core"),
    )


def sql_core_decomposition(
    edges_cte: str, max_k: int, rounds_per_level: int
) -> str:
    """DuckDB mirror of :func:`core_decomposition`: for each level
    k = 2..max_k, ``rounds_per_level`` unrolled in-subgraph peel
    steps chained from the previous level's final alive set;
    ``core = 1 + #levels survived``.  Valid whenever every level
    converges within the unroll — the Spark operator raises
    otherwise.  Alive CTEs are MATERIALIZED (each is referenced
    twice by the next degree pass — the sql_kcore lesson)."""
    parts = [edges_cte.rstrip().rstrip(",")]
    parts.append("edges_m AS MATERIALIZED (SELECT u, v FROM edges)")
    parts.append(
        """af1 AS MATERIALIZED (
      SELECT DISTINCT node FROM (
        SELECT unnest([u, v]) AS node FROM edges_m
      )
    )"""
    )
    prev = "af1"
    finals = []
    for k in range(2, max_k + 1):
        for r in range(1, rounds_per_level + 1):
            cur = f"a{k}_{r}"
            parts.append(
                f"""{cur} AS MATERIALIZED (
      SELECT node FROM (
        SELECT node, COUNT(*) AS deg FROM (
          SELECT unnest([u, v]) AS node FROM edges_m
          WHERE u IN (SELECT node FROM {prev})
            AND v IN (SELECT node FROM {prev})
        ) GROUP BY node
      ) WHERE deg >= {k}
    )"""
            )
            prev = cur
        finals.append(prev)
    membership = " + ".join(
        f"(CASE WHEN n.node IN (SELECT node FROM {f}) THEN 1 ELSE 0 END)"
        for f in finals
    ) or "0"
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"\n    SELECT n.node, CAST(1 + {membership} AS BIGINT) AS core"
        + "\n    FROM af1 n"
    )


def sql_kcore(edges_cte: str, k: int, rounds: int) -> str:
    """DuckDB mirror: ``rounds`` unrolled peel steps over the edge
    CTE (which must end with an ``edges(u, v)`` relation).  Valid
    whenever the true peel converges within ``rounds`` — the Spark
    operator raises otherwise."""
    # edges_m / MATERIALIZED: every round references the edge list
    # twice — without the hint DuckDB inlines the whole upstream CTE
    # chain into each reference and the unroll goes quadratic in
    # wall-clock (measured 79s -> <1s at sf0.01)
    parts = [edges_cte.rstrip().rstrip(",")]
    parts.append("edges_m AS MATERIALIZED (SELECT u, v FROM edges)")
    prev = "alive0"
    parts.append(
        """alive0 AS MATERIALIZED (
      SELECT node FROM (
        SELECT unnest([u, v]) AS node FROM edges_m
      ) GROUP BY node HAVING COUNT(*) >= {k}
    )""".format(k=k)
    )
    for r in range(1, rounds + 1):
        parts.append(
            f"""deg{r} AS (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT unnest([u, v]) AS node FROM edges_m
        WHERE u IN (SELECT node FROM {prev})
          AND v IN (SELECT node FROM {prev})
      ) GROUP BY node
    ),
    alive{r} AS MATERIALIZED (SELECT node, deg FROM deg{r} WHERE deg >= {k})"""
        )
        prev = f"alive{r}"
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"\n    SELECT node, deg FROM alive{rounds}"
    )
