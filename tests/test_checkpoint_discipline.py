"""Pin the eager/lazy localCheckpoint choice PER SITE (r12 verdict
"what's wrong" #4 -> r13 ask #6).

``localCheckpoint(eager=False)`` truncates the logical plan
immediately but materializes with the consumer's FIRST action — one
job per round instead of two.  That is only safe while the
checkpointed table's consumers run SERIALLY (each action after the
previous): a table consumed by multiple CONCURRENTLY SCHEDULED
actions, or fanned out into several references inside one action
BEFORE any action materialized it, can double-compute its subtree.
Every lazy site in the iterative operators is serial-consumption by
construction (the next round's single action, or the caller's one
action); the deliberately EAGER sites are exactly the multi-consumer
fan-outs:

- ktruss's per-round survivor set feeds FOUR references in the next
  round's plan (two wedge arms, the closer, the support join-back);
- the k-means family (similarity.py) re-reads centroids from several
  parallel consumers per Lloyd round;
- the indicator session spines feed a multi-branch mapInPandas
  fan-out;
- bfs/bellman-ford/widest-path SEED frames wrap a driver-local
  createDataFrame that several rounds reference.

pagerank and LPA have NO checkpoint sites at all (r13): their loops
run no per-round actions and reference the previous state exactly
once per round, so the plan is a linear chain — and under AQE a lazy
localCheckpoint is not free (its construction-time toRdd executes
every upstream query stage as separate jobs).

This test reads the operator and query SOURCE and asserts each file's
eager/lazy census, so a future edit cannot silently flip a site from
the safe choice without updating the documented reasoning here.
"""

from __future__ import annotations

import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "crypto_price_tracker_with_etl_dashboard_spark",
)

# file (relative to the package) -> expected (n_eager, n_lazy)
# localCheckpoint CALL sites (docstring mentions excluded).  Update
# this table ONLY together with a serial-vs-concurrent consumption
# argument for the site you add or flip.
EXPECTED = {
    # seed frames eager (driver-local, multi-round); loop states lazy
    "operators/bfs.py": (4, 6),
    # pointer-doubling loop: all lazy (serial rounds)
    "operators/components.py": (0, 3),
    # forest resolution: all lazy (serial rounds)
    "operators/hierarchy.py": (0, 3),
    # normalize subtree lazy (truncates the double-referenced raw
    # scores); plus ONE last-iteration authority checkpoint (feeds
    # the hub half-step AND the final extension)
    "operators/hits.py": (0, 2),
    # peel loop states: lazy (serial rounds)
    "operators/kcore.py": (0, 7),
    # survivor set eager: FOUR references in the next round's plan
    # would otherwise double-compute inside one action
    "operators/ktruss.py": (1, 0),
    # session spines feeding multi-branch fan-outs: eager
    "operators/indicators.py": (2, 0),
    # Lloyd loop + k-center/MMR states: eager (parallel consumers
    # per round — centroids feed assign + update branches)
    "functions/similarity.py": (7, 0),
    # query-level truncations below: a lazy site is consumed by the
    # caller's ONE action or by serial rounds; an eager one is re-read
    # by several later actions.  A lazy table read by several branches
    # of one action is not computed twice: under AQE the lazy
    # checkpoint runs its upstream stages at construction (a
    # two-branch probe ran a row-counting UDF once per row).
    # funnel stages (x2), LSH/truth pair tables (x2), transitivity
    # pairs, idf-weighted postings: each truncates a table several
    # branches of the caller's one action read
    "queries/text.py": (0, 6),
    # item_cf user-item table (two branches of one action) and the
    # Markov power-iteration state (serial rounds) lazy; perceptron
    # user table and per-round weights eager (every later round's
    # action re-reads them)
    "queries/behavior.py": (2, 2),
    # GEMM-audit and kmeans-gemm centroids eager (the similarity.py
    # Lloyd discipline: parallel assign consumers); MMR picked set
    # lazy (serial rounds)
    "queries/vector.py": (2, 1),
    # basket item table: three branches of the caller's one action
    "queries/olap.py": (0, 1),
    # LPA label table: three branches of the modularity query's one
    # action
    "queries/graph.py": (0, 1),
}

def _flags(path: str) -> list[bool]:
    """eager= flag of every localCheckpoint CALL in the file (AST —
    docstring/comment mentions of the pattern don't count)."""
    import ast

    out = []
    for node in ast.walk(ast.parse(open(path).read())):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "localCheckpoint"
        ):
            eager = [
                kw.value.value
                for kw in node.keywords
                if kw.arg == "eager" and isinstance(kw.value, ast.Constant)
            ]
            # a site without an explicit literal eager= flag is
            # itself a discipline violation (the default is eager)
            assert len(eager) == 1, f"{path}: un-pinned localCheckpoint site"
            out.append(bool(eager[0]))
    return out


def _census(path: str) -> tuple[int, int]:
    flags = _flags(path)
    return flags.count(True), flags.count(False)


def test_every_checkpoint_site_is_pinned():
    for rel, (want_eager, want_lazy) in EXPECTED.items():
        got = _census(os.path.join(PKG, rel))
        assert got == (want_eager, want_lazy), (
            f"{rel}: localCheckpoint census changed "
            f"(eager, lazy) = {got}, pinned "
            f"{(want_eager, want_lazy)} — flipping a site between "
            "eager and lazy changes the double-compute safety "
            "argument; update tests/test_checkpoint_discipline.py "
            "WITH the new serial-vs-concurrent consumption reasoning"
        )


def test_no_unpinned_files_use_localcheckpoint():
    """Any NEW file that starts calling localCheckpoint must be added
    to the census above (with its eager/lazy reasoning)."""
    seen = set()
    for sub in ("operators", "functions", "queries"):
        d = os.path.join(PKG, sub)
        for fn in os.listdir(d):
            if not fn.endswith(".py"):
                continue
            rel = f"{sub}/{fn}"
            if _flags(os.path.join(d, fn)):
                seen.add(rel)
    assert seen == set(EXPECTED), (
        f"files using localCheckpoint changed: "
        f"unpinned={sorted(seen - set(EXPECTED))}, "
        f"stale={sorted(set(EXPECTED) - seen)}"
    )
