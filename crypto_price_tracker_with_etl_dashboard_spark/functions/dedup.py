"""Deduplication operators for the training-data pipeline:

- exact dedup: hash-groupBy on a content fingerprint (one shuffle on
  the 128-bit key; at 100 TB this is the minimal-possible plan).
- word-shingle construction + n-gram Jaccard similarity.
- MinHash signatures + LSH banding, built from portable md5-based
  hash families so the SAME algorithm is expressible in the DuckDB
  oracle.  The LSH band join turns the O(n^2) all-pairs problem into
  an equi-join on (band_idx, band_key) — the scale path: candidate
  generation is a shuffle on band keys, verification touches only
  co-bucketed pairs.
- SimHash (32-bit) via per-token hashes folded bit-wise — integer
  arithmetic only, so engine-portable and shuffle-free.

No UDFs anywhere: everything is Column-expression higher-order
functions (transform/aggregate/array_*), JVM-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from crypto_price_tracker_with_etl_dashboard_spark.functions.text import fingerprint, tokens
from crypto_price_tracker_with_etl_dashboard_spark.operators._session_cache import (
    session_plan_cache,
)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id document per identical (normalized) text.
    Returns (kept id, fingerprint, group size)."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("kept_" + id_col),
            F.count("*").alias("n_dups"),
        )
    )


def shingles_from_tokens(toks: Column, k: int = 3) -> Column:
    """Distinct k-word shingles from a token-array column.  Empty
    array when the document has fewer than k tokens.

    Pass a MATERIALIZED token column (projected in a prior select),
    not ``tokens(text)`` inline: higher-order-function lambdas are
    interpreted per element and re-evaluate captured expressions, so
    an inline regex split would run k times per shingle instead of
    once per row (~20x slower on real corpora)."""
    n = F.size(toks)
    idx = F.sequence(F.lit(0), n - k)  # first token index of each shingle

    def shingle_at(i: Column) -> Column:
        out = toks[i]
        for j in range(1, k):
            out = F.concat(out, F.lit(" "), toks[i + j])
        return out

    return F.when(n >= k, F.array_distinct(F.transform(idx, shingle_at))).otherwise(
        F.array().cast("array<string>")
    )


def shingles(text: Column | str, k: int = 3) -> Column:
    """Distinct k-word shingles of a text column.  Convenience form;
    for corpus-scale plans project ``tokens(text)`` first and use
    ``shingles_from_tokens`` (see its docstring)."""
    return shingles_from_tokens(tokens(text), k)


def jaccard(a: Column, b: Column) -> Column:
    """Jaccard similarity of two distinct-element arrays (exact
    integer set sizes -> one double division: deterministic)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    # try_divide: NULL on 0/0 (two empty shingle sets), matching
    # DuckDB's double-division semantics so the oracle agrees.
    return F.try_divide(inter, union).cast("double")


def _ngram_pair_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    k: int,
    max_doc_freq: int | None,
) -> DataFrame:
    """Shared posting-join core of :func:`ngram_jaccard_pairs` and
    :func:`ngram_containment_pairs`: (doc_a, doc_b, __n_a, __n_b,
    __c) for every co-occurring pair.  See ngram_jaccard_pairs for
    the full plan rationale (explode-first postings, stop-shingle
    cap, output-sensitive pair cost).

    Pairs sharing zero shingles have jaccard 0 and can never reach a
    positive threshold, so the posting join loses nothing — while the
    naive all-pairs formulation (block self-join + per-pair
    array_intersect) touches every doc pair in a block whether or not
    they share anything.  On the sf0.1 corpus that is 2.5M pairs x
    ~100-element set intersections (~50 s); the posting join shuffles
    ~300k narrow rows (~3 s).  At 100 TB the posting join's cost
    tracks actual shingle co-occurrence (sum over shingles of
    C(df,2)), so pair generation is output-sensitive; hot shingles
    (stop-shingles) are the skew knob: ``max_doc_freq`` drops every
    shingle appearing in more than that many documents of its block
    BEFORE the posting join, bounding any single shingle's join
    contribution at C(max_doc_freq, 2) pairs — a boilerplate shingle
    shared by m docs would otherwise emit m(m-1)/2 rows from one
    posting key (the classic LSH/posting-join skew failure).  Set
    sizes |A|, |B| are recomputed AFTER the drop, so the result is
    the exact Jaccard over the capped shingle universe (stop-shingle
    removal semantics, like stopword removal — a pair whose overlap
    was only boilerplate now scores 0).  The document-frequency
    window partitions by (block, shingle), the same key the posting
    join shuffles on, so AQE reuses one exchange for both.
    The blocking key still bounds the worst case; for unblocked
    corpora use minhash_lsh_pairs instead.

    Pairs sharing ZERO shingles are never emitted (their jaccard is
    0, unreachable for threshold > 0; at threshold == 0 this returns
    exactly the co-occurring pairs, not the full cross product)."""
    from pyspark.sql import Window

    from crypto_price_tracker_with_etl_dashboard_spark.sources.tables import fan_out

    toked = fan_out(df.select(F.col(id_col), F.col(block_col), F.col(text_col))).select(
        F.col(id_col), F.col(block_col), tokens(text_col).alias("toks")
    )
    # Postings built explode-first: generate shingle START POSITIONS,
    # then assemble each shingle with codegen'd concat_ws — NOT
    # array_distinct(transform(...)) then explode, whose interpreted
    # lambda evaluation costs ~8x more than the whole rest of the
    # query.  distinct() dedups per-doc repeats (set semantics).
    idx = F.when(
        F.size("toks") >= k, F.sequence(F.lit(0), F.size("toks") - k)
    ).otherwise(F.array().cast("array<int>"))
    shingle = F.concat_ws(" ", *[F.col("toks")[F.col("__i") + j] for j in range(k)])
    # explode_outer (not explode): avoids the inferred size>0 filter
    # that would push the sequence construction below the fan_out
    # exchange into the scan (see contamination_report).
    posts = (
        toked.select(
            F.col(block_col).alias("__blk"),
            F.col(id_col).alias("__id"),
            "toks",
            F.explode_outer(idx).alias("__i"),
        )
        .filter(F.col("__i").isNotNull())
        .select("__blk", "__id", shingle.alias("__shingle"))
        .distinct()
    )
    if max_doc_freq is not None:
        # stop-shingle cap: document frequency per (block, shingle) —
        # same partitioning the posting join uses
        posts = (
            posts.withColumn(
                "__df", F.count("*").over(Window.partitionBy("__blk", "__shingle"))
            )
            .filter(F.col("__df") <= max_doc_freq)
            .drop("__df")
        )
    # |distinct shingles| per doc, co-partitioned window (no broadcast
    # of a corpus-sized side at scale).
    sized = posts.withColumn(
        "__n", F.count("*").over(Window.partitionBy("__blk", "__id"))
    )
    # The sized posting table is shared verbatim by the Jaccard,
    # containment, and LSH-audit queries: session-cache it by
    # semantic plan identity so the tokenize -> shingle -> df-cap ->
    # size pipeline (two window exchanges over the full posting
    # stream) runs once per session, not once per consumer (r12).
    # The pair JOIN below stays per-consumer — deliberately: caching
    # the joined counts would serve near-complete query results from
    # the cache, which is memoization, not sharing.
    sized = session_plan_cache(sized)
    a = sized.select(
        "__blk", "__shingle",
        F.col("__id").alias("doc_a"), F.col("__n").alias("__n_a"),
    )
    b = sized.select(
        "__blk", "__shingle",
        F.col("__id").alias("doc_b"), F.col("__n").alias("__n_b"),
    )
    return (
        a.join(b, ["__blk", "__shingle"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "__n_a", "__n_b")
        .agg(F.count("*").alias("__c"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str = "lang",
    k: int = 3,
    threshold: float = 0.1,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs (>= threshold) within blocking-key
    groups: jaccard = c / (|A| + |B| - c) over the posting-join
    counts (see :func:`_ngram_pair_counts` for the plan)."""
    if threshold < 0:
        raise ValueError("threshold must be >= 0")
    counts = _ngram_pair_counts(df, id_col, text_col, block_col, k, max_doc_freq)
    jac = F.try_divide(
        F.col("__c"), F.col("__n_a") + F.col("__n_b") - F.col("__c")
    ).cast("double")
    return (
        counts.select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str = "lang",
    k: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Asymmetric near-dup pairs Jaccard structurally misses: the
    containment of the SMALLER shingle set in the larger,
    c / min(|A|, |B|).  A 50-line excerpt pasted inside a 5,000-line
    document scores jaccard ~ 0.01 (invisible at any sane threshold)
    but containment ~ 1.0 — the quote/boilerplate/subset-clone
    detector a dedup pipeline runs NEXT TO the symmetric pass.  Same
    inverted-index plan and stop-shingle cap as
    :func:`ngram_jaccard_pairs`; only the score changes."""
    if threshold < 0:
        raise ValueError("threshold must be >= 0")
    counts = _ngram_pair_counts(df, id_col, text_col, block_col, k, max_doc_freq)
    cont = F.try_divide(
        F.col("__c"), F.least(F.col("__n_a"), F.col("__n_b"))
    ).cast("double")
    return (
        counts.select(
            "doc_a", "doc_b",
            F.col("__c").alias("n_shared"),
            cont.alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


_MERSENNE_P = (1 << 61) - 1


def minhash_params(j: int) -> tuple[int, int]:
    """Deterministic (a, b) for universal-hash family j, derived from
    md5 so any engine can regenerate them.  Both ~60-bit (< p), a
    odd; the a*x product needs 128-bit arithmetic (decimal(38,0) in
    Spark, HUGEINT in DuckDB) — exact integers in both engines."""
    import hashlib

    a = int(hashlib.md5(f"a:{j}".encode()).hexdigest()[:15], 16) | 1
    b = int(hashlib.md5(f"b:{j}".encode()).hexdigest()[:15], 16)
    return a, b


def _base_hash(s: Column) -> Column:
    """60-bit integer hash of a shingle: first 15 hex chars of md5.
    Computed ONCE per shingle; the num_hashes families are derived
    from it by (a_j*x + b_j) mod 2^61-1 — classic universal hashing,
    ~16x cheaper than one md5 per family."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")


def _family(x: Column, j: int) -> Column:
    """(a_j*x + b_j) mod (2^61-1) through exact decimal(38,0)
    arithmetic: the ~120-bit product wraps the Mersenne prime ~2^59
    times, fully scrambling the per-family ordering (a no-wrap linear
    map would be monotone in x and every family would pick the same
    argmin shingle, destroying MinHash independence)."""
    a, b = minhash_params(j)
    big = F.lit(a).cast("decimal(38,0)") * x + F.lit(b)
    return (big % F.lit(_MERSENNE_P)).cast("bigint")


def minhash_signature(hashed: Column, num_hashes: int = 16) -> Column:
    """MinHash signature as an array of ``num_hashes`` bigints over a
    MATERIALIZED column of 60-bit shingle hashes (see ``_base_hash``):
    element j is min over x of ((a_j*x+b_j) mod 2^61-1).  Entirely
    row-local — signature computation for a whole corpus is one
    narrow map stage with ZERO shuffle; only the LSH band join
    shuffles.  Portable: DuckDB reproduces identical values
    (queries/text.py oracle)."""
    return F.array(
        *[
            F.array_min(F.transform(hashed, lambda x: _family(x, j)))
            for j in range(num_hashes)
        ]
    )


# Band buckets larger than this never join: a bucket of n docs
# yields n(n-1)/2 candidate pairs, so one million-way identical-
# boilerplate cluster (routine in web-scale corpora) would emit
# ~5e11 pairs from a single bucket.  Docs that populate such
# buckets are trivially catchable by exact_dedup upstream; skipped
# buckets are observable via minhash_lsh_bucket_overflow.  The
# default ceiling sits far above the max bucket observed at the
# certified SFs (sf0.01/sf0.1/sf1), so oracle parity is unaffected.
MAX_BAND_BUCKET = 512


def _banded_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    num_hashes: int,
    bands: int,
) -> DataFrame:
    """The shared LSH banding pipeline: (id, sig, band_idx, band_key)
    rows, held in the session plan cache.  Used by
    minhash_lsh_pairs (the join) and minhash_lsh_bucket_overflow (the
    observability report)."""
    from crypto_price_tracker_with_etl_dashboard_spark.sources.tables import fan_out

    # Band arithmetic must divide evenly: bands > num_hashes gives
    # rows = 0 and every band key degenerates to md5('') — the SAME
    # constant for all docs, turning the bucketed join into the full
    # O(n^2) cross product LSH exists to avoid; a non-dividing bands
    # count would silently ignore the trailing hash functions.
    if bands <= 0 or num_hashes <= 0:
        raise ValueError(f"need positive num_hashes/bands, got {num_hashes}/{bands}")
    if num_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must evenly divide num_hashes ({num_hashes})"
        )
    rows = num_hashes // bands
    toked = fan_out(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), tokens(text_col).alias("toks")
    )
    # Docs with < k tokens have empty shingle sets: drop them HERE
    # with a cheap token-count predicate.  Filtering on size(sh)>0
    # would sink the whole shingle expression below the exchange into
    # the scan (Catalyst pushes deterministic filters down), which
    # both serializes it onto the scan's partitioning and re-evaluates
    # it once in the filter and once in the projection.
    toked = toked.filter(F.size("toks") >= k)
    sh = toked.select(
        F.col(id_col), shingles_from_tokens(F.col("toks"), k).alias("sh")
    )
    hashed = sh.select(
        F.col(id_col), F.transform(F.col("sh"), _base_hash).alias("hs")
    )
    sig = hashed.select(
        F.col(id_col), minhash_signature(F.col("hs"), num_hashes).alias("sig")
    )
    banded = sig.select(
        id_col,
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.md5(
                            F.concat_ws(
                                "|",
                                *[
                                    F.col("sig")[b * rows + r].cast("string")
                                    for r in range(rows)
                                ],
                            )
                        ).alias("band_key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "sig", "band.band_idx", "band.band_key")
    # Materialize once instead of re-deriving on both join sides,
    # and REUSE across calls whose plan is semantically identical
    # (Catalyst sameResult — canonicalized, so expression-id drift
    # between invocations doesn't defeat the match).  A call with a
    # different corpus or banding parameters misses and caches its
    # own entry.  ~10 registered queries run this identical pipeline
    # over the same corpus, so the second and later ones in a session
    # reuse the one cached table (r12).
    return session_plan_cache(banded)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    max_bucket_size: int | None = MAX_BAND_BUCKET,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash + LSH banding.

    signature (num_hashes mins) -> bands of rows=num_hashes/bands ->
    band key = md5(concat(band slice)).  Docs sharing any band key
    become candidates; candidates are scored by signature agreement
    (estimated Jaccard).  Plan shape: one narrow ZERO-SHUFFLE map to
    build signatures (tokens -> shingles -> 60-bit hashes -> family
    mins, each stage a materialized projection so nothing is
    re-evaluated inside HOF lambdas), one explode to (band_idx,
    band_key, id), one shuffle join on the band key, one distinct —
    no all-pairs stage and no signature shuffle.

    ``max_bucket_size`` bounds the per-bucket pair blowup: band
    buckets holding more docs are skipped (the bucket-count window
    shares the join's band-key partitioning, so the guard adds no
    extra exchange of its own).  Pass ``None`` to disable.
    """
    banded = _banded_signatures(df, id_col, text_col, k, num_hashes, bands)
    if max_bucket_size is not None:
        from pyspark.sql import Window

        banded = banded.withColumn(
            "__bn",
            F.count("*").over(Window.partitionBy("band_idx", "band_key")),
        ).filter(F.col("__bn") <= max_bucket_size)
    a = banded.alias("a")
    b = banded.alias("b")
    # estimated Jaccard = fraction of agreeing signature positions
    agree = F.aggregate(
        F.zip_with(F.col("a.sig"), F.col("b.sig"), lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            (agree / F.lit(num_hashes)).cast("double").alias("est_jaccard"),
        )
        .distinct()
    )


def minhash_lsh_bucket_overflow(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    max_bucket_size: int = MAX_BAND_BUCKET,
) -> DataFrame:
    """The band buckets minhash_lsh_pairs SKIPPED at this ceiling:
    one row per oversized (band_idx, band_key) with the doc count and
    the smallest member id as a probe handle.  Docs landing here are
    near-identical en masse — route them through exact_dedup, which
    handles any group size in one hash-groupBy."""
    banded = _banded_signatures(df, id_col, text_col, k, num_hashes, bands)
    return (
        banded.groupBy("band_idx", "band_key")
        .agg(
            F.count("*").cast("bigint").alias("bucket_n"),
            F.min(id_col).alias("sample_" + id_col),
        )
        .filter(F.col("bucket_n") > max_bucket_size)
    )


def token_hashes(text: Column | str) -> Column:
    """Per-token 32-bit hashes (first 8 hex chars of md5).  Project
    this into a column BEFORE simhash32_from_hashes so the tokenize +
    md5 pass runs once per row, not once per output bit."""
    return F.transform(
        tokens(text), lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint")
    )


def simhash32_from_hashes(hashes: Column) -> Column:
    """32-bit SimHash from a MATERIALIZED token-hash array column:
    bit b of the output is 1 iff the sum over tokens of (+1 / -1 for
    bit b set / unset) is positive.  Pure integer arithmetic ->
    engine-portable."""

    def bit_term(b: int):
        return F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )

    out = F.lit(0).cast("bigint")
    for b in range(32):
        out = out + F.when(bit_term(b) > 0, F.lit(2 ** b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
    return out


def simhash32(text: Column | str) -> Column:
    """32-bit SimHash of a text column.  Convenience form for small
    inputs; corpus-scale plans should project ``token_hashes(text)``
    first and use ``simhash32_from_hashes`` (one tokenize+md5 pass
    per row instead of one per output bit)."""
    return simhash32_from_hashes(token_hashes(text))


def contamination_report(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Benchmark decontamination: for every training document, how
    many of its k-word shingles appear anywhere in the evaluation
    corpus.

    The scale asymmetry IS the plan: the eval side (a benchmark —
    thousands of documents, not billions) collapses to a DISTINCT
    shingle set that broadcasts to every executor, so the 100 TB
    train side is one narrow explode + broadcast-hash semi-probe +
    re-aggregation on the doc id.  Nothing corpus-sized ever
    shuffles except the per-doc hit counts (bounded by train rows).

    Returns (id, n_shingles, shared, contamination in [0,1]); rows
    with no shingles (docs shorter than k tokens) are dropped.
    """
    from crypto_price_tracker_with_etl_dashboard_spark.functions import text as T

    tr = train.select(F.col(id_col), T.tokens(text_col).alias("_toks")).select(
        id_col, shingles_from_tokens(F.col("_toks"), k).alias("_sh")
    )
    # explode_outer, NOT explode: plain explode makes Catalyst infer
    # a size(..)>0 AND isnotnull(..) pre-filter that gets pushed below
    # the exchange into the scan, re-evaluating the whole interpreted-
    # lambda shingle expression twice per row on the scan's (single-
    # file) partitioning — 20x slower.  explode_outer infers no such
    # filter; the post-hoc IS NOT NULL on the emitted attribute drops
    # the one null row an empty shingle set produces.
    ev_sh = (
        eval_df.select(T.tokens(text_col).alias("_toks"))
        .select(F.explode_outer(shingles_from_tokens(F.col("_toks"), k)).alias("s"))
        .filter(F.col("s").isNotNull())
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    # ONE pass over the train corpus: explode (drops empty shingle
    # sets, i.e. docs shorter than k tokens), broadcast LEFT join the
    # marked eval set, then a single re-aggregation recovers both the
    # shingle count (per-doc shingles are distinct) and the hit count
    # — the corpus text is scanned and shingled exactly once.
    exploded = tr.select(id_col, F.explode_outer("_sh").alias("s")).filter(
        F.col("s").isNotNull()
    )
    return (
        exploded.join(F.broadcast(ev_sh), "s", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("_hit").alias("shared"),
        )
        .select(
            id_col,
            "n_shingles",
            "shared",
            (F.col("shared") / F.col("n_shingles")).alias("contamination"),
        )
    )


def eval_contamination_report(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Benchmark-side contamination coverage: for every EVALUATION
    document, how many of its k-word shingles appear anywhere in the
    training corpus — the mirror of :func:`contamination_report`
    (which scores train docs).  This is the report that decides which
    benchmark items to DROP before evaluating a model trained on
    ``train`` (the GPT-3 appendix-C n-gram-overlap protocol).

    Scale shape: eval is benchmark-sized, train is the 100 TB corpus,
    so nothing train-sized may shuffle.  The eval distinct-shingle
    set broadcasts onto a map-only semi-probe of the exploded train
    scan; the survivors are drawn from at most |eval shingles|
    distinct values, so the follow-up ``distinct`` ships <= that many
    rows per task after map-side partial aggregation.  The matched
    set (<= |eval shingles| rows) then broadcasts back onto the
    per-eval-doc shingle explode.  The train corpus is scanned and
    shingled exactly once, map-only end to end.

    Returns (id, n_shingles, leaked, contamination in [0,1]); eval
    docs shorter than k tokens (no shingles) are dropped.
    """
    from crypto_price_tracker_with_etl_dashboard_spark.functions import text as T

    ev = eval_df.select(F.col(id_col), T.tokens(text_col).alias("_toks")).select(
        id_col, shingles_from_tokens(F.col("_toks"), k).alias("_sh")
    )
    # explode_outer + isNotNull for the same Catalyst reason as
    # contamination_report: plain explode infers a size()>0 filter
    # that re-evaluates the shingle lambda below the exchange.
    ev_exploded = ev.select(id_col, F.explode_outer("_sh").alias("s")).filter(
        F.col("s").isNotNull()
    )
    ev_distinct = ev_exploded.select("s").distinct()
    tr_sh = (
        train.select(T.tokens(text_col).alias("_toks"))
        .select(F.explode_outer(shingles_from_tokens(F.col("_toks"), k)).alias("s"))
        .filter(F.col("s").isNotNull())
    )
    matched = (
        tr_sh.join(F.broadcast(ev_distinct), "s", "left_semi")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        ev_exploded.join(F.broadcast(matched), "s", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("_hit").alias("leaked"),
        )
        .select(
            id_col,
            "n_shingles",
            "leaked",
            (F.col("leaked") / F.col("n_shingles")).alias("contamination"),
        )
    )


def simhash_hamming_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
    n_bands: int = 4,
    band_bits: int = 8,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate candidate pairs from SimHash signatures via the
    banded-Hamming multi-index (Manku/Jain/Sarma, WWW'07 §3): split
    each ``n_bands*band_bits``-bit signature into ``n_bands``
    contiguous bands; by pigeonhole, two signatures within Hamming
    distance ``max_hamming < n_bands`` agree EXACTLY on at least one
    band, so a bucketed equi-join on (band index, band value) finds
    every qualifying pair — no all-pairs product anywhere.  The
    verify step is one integer ``bit_count(xor)`` per candidate.

    Scale shape: same as MinHash-LSH banding — signatures are
    row-local (zero-shuffle), the candidate join shuffles on the
    ~(n_bands * |docs|)-row band table whose buckets are balanced by
    the hash-like signature distribution, and output is bounded by
    the true near-dup pair count plus band-collision false candidates
    (filtered before the distinct).  Pure integer arithmetic ->
    engine-portable bit-for-bit.

    Returns (id_a, id_b, hamming), id_a < id_b, hamming <= max_hamming.
    """
    if max_hamming >= n_bands:
        raise ValueError(
            f"banding is only recall-complete for max_hamming < n_bands, "
            f"got {max_hamming} >= {n_bands}"
        )
    mask = (1 << band_bits) - 1
    banded = sigs.select(
        F.col(id_col),
        F.col(sim_col).alias("__sh"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.shiftright(F.col(sim_col), b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "__sh", "band.band_idx", "band.band_key")
    a = banded.alias("a")
    b = banded.alias("b")
    hamming = F.bit_count(F.col("a.__sh").bitwiseXOR(F.col("b.__sh")))
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .filter(hamming <= max_hamming)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming.cast("int").alias("hamming"),
        )
        .distinct()
    )


def fuzzy_key_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    key_col: str = "key",
    q: int = 3,
    max_dist: int = 4,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Fuzzy (edit-distance) key join: pairs of rows whose keys share
    at least one character q-gram AND sit within ``max_dist``
    Levenshtein distance — the entity-resolution primitive (near-
    identical titles/names with typos) that exact joins and
    token-level Jaccard both miss.

    Shape: a q-gram inverted index turns the O(n^2) all-pairs edit-
    distance problem into an equi-join on grams (candidates track
    gram co-occurrence, not |corpus|^2), and the O(len^2) Levenshtein
    DP runs only on candidate pairs — both JVM-side, no UDFs.  Keys
    ride along with the postings (a few dozen bytes per row), so the
    confirm step needs NO corpus re-join: the pair distinct and the
    distance filter happen in one shuffle.  ``max_doc_freq`` is the
    stop-gram cap (same skew discipline as ngram_jaccard_pairs):
    a gram shared by m keys emits C(m, 2) candidate rows, so one
    boilerplate gram would otherwise dominate the join.

    Candidate semantics (mirrored exactly by the SQL twin): a pair
    within ``max_dist`` that shares NO q-gram (or only capped ones)
    is not emitted.  Keys shorter than q contribute themselves as
    their single gram, so short identical-ish keys still pair.
    """
    if q < 1:
        raise ValueError(f"q must be >= 1, got {q}")
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    from pyspark.sql import Window

    from crypto_price_tracker_with_etl_dashboard_spark.sources.tables import fan_out

    keys = fan_out(
        df.select(F.col(id_col).alias("__id"), F.col(key_col).alias("__key"))
        .filter(F.col("__key").isNotNull())
    )
    # gram start positions 1..max(len-q+1, 1): a key shorter than q
    # yields [1] and substr returns the whole short key
    idx = F.sequence(F.lit(1), F.greatest(F.length("__key") - (q - 1), F.lit(1)))
    posts = (
        keys.select(
            "__id", "__key", F.explode_outer(idx).alias("__i")
        )
        .filter(F.col("__i").isNotNull())
        .select(
            "__id", "__key",
            F.col("__key").substr(F.col("__i"), F.lit(q)).alias("__g"),
        )
        .distinct()
    )
    if max_doc_freq is not None:
        posts = (
            posts.withColumn(
                "__df", F.count("*").over(Window.partitionBy("__g"))
            )
            .filter(F.col("__df") <= max_doc_freq)
            .drop("__df")
        )
    a = posts.select(
        F.col("__g"), F.col("__id").alias("id_a"), F.col("__key").alias("__ka")
    )
    b = posts.select(
        F.col("__g"), F.col("__id").alias("id_b"), F.col("__key").alias("__kb")
    )
    cand = (
        a.join(b, ["__g"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "__ka", "__kb")
        .distinct()
    )
    dist = F.levenshtein("__ka", "__kb")
    return (
        cand.filter(dist <= max_dist)
        .select("id_a", "id_b", dist.cast("int").alias("dist"))
    )


def sql_fuzzy_key_pairs(
    keys_cte: str, q: int = 3, max_dist: int = 4, max_doc_freq: int | None = None
) -> str:
    """DuckDB twin of fuzzy_key_pairs: ``keys_cte`` must define a CTE
    named ``keys`` with columns ``(__id, __key)``, nulls filtered."""
    freq_sql = (
        f"""grams AS (
      SELECT g.* FROM grams0 g
      JOIN (SELECT __g FROM grams0 GROUP BY __g
            HAVING COUNT(*) <= {max_doc_freq}) f ON f.__g = g.__g
    ),"""
        if max_doc_freq is not None
        else "grams AS (SELECT * FROM grams0),"
    )
    return f"""
    WITH {keys_cte},
    grams0 AS (
      SELECT DISTINCT __id, __key, substr(__key, CAST(u AS INT), {q}) AS __g
      FROM (SELECT __id, __key,
                   unnest(range(1, greatest(len(__key) - {q - 1}, 1) + 1)) AS u
            FROM keys)
    ),
    {freq_sql}
    cand AS (
      SELECT DISTINCT a.__id AS id_a, b.__id AS id_b,
             a.__key AS ka, b.__key AS kb
      FROM grams a JOIN grams b ON a.__g = b.__g AND a.__id < b.__id
    )
    SELECT id_a, id_b, CAST(levenshtein(ka, kb) AS INT) AS dist
    FROM cand WHERE levenshtein(ka, kb) <= {max_dist}
    """
