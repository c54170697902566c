"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Everything is built from deterministic, engine-portable primitives (md5,
string ops, integer bit ops) so results are reproducible across engines
(→ DuckDB oracles) AND the plans scale:

- exact dedup        — hash + groupBy (one shuffle on the hash)
- MinHash + LSH      — shingle → per-seed min(md5) signature → band-bucket
                       self-join. Signatures are computed with array
                       expressions (``array_min`` over ``transform``), NOT
                       explode+groupBy, so signature generation is a
                       narrow, shuffle-free map stage: the only shuffle in
                       the whole pipeline is the equi-join on
                       (band, band_hash) — never an O(n²) cross join.
- SimHash            — 16-bit signature from per-token md5 nibble-high
                       bits via ``aggregate`` over the token array (again
                       shuffle-free); 4-bit band blocking guarantees
                       recall for hamming distance ≤ 3 (pigeonhole over 4
                       bands).
- n-gram Jaccard     — exact verification on LSH candidates only.

MinHash uses *string* minima of seeded md5 hex digests: lexicographic min
of a uniformly distributed hex string is a valid min-hash and avoids any
hex→int conversion differences between engines.

Intermediate token/shingle arrays are projected as real columns before the
per-seed transforms so the regex tokenization runs once per row — leaving
it inline re-evaluates the split inside every higher-order-function
lambda (measured 11× slower at sf0.1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import tokens
from .util import spread

# single source of truth for parameters — oracle SQL is generated from these
SHINGLE_N = 3
MINHASH_SEEDS = 12
LSH_BANDS = 6  # 2 seeds per band
SIMHASH_BITS = 64  # web-scale default (Manku WWW'07); 16 = explicit oracle mode
SIMHASH_BANDS = 4  # bits/4 per band → guarantees hamming ≤ 3 recall

# Skew bound for pair-generating self-joins: no task cell compares more
# than SKEW_CAP × SKEW_CAP rows of one join-key bucket (see
# _salted_self_sides). 512² ≈ 260k comparisons per cell — small enough
# that even a pathological bucket is spread across many ordinary tasks.
SKEW_CAP = 512


def _salted_self_sides(
    df: DataFrame,
    keys: list[str],
    hash_col: str,
    cap: int | None = None,
    size_col: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Grid-salted sides for a self-equi-join on ``keys`` with bounded
    per-task work.

    A self-join on data-dependent keys (LSH band buckets, duplicate-
    cluster keys) has unbounded task size: a bucket of k rows puts all
    O(k²) pair comparisons in ONE task. This splits each bucket into an
    s×s grid, s = ceil(k / cap): every row learns its bucket size via a
    window count, takes grid coordinate c = hash(id) mod s, and each side
    replicates across one grid axis (left row (c, j) for all j; right row
    (i, c) for all i). Joining on keys + (gi, gj) lands every unordered
    row pair in exactly ONE cell of ≤ cap × cap comparisons — same output
    as the plain join, stragglers gone. Buckets at or under ``cap`` get a
    1×1 grid: zero replication, so unskewed data pays only the window
    count (which shuffles on the same keys the join needed anyway; the
    window exchange is shared by both sides via ReusedExchange).

    ``size_col`` skips the window entirely when the caller already
    carries the per-bucket row count (e.g. attached by the collapse
    aggregation that produced the frame) — the salting then adds no
    shuffle at all.
    """
    from pyspark.sql.window import Window

    cap = cap or SKEW_CAP  # late-bound so tests/tools can patch the module var
    # one projection per side (not a withColumn chain — every DataFrame
    # op is a full JVM analyzer pass over the accumulated tree, and these
    # build inside the hottest pipelines). A window expression cannot
    # share a projection with the grid-explode generator, so the window
    # path materializes _s in one intermediate select; the size_col path
    # needs no intermediate at all.
    cols = [F.col(f) for f in df.columns]
    if size_col is not None:
        base = df
        s = F.greatest(
            F.lit(1), F.ceil(F.col(size_col) / F.lit(float(cap)))
        ).cast("int")
    else:
        w = F.count(F.lit(1)).over(Window.partitionBy(*keys))
        base = df.select(
            *cols,
            F.greatest(F.lit(1), F.ceil(w / F.lit(float(cap))))
            .cast("int").alias("_s"),
        )
        s = F.col("_s")
    c = F.pmod(F.xxhash64(F.col(hash_col)), s).cast("int")
    grid = F.explode(F.sequence(F.lit(0), s - F.lit(1)))
    left = base.select(*cols, c.alias("_gi"), grid.alias("_gj"))
    right = base.select(*cols, grid.alias("_gi"), c.alias("_gj"))
    return left, right


def _expand_rep_pairs(
    rep_pairs: DataFrame,
    members: DataFrame,
    id_col: str,
    within: dict[str, Column],
    dup_keys: DataFrame | None = None,
) -> DataFrame:
    """All-member pairs from representative pairs.

    ``members`` is (_tkey, id); ``rep_pairs`` is (id_a, id_b, _ka, _kb,
    extra...) over cluster representatives. Exact duplicates have
    identical token streams, hence identical signatures/band buckets and
    identical similarity to every third document — so cross-cluster
    member pairs inherit the rep pair's extra columns verbatim, and
    within-cluster pairs take the ``within`` literals (jaccard 1.0,
    hamming 0, ...). The result is exactly the pair set a non-collapsed
    run would produce, but the expensive band self-join only ever saw one
    row per distinct content. The within-cluster self-join is grid-salted
    too: its O(k²) output is inherent, but no single task emits it alone.

    ``dup_keys`` ((_tkey, _csz), one row per MULTI-member cluster,
    produced for free by the collapse aggregation's count) pre-filters
    the within self-join's input to actual duplicates AND supplies the
    cluster size, so the salting needs no window at all: on
    duplicate-light data the within machinery sees ~zero rows and adds
    ~zero stages; on duplicate-heavy data the filter join carries the
    size along.

    merge hints on every join here (round 13, caught by the suite-wide
    broadcast audit): ``rep_pairs`` is PAIR-VOLUME-scaled and ``dup_keys``
    is aggregate-derived — Catalyst's derived size estimates undershoot,
    so AQE would happily broadcast them at any scale and die growing the
    hash relation at a duplicate-heavy 100 TB corpus (the repeated_spans
    x100 lesson, SCALE.md). Sort-merge shuffles-and-spills instead.
    """
    extra = [c for c in rep_pairs.columns if c not in ("id_a", "id_b", "_ka", "_kb")]
    ma = members.select(F.col("_tkey").alias("_ka"), F.col(id_col).alias("_fa"))
    mb = members.select(F.col("_tkey").alias("_kb"), F.col(id_col).alias("_fb"))
    cross = (
        rep_pairs.hint("merge").join(ma, "_ka")
        .hint("merge").join(mb, "_kb")
        .select(
            F.least("_fa", "_fb").alias("id_a"),
            F.greatest("_fa", "_fb").alias("id_b"),
            *extra,
        )
    )
    if dup_keys is None:
        wmembers, size_col = members, None
    else:
        wmembers, size_col = members.hint("merge").join(dup_keys, "_tkey"), "_csz"
    l, r = _salted_self_sides(wmembers, ["_tkey"], id_col, size_col=size_col)
    la, ra = l.alias("wl").hint("merge"), r.alias("wr")
    within_pairs = la.join(
        ra,
        (F.col("wl._tkey") == F.col("wr._tkey"))
        & (F.col("wl._gi") == F.col("wr._gi"))
        & (F.col("wl._gj") == F.col("wr._gj"))
        & (F.col(f"wl.{id_col}") < F.col(f"wr.{id_col}")),
    ).select(
        F.col(f"wl.{id_col}").alias("id_a"),
        F.col(f"wr.{id_col}").alias("id_b"),
        *[v.alias(k) for k, v in within.items()],
    )
    return cross.unionByName(within_pairs)


def _shingles_of(toks: Column, n: int = SHINGLE_N) -> Column:
    """Distinct word n-grams (space-joined) of a token array.

    Built by zipping n SHIFTED slices of ``toks`` — the arguments of
    zip_with evaluate once per ROW, so this stays linear even when
    ``toks`` is a full tokenization EXPRESSION (not a projected
    attribute). The per-position element_at lambda it replaces
    re-evaluated the captured expression per element — higher-order
    functions re-run captured non-attribute expressions for every
    element, which made contamination's 8-gram shingling re-tokenize
    each document once per token position."""
    cnt = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    g = F.slice(toks, 1, cnt)
    for j in range(1, n):
        g = F.zip_with(
            g,
            F.slice(toks, j + 1, cnt),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return F.array_distinct(g)


def shingles(col: Column, n: int = SHINGLE_N) -> Column:
    """Distinct word n-grams (space-joined) of the token stream."""
    return _shingles_of(tokens(col), n)


def _token_frame(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, _tok) for documents with ≥ SHINGLE_N tokens, tokenized ABOVE
    the ``spread`` repartition.

    The r4-r15 layout tokenized BELOW the exchange so that multiple
    consumers could share the shuffle via ReusedExchange — but since the
    signature frame became a localCheckpoint (r16), every ``toked``
    produced here has exactly ONE consumer (``_sig_keyed``), so the
    reuse rationale is gone and the below-exchange placement only
    serialized the regex tokenization into the scan stage's tasks (ONE
    task on a single-row-group input — guide §2.5 input skew). Raw
    (id, text) rows now ride the spread (hash on the id: deterministic
    under retry, no pre-repartition sort; smaller bytes than token
    arrays) and the tokenize + length gate run at full width above it.
    Same rows, same values — only task placement changes.
    """
    from .text import tokens_sql

    return (
        spread(df.select(F.col(id_col), F.col(text_col)), by=id_col)
        .selectExpr(id_col, f"{tokens_sql(text_col)} AS _tok")
        .where((F.size("_tok") >= SHINGLE_N) & F.col(id_col).isNotNull())
    )


def _shingles_sql(tok_col: str, n: int = SHINGLE_N) -> str:
    """SQL-string twin of ``_shingles_of`` (same expression tree after
    parsing — selectExpr builds these wide projections in ONE py4j
    round-trip instead of hundreds of Column calls, which at bench scale
    is a third of the per-run wall time; value-equivalence is pinned by
    the dedup oracle rows and test_sig_keyed_sql_matches_column_api)."""
    parts = ", ".join(f"element_at({tok_col}, i + {j})" for j in range(n))
    return (
        f"array_distinct(if(size({tok_col}) - {n - 1} > 0, "
        f"transform(sequence(1, size({tok_col}) - {n - 1}), "
        f"i -> concat_ws(' ', {parts})), "
        f"cast(array() as array<string>)))"
    )


def _sig_keyed(toked: DataFrame, id_col: str,
               seeds: int = MINHASH_SEEDS,
               keep_tokens: bool = False) -> DataFrame:
    """(id, _tkey, mh0..mh{k-1}) from an (id, _tok) frame — per-seed
    lexicographic min of md5(seed|shingle), plus the exact-content key
    ``_tkey`` = md5 of the token stream (tokens contain no whitespace, so
    the space join is unambiguous). Identical token streams → identical
    _tkey AND identical signature — the invariant the exact-collapse in
    ``_rep_pairs_and_members`` rests on.

    Pure array expressions per row (no explode, no groupBy): the signature
    stage is a narrow map that scales linearly with no shuffle. Built as
    one parsed SQL projection (see ``_shingles_sql``) — the 12-seed
    Column-API construction alone cost ~200 ms of py4j round-trips per
    query build, pure driver overhead under the bench's fresh-plan-per-run
    protocol.
    """
    mins = [
        f"array_min(transform(_sh, x -> md5(concat('{s}|', x)))) AS mh{s}"
        for s in range(seeds)
    ]
    keep = ("_tok",) if keep_tokens else ()
    return toked.selectExpr(
        id_col,
        "md5(concat_ws(' ', _tok)) AS _tkey",
        f"{_shingles_sql('_tok')} AS _sh",
        *keep,
    ).selectExpr(id_col, "_tkey", *mins, *keep)


def _signature_from_tokens(toked: DataFrame, id_col: str,
                           seeds: int = MINHASH_SEEDS) -> DataFrame:
    """(id, mh0..mh{k-1}) — see ``_sig_keyed``."""
    return _sig_keyed(toked, id_col, seeds).drop("_tkey")


def minhash_signature(df: DataFrame, id_col: str, text_col: str,
                      seeds: int = MINHASH_SEEDS) -> DataFrame:
    """(id, mh0..mh{k-1}) — per-seed lexicographic min of md5(seed|shingle).

    Documents with zero shingles are dropped (same as the unnest+groupBy
    oracle) — the guard is ``size(tokens) >= n`` (equivalent: at least one
    n-gram exists iff there are ≥ n tokens) so the predicate Catalyst
    pushes down is a single cheap tokenize, not a re-inlined copy of the
    whole shingle+minhash expression tree.
    """
    toked = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_tok")).where(
        F.size("_tok") >= SHINGLE_N
    )
    return _signature_from_tokens(toked, id_col, seeds)


def corpus_minhash_overlap(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str = "text",
    seeds: int = MINHASH_SEEDS,
) -> DataFrame:
    """One-row corpus-LEVEL Jaccard estimate between two document sets:
    (seeds, seeds_agree, jaccard_est).

    Treats each corpus as ONE shingle set (the union of its documents'
    n-gram shingles) and compares their corpus minhashes: per seed, the
    corpus min is the min over all per-document mins (min is associative,
    so the per-doc map stage and a tiny global aggregate suffice — no
    shingle explode, no shuffle beyond a 12-value partial agg), and the
    estimate is the fraction of seeds whose mins agree — the standard
    single-hash minhash estimator, here at corpus granularity. This is
    the train/benchmark OVERLAP question asked before per-document
    decontamination is worth running (``ops/text.contamination`` is the
    per-doc follow-up): at 100 TB each side is a full map + 12-column
    min, and the comparison is a one-row crossJoin (the documented
    one-row scalar-attach BroadcastNestedLoopJoin exemption).

    Uses the same shingle/seed constants as the LSH family, so identical
    corpora estimate 1.0 and disjoint-shingle corpora 0.0 (tested with a
    python twin in tests/test_ops.py).
    """
    def corpus_mins(df: DataFrame, side: str) -> DataFrame:
        toked = df.select(tokens(F.col(text_col)).alias("_tok")).where(
            F.size("_tok") >= SHINGLE_N
        )
        doc_mins = toked.selectExpr(
            f"{_shingles_sql('_tok')} AS _sh"
        ).selectExpr(
            *[
                f"array_min(transform(_sh, x -> md5(concat('{s}|', x))))"
                f" AS _m{s}"
                for s in range(seeds)
            ]
        )
        return doc_mins.agg(
            *[F.min(f"_m{s}").alias(f"_{side}{s}") for s in range(seeds)]
        )

    joined = corpus_mins(df_a, "a").crossJoin(corpus_mins(df_b, "b"))
    agree = None
    for s in range(seeds):
        term = F.coalesce(
            (F.col(f"_a{s}") == F.col(f"_b{s}")).cast("int"), F.lit(0)
        )
        agree = term if agree is None else agree + term
    return joined.select(
        F.lit(seeds).cast("int").alias("seeds"),
        agree.cast("int").alias("seeds_agree"),
    ).select(
        "seeds",
        "seeds_agree",
        F.round(F.col("seeds_agree") / F.lit(float(seeds)), 6).alias(
            "jaccard_est"
        ),
    )


def lsh_bands(sig: DataFrame, id_col: str, bands: int = LSH_BANDS,
              seeds: int = MINHASH_SEEDS, keep: tuple[str, ...] = ()) -> DataFrame:
    """(id, *keep, band, band_hash) — md5 over the concatenated band rows."""
    per_band = seeds // bands
    rows = ", ".join(
        "struct({b} AS band, md5(concat_ws('|', {cols})) AS band_hash)".format(
            b=b, cols=", ".join(f"mh{b * per_band + j}" for j in range(per_band))
        )
        for b in range(bands)
    )
    # inline() explodes the struct array straight into (band, band_hash)
    # columns — one analyzed projection instead of explode + re-select
    return sig.selectExpr(id_col, *keep, f"inline(array({rows}))")


def lsh_candidate_pairs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing at least one LSH band bucket."""
    return _lsh_pairs_from_tokens(_token_frame(df, id_col, text_col), id_col)


def _rep_pairs_and_members(
    toked: DataFrame, id_col: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame, DataFrame]:
    """LSH candidate pairs over CLUSTER REPRESENTATIVES plus the
    (_tkey, id) membership frame for expansion, plus the (_tkey, _csz)
    frame of multi-member clusters (for the within-cluster prefilter +
    window-free salting in ``_expand_rep_pairs`` — the count falls out
    of the collapse aggregation for free), plus the collapsed ``reps``
    frame itself so consumers that need one-row-per-cluster facts
    (e.g. the drop set's representative map) don't re-aggregate, plus
    the checkpoint-backed (id, _tok) frame so the Jaccard verify stage
    never re-tokenizes (see the materialization note below).

    Skew hardening, both layers (the 100 TB web-corpus reality is
    boilerplate clusters of thousands of identical documents):

    1. Exact collapse — identical token streams share _tkey, and one
       representative (min id) per _tkey enters the band join. A
       k-duplicate cluster contributes ONE row per band bucket instead of
       k, so identical-content clusters cannot inflate any bucket at all.
       Signatures are computed per document map-side (embarrassingly
       parallel) and collapsed by a groupBy over 12 small hashes — the
       heavy token arrays never shuffle through the collapse.
    2. Occupancy-bounded grid salting (``_salted_self_sides``) — distinct
       but near-identical contents can still share a band bucket; the
       window count splits any bucket over SKEW_CAP across an s×s task
       grid with identical output.

    merge-join hint: left to itself, AQE broadcasts one side of the
    self-join at test scale, and an estimate-driven broadcast of a
    corpus-derived frame is exactly what the round-13 audit bans at
    100 TB. Sort-merge shuffles-and-spills instead.

    The signature frame and the collapse are MATERIALIZED (lazy
    localCheckpoint) rather than shared by exchange reuse: the r4-r15
    ReusedExchange strategy was fragile — any consumer whose exchange
    subtree differed by one inferred predicate or pruned column silently
    forked the exchange, and the per-shingle md5 signature map (the
    dominant cost of every op in this family) re-executed once per fork
    (measured in r16: FOUR ~30 executor-second signature stages per
    lsh_candidates run at sf0.1). The checkpoint pins it to exactly one
    execution no matter how many consumers the pair expansion adds, at
    the cost of holding (id, _tkey, _tok, 12 hashes) per doc in executor
    block storage for the query's lifetime — the same posture as the
    capstone's text checkpoints, and strictly less data than one band
    shuffle of the corpus. ``keep_tokens`` rides the token array through
    the same checkpoint so the Jaccard verify stage reads it back
    instead of re-running scan+tokenize (returned as the 5th element;
    column pruning drops it from every other consumer's read).
    """
    sigk = _sig_keyed(toked, id_col, keep_tokens=True).localCheckpoint(
        eager=False
    )
    reps = sigk.groupBy("_tkey").agg(
        F.min(id_col).alias(id_col),
        F.count(F.lit(1)).alias("_csz"),
        # all rows of a _tkey group carry identical signatures, so
        # any_value is deterministic here
        *[F.first(f"mh{s}").alias(f"mh{s}") for s in range(MINHASH_SEEDS)],
    ).localCheckpoint(eager=False)
    dup_keys = reps.where(F.col("_csz") >= 2).select("_tkey", "_csz")
    # NB: a close pair matches several bands, so the join output needs a
    # distinct(). The simhash first-matching-band residual was tried
    # here too (carry all band hashes, keep band == first equal) — it
    # removes the distinct shuffle but drags a 6×md5 array through the
    # window and both join shuffles, measuring strictly slower at sf0.1;
    # post-collapse the distinct's input is band-match volume over
    # DISTINCT contents, already grid-distributed, so it stays.
    bb = lsh_bands(reps, id_col, keep=("_tkey",)).hint("merge")
    left, right = _salted_self_sides(bb, ["band", "band_hash"], id_col)
    l, r = left.alias("l"), right.alias("r")
    rep_pairs = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l._gi") == F.col("r._gi"))
            & (F.col("l._gj") == F.col("r._gj"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col("l._tkey").alias("_ka"),
            F.col("r._tkey").alias("_kb"),
        )
        .distinct()
    )
    return (
        rep_pairs,
        sigk.select("_tkey", F.col(id_col)),
        dup_keys,
        reps,
        sigk.select(F.col(id_col), "_tok"),
    )


def _lsh_pairs_from_tokens(toked: DataFrame, id_col: str) -> DataFrame:
    rep_pairs, members, dup_keys, _reps, _ct = _rep_pairs_and_members(
        toked, id_col
    )
    return _expand_rep_pairs(rep_pairs, members, id_col, within={},
                             dup_keys=dup_keys)


def jaccard_pairs(df: DataFrame, pairs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact token-set Jaccard for arbitrary candidate pairs.

    Unlike the internal near-dup path this does NOT drop short documents —
    externally supplied pairs may reference docs with < SHINGLE_N tokens.
    """
    toks = spread(df).select(
        F.col(id_col), F.array_distinct(tokens(F.col(text_col))).alias("tok")
    )
    return _jaccard_join(toks, pairs, id_col)


def _jaccard_from_tokens(toked: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    toks = toked.select(F.col(id_col), F.array_distinct("_tok").alias("tok"))
    return _jaccard_join(toks, pairs, id_col)


def _jaccard_join(toks: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    # extra pair columns (e.g. the _ka/_kb cluster keys on rep pairs)
    # pass through untouched
    extra = [c for c in pairs.columns if c not in ("id_a", "id_b")]
    return (
        pairs.join(toks.withColumnRenamed(id_col, "id_a").withColumnRenamed("tok", "tok_a"), "id_a")
        .join(toks.withColumnRenamed(id_col, "id_b").withColumnRenamed("tok", "tok_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.size(F.array_intersect("tok_a", "tok_b"))
                / F.size(F.array_union("tok_a", "tok_b")),
                6,
            ).alias("jaccard"),
            *extra,
        )
    )


def near_duplicates(df: DataFrame, id_col: str, text_col: str, threshold: float = 0.8) -> DataFrame:
    """MinHash-LSH candidates verified by exact Jaccard ≥ threshold.

    Tokenizes once: both the LSH candidate stage and the Jaccard verify
    stage read the same `_token_frame` exchange (see its docstring).
    Restricting the Jaccard token lookup to docs with ≥ SHINGLE_N tokens
    is lossless here — every candidate id comes from the signature stage,
    which already requires that.

    Verification runs on REPRESENTATIVE pairs only (one per distinct
    content pair — see ``_rep_pairs_and_members``), then expands to
    member pairs: cross-cluster pairs inherit the rep Jaccard (equal
    token sets ⇒ equal similarity to any third set) and within-cluster
    pairs are 1.0 by construction. Same rows as verifying every pair,
    with the expensive array_intersect paid once per content pair.
    """
    toked = _token_frame(df, id_col, text_col)
    rep_pairs, members, dup_keys, _reps, ctoked = _rep_pairs_and_members(
        toked, id_col
    )
    verified = _jaccard_from_tokens(ctoked, rep_pairs, id_col).where(
        F.col("jaccard") >= threshold
    )
    return _expand_rep_pairs(
        verified, members, id_col, within={"jaccard": F.lit(1.0)},
        dup_keys=dup_keys,
    ).where(F.col("jaccard") >= threshold)


def near_duplicate_drops(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    transitive: bool = False,
    unique: bool = True,
    toked: DataFrame | None = None,
) -> DataFrame:
    """The documents to DROP under keep-first near-dedup — one id per
    dropped document, equal by construction to
    ``near_duplicates(...).select(id_b).distinct()`` but with O(n)
    output: the within-cluster O(k²) pair set is never materialized.

    This is the 100 TB curation primitive: a doc is dropped iff some
    SIMILAR doc has a smaller id. Any member smaller than doc d implies
    that member's cluster representative (the cluster min) is also
    smaller than d, so the drop set decomposes exactly into (a) every
    non-representative member (its rep is a smaller exact duplicate;
    requires threshold ≤ 1, which Jaccard guarantees) and (b) every
    member of a cluster whose rep appears as the LARGER side of a
    verified representative pair. Both are id-per-row joins over the
    membership map — pair volume never appears. Equality with the
    pair-based path is pinned by tests and by the curation oracle rows.

    ``transitive=True`` switches to keep-one-per-TRANSITIVE-cluster
    (``near_duplicate_clusters``): drop every non-minimum member of each
    connected component. The direct-pair rule provably keeps extra
    documents in hub-shaped clusters — with A~B and B~C but A≁C and
    ids A < C < B, direct keep-first retains both A and C even though
    they share B's cluster; the transitive rule keeps only A. Costs the
    O(log n) contraction rounds on top of the shared verify stage.

    ``unique=False`` skips the final distinct: the two drop branches can
    both emit a member of a dropped MULTI-member cluster, so rows may
    repeat — fine (and one exchange cheaper) when the consumer is a
    left_anti join, which ignores right-side multiplicity. The id SET is
    identical either way.
    """
    if transitive:
        cl = near_duplicate_clusters(df, id_col, text_col, threshold)
        return cl.where(F.col("cluster_id") != F.col(id_col)).select(id_col)
    if toked is None:
        toked = _token_frame(df, id_col, text_col)
    rep_pairs, members, _dup_keys, reps, ctoked = _rep_pairs_and_members(
        toked, id_col
    )
    verified = _jaccard_from_tokens(ctoked, rep_pairs, id_col).where(
        F.col("jaccard") >= threshold
    )
    dropped_clusters = verified.select(F.col("_kb").alias("_tkey")).distinct()
    # the collapse already computed each cluster's min id — reuse it
    # (column pruning drops the minhash aggregates from this branch)
    reps_min = reps.select("_tkey", F.col(id_col).alias("_rep"))
    # ONE pass over the membership map (r16, guide §2.4): the two drop
    # branches — (a) non-representatives and (b) every member of a
    # dropped cluster — previously each joined corpus-sized `members`
    # (two shuffles + sorts of the id map, then a union). Both branches
    # decide on CLUSTER-level facts, which are reps-scaled: fold the
    # dropped flag onto reps first, then one members join decides both
    # — drop iff (id != rep) OR cluster-dropped. The id SET is
    # unchanged; a dropped cluster's non-reps now emit once instead of
    # twice (the documented unique=False multiplicity freedom).
    # merge hints: reps_min is aggregate-derived (distinct-content-
    # scaled) and dropped_clusters pair-derived — their undershooting
    # size estimates would broadcast them at any scale (round-13 audit)
    flagged = reps_min.hint("merge").join(
        dropped_clusters.withColumn("_dropped", F.lit(True)), "_tkey", "left"
    )
    out = (
        members.hint("merge").join(flagged, "_tkey")
        .where((F.col(id_col) != F.col("_rep")) | F.col("_dropped").isNotNull())
        .select(id_col)
    )
    return out.distinct() if unique else out


CC_MAX_ITERS = 30


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = CC_MAX_ITERS,
    checkpoint=None,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``;
    ``component`` is the minimum node id reachable from it.

    Alternating large-star / small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14): each round
    re-attaches nodes to the minimum of their neighborhood, converging in
    O(log n) rounds regardless of graph diameter — plain min-label
    propagation needs O(diameter) rounds and a chain of duplicates (doc A
    ~ B ~ C ... with no direct A~Z pair) is exactly the shape that
    produces long diameters. Every step is relational (two groupBy-mins
    and two joins per round, no collect, no explode of neighbor lists),
    so a hub node with k neighbors contributes k ROWS to a join, never an
    O(k²) task.

    ``checkpoint`` is a ``DataFrame -> DataFrame`` lineage cut applied
    once per round; the default eager ``localCheckpoint`` is right for
    single-process use. On a cluster with executor churn pass
    ``lambda d: d.checkpoint()`` with a fault-tolerant checkpoint dir
    (localCheckpoint blocks survive only as long as their executors).

    Convergence is detected by a (count, xxhash64-sum) fingerprint of the
    canonical edge set — one cheap aggregate per round instead of a full
    except-join. Raises ``RuntimeError`` if ``max_iter`` rounds don't
    reach the fixed point (log₂-bounded: 30 rounds covers any real graph).
    """
    if checkpoint is None:
        def checkpoint(d: DataFrame) -> DataFrame:
            return d.localCheckpoint(eager=True)

    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u").isNotNull() & F.col("v").isNotNull())
        .where(F.col("u") != F.col("v"))
    )

    def large_star(cur: DataFrame) -> DataFrame:
        nbrs = cur.unionByName(
            cur.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = nbrs.groupBy("u").agg(F.min("v").alias("m"))
        mins = mins.select("u", F.least("m", F.col("u")).alias("m"))
        return (
            nbrs.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(cur: DataFrame) -> DataFrame:
        o = cur.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins = o.groupBy("u").agg(F.min("v").alias("m"))
        return (
            o.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins.select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def fingerprint(cur: DataFrame) -> tuple:
        row = cur.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal sum: ANSI mode would overflow a long sum of hashes
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    e = checkpoint(e)
    prev = fingerprint(e)
    for _ in range(max_iter):
        e = checkpoint(small_star(large_star(e)))
        cur = fingerprint(e)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    # fixed point = star graphs: every edge is (member, component-min);
    # the roots themselves appear only on the v side
    return (
        e.select(F.col("u").alias("node"), F.col("v").alias("component"))
        .unionByName(
            e.select(F.col("v").alias("node"), F.col("v").alias("component"))
        )
        .distinct()
    )


def near_duplicate_clusters(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.8
) -> DataFrame:
    """(id, cluster_id) for EVERY document — the transitive closure of the
    verified near-duplicate pair graph, cluster_id = min doc id of the
    component. Keep-one-per-cluster dedup needs the TRANSITIVE cluster,
    not direct pairs: A~B and B~C must put A, C in one cluster even when
    A and C themselves fall under the threshold. Singletons (including
    docs shorter than SHINGLE_N tokens, which produce no pairs) are their
    own cluster.

    Scale shape: the O(k²) within-cluster pair set is never materialized.
    CC runs over an O(n + |rep pairs|) edge skeleton with identical
    connectivity to the full expanded pair graph — member→representative
    star edges (identical token streams) plus Jaccard-verified
    representative-level pairs.
    """
    toked = _token_frame(df, id_col, text_col)
    rep_pairs, members, _dup_keys, _reps, ctoked = _rep_pairs_and_members(
        toked, id_col
    )
    verified = _jaccard_from_tokens(ctoked, rep_pairs, id_col).where(
        F.col("jaccard") >= threshold
    )
    reps_min = members.groupBy("_tkey").agg(F.min(id_col).alias("_rep"))
    star = (
        members.join(reps_min, "_tkey")
        .where(F.col(id_col) != F.col("_rep"))
        .select(F.col("_rep").alias("src"), F.col(id_col).alias("dst"))
    )
    edges = verified.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(star)
    labels = connected_components(edges, "src", "dst").withColumnRenamed(
        "node", id_col
    )
    return (
        df.select(F.col(id_col))
        .join(labels, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("component", F.col(id_col)).alias("cluster_id"),
        )
    )


def cluster_representatives(
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """(cluster_id, keep_id, keep_score, size) — the highest-QUALITY
    member of each duplicate cluster (score ties → min id), the
    production refinement of keep-first dedup: when a page exists as a
    clean original plus a mangled scrape, min-id keep-first retains
    whichever was crawled first, while quality-aware selection retains
    the copy a trained quality model scores best (the convention of the
    large curated corpora — near-dup clusters keep their best-scoring
    document, cf. SemDeDup's keep-one-per-ε-ball with a chooseable
    keep rule, Abbas et al. 2303.09540 §3).

    ``clusters`` is any (id, cluster_id) map (`near_duplicate_clusters`,
    or exact/semantic cluster outputs); ``scores`` is (id, score) from
    e.g. ``quality_classifier_score``. Documents missing from ``scores``
    — and NaN scores, which Spark's ordering ranks ABOVE every real
    number and would otherwise let ``keep_score`` disagree with
    ``keep_id`` — participate with score −∞ (they lose to every scored
    member; among only-unscored members the min id wins) so the result
    is total over ``clusters`` regardless of scorer coverage.

    100 TB shape: one LEFT shuffle join on id (left so scorer coverage
    can't drop cluster members; both sides corpus-sized, AQE-handled),
    then ONE map-side-partial ``min_by`` aggregate on cluster_id — no
    window sort, no per-cluster pair expansion; linear in corpus size.
    The (−score, id) struct ordering computes argmax with deterministic
    tie-break in a single agg.
    """
    s = scores.select(
        F.col(id_col),
        F.nanvl(
            F.col(score_col).cast("double"), F.lit(float("-inf"))
        ).alias("_q"),
    )
    joined = clusters.join(s, id_col, "left").select(
        "cluster_id",
        F.col(id_col),
        F.coalesce("_q", F.lit(float("-inf"))).alias("_q"),
    )
    ordk = F.struct(
        (-F.col("_q")).alias("nq"), F.col(id_col).alias("i")
    )
    return joined.groupBy("cluster_id").agg(
        F.min_by(F.col(id_col), ordk).alias("keep_id"),
        F.max("_q").alias("keep_score"),
        F.count(F.lit(1)).alias("size"),
    )


def keep_best_drops(
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """The ids to DROP under keep-BEST dedup: every document that is not
    its cluster's highest-scoring member (ties → min id). One id per
    row, O(n) output; feed to a ``left_anti`` join exactly like
    ``near_duplicate_drops``. Singleton clusters never drop."""
    keep = cluster_representatives(
        clusters, scores, id_col, score_col
    ).select("cluster_id", "keep_id")
    return (
        clusters.join(keep, "cluster_id")
        .where(F.col(id_col) != F.col("keep_id"))
        .select(id_col)
    )


# -------------------------------------------------- substring-level dedup
# Cross-document repeated-SPAN detection and removal — the "exact
# substring dedup" step of LLM data prep (Lee et al., "Deduplicating
# Training Data Makes Language Models Better", ACL 2022, use a suffix
# array; the distributed re-expression below uses fixed-width token
# windows hashed per position, which finds exactly the spans of length
# ≥ min_len). Whole-document dedup (above) misses boilerplate paragraphs
# embedded in otherwise-distinct pages; this operator works at token
# granularity.

SPAN_MIN_LEN = 20  # default minimum repeated-span length, in tokens


def _window_hashes(toked: DataFrame, id_col: str, min_len: int) -> DataFrame:
    """(id, pos, whash) — md5 of every ``min_len``-token window
    (1-based ``pos``), computed map-side from the projected token array.
    O(n·L) hashing (md5 per window, not a rolling O(n) recurrence) —
    the price of an engine-portable hash the DuckDB twin reproduces
    byte-for-byte; still a narrow, shuffle-free stage."""
    k = F.size("_tok") - (min_len - 1)
    return (
        toked.where(F.size("_tok") >= min_len)
        .select(
            F.col(id_col),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), k),
                    lambda p: F.md5(
                        F.concat_ws(" ", F.slice(F.col("_tok"), p, min_len))
                    ),
                )
            ).alias("_p0", "whash"),
        )
        .select(F.col(id_col), (F.col("_p0") + 1).alias("pos"), "whash")
    )


def repeated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = SPAN_MIN_LEN,
    toked: DataFrame | None = None,
) -> DataFrame:
    """(id, start, length) maximal DUPLICATE spans: token intervals
    (1-based ``start``) covered by at least one ``min_len``-token window
    whose content occurs elsewhere in the corpus EARLIER in (doc, pos)
    order. The globally-first occurrence of each window content is not a
    duplicate (keep-first), so a span repeated k times yields k-1
    dropped occurrences — removing every reported span keeps exactly one
    copy of every repeated substring. Overlapping/adjacent duplicate
    windows merge into maximal intervals (gaps-and-islands per doc).

    100 TB shape: window hashing is map-side; the only data-scaled
    shuffles are the groupBy on the window hash (min/count partial-
    aggregate map-side, so a boilerplate span repeated 10⁷ times
    collapses per map task — no hot reducer), the join back on the hash
    (1:many against a one-row-per-hash frame; AQE skew-join splits a
    pathological hash), and the per-doc island window (partition sizes
    bounded by document length). No pair explosion anywhere: work is
    linear in total occurrences, never quadratic.

    The hash-join-back carries a ``merge`` hint: the one-row-per-hash
    frame is DATA-SCALED (duplicated-window count grows with the
    corpus), but Catalyst's post-aggregate size estimate undershoots
    and AQE picked a broadcast at the x100 sweep scale — the hashed
    relation then exhausted execution memory ("Could not allocate
    memory to grow BytesToBytesMap", 500k docs / 28M windows). SMJ
    shuffles both sides on whash and spills instead of dying; never
    broadcast a frame whose size grows with the data.
    """
    if min_len < 2:
        raise ValueError(f"min_len must be ≥ 2, got {min_len}")
    from pyspark.sql.window import Window

    if toked is None:
        # materialized (r16): the window-hash frame below is consumed
        # TWICE — once as the join-back probe and once inside its own
        # groupBy — and the two exchange subtrees differ (partial agg
        # sits below the second), so exchange reuse never fires and the
        # scan+tokenize chain executed twice. Same rationale as
        # _rep_pairs_and_members' signature checkpoint.
        toked = spread(df).select(
            F.col(id_col), tokens(F.col(text_col)).alias("_tok")
        ).localCheckpoint(eager=False)
    w = _window_hashes(toked, id_col, min_len)
    first = (
        w.groupBy("whash")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.min(F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))).alias(
                "_first"
            ),
        )
        .where(F.col("_n") >= 2)
    )
    dup = (
        w.join(first.hint("merge"), "whash")
        .where(
            (F.col(id_col) != F.col("_first.d")) | (F.col("pos") != F.col("_first.p"))
        )
        .select(id_col, "pos")
    )
    # windows at pos p cover tokens [p, p+L-1]; two duplicate windows
    # p1 < p2 produce one contiguous covered interval iff p2 ≤ p1 + L
    ww = Window.partitionBy(id_col).orderBy("pos")
    isl = (
        dup.withColumn("_prev", F.lag("pos").over(ww))
        .withColumn(
            "_new",
            F.when(
                F.col("_prev").isNull() | (F.col("pos") - F.col("_prev") > min_len),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "_isl",
            F.sum("_new").over(ww.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    return (
        isl.groupBy(id_col, "_isl")
        .agg(
            F.min("pos").alias("start"),
            (F.max("pos") + F.lit(min_len) - F.min("pos")).alias("length"),
        )
        .select(id_col, "start", "length")
    )


def remove_repeated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = SPAN_MIN_LEN,
    toked: DataFrame | None = None,
    with_tokens: bool = False,
) -> DataFrame:
    """(id, text, n_tokens, n_removed) — the span-removal transform:
    every token covered by a duplicate span (``repeated_spans``) is
    dropped and the survivors re-joined with single spaces. Keep-first:
    exactly one copy of every repeated substring survives corpus-wide.
    The rebuilt text is the LOWERCASED token stream (removal operates at
    token granularity, same normalization as every dedup operator here).

    The rebuild is one left join of the corpus against the per-doc
    interval lists (collect_list bounded by document length) followed by
    a map-side array filter — no per-token shuffle. The interval frame
    is data-scaled (one row per doc containing a duplicate span), so the
    join carries the same ``merge`` hint as ``repeated_spans``' hash
    join-back — broadcasting it is a mis-estimate away from OOM.
    """
    if toked is None:
        # materialized (r16): three consumers — the window-hash probe,
        # its groupBy, and the rebuild join below (see repeated_spans)
        toked = spread(df).select(
            F.col(id_col), tokens(F.col(text_col)).alias("_tok")
        ).localCheckpoint(eager=False)
    spans = repeated_spans(df, id_col, text_col, min_len, toked=toked)
    ivs = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(
                F.col("start").alias("s"),
                (F.col("start") + F.col("length") - 1).alias("e"),
            )
        ).alias("_ivs")
    )
    joined = toked.join(ivs.hint("merge"), id_col, "left")
    indexed = F.transform(
        F.col("_tok"), lambda t, i: F.struct(t.alias("t"), (i + 1).alias("i"))
    )
    kept = F.when(F.col("_ivs").isNull(), F.col("_tok")).otherwise(
        F.transform(
            F.filter(
                indexed,
                lambda s: ~F.exists(
                    F.col("_ivs"),
                    lambda iv: (iv["s"] <= s["i"]) & (s["i"] <= iv["e"]),
                ),
            ),
            lambda s: s["t"],
        )
    )
    extra = [kept.alias("tokens")] if with_tokens else []
    return joined.select(
        F.col(id_col),
        F.concat_ws(" ", kept).alias(text_col),
        F.size("_tok").alias("n_tokens"),
        (F.size("_tok") - F.size(kept)).alias("n_removed"),
        *extra,
    )


def exact_duplicates(df: DataFrame, id_col: str, key_col: Column) -> DataFrame:
    """Groups of exact duplicates by md5 of ``key_col``: returns
    (content_hash, keep_id, dup_count) for groups with >1 member."""
    return (
        df.select(F.md5(key_col).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("dup_count"))
        .where(F.col("dup_count") > 1)
    )


# ---------------------------------------------------------------- simhash
def simhash(df: DataFrame, id_col: str, text_col: str,
            bits: int = SIMHASH_BITS) -> DataFrame:
    """(id, simhash int) — sign of per-bit vote sums over tokens.

    ``bits=64`` (DEFAULT — the web-scale fingerprint of
    Manku/Jain/Sarma, WWW'07): the token hash is the first 64 bits of
    md5 parsed as two 32-bit words; 64 vote aggregates, sign bit placed
    via two's complement so the result stays a bigint under ANSI
    arithmetic.

    ``bits=16`` (explicit small-corpus/oracle mode, DuckDB-matched):
    per token one md5, then the first 16 hex nibbles are parsed with
    two ``conv`` calls into ints and folded into a 16-bit mask whose
    bit j is the high bit of nibble j (hex digit ∈ 89abcdef). Per-bit
    votes are then integer ``aggregate``s over the mask array — far
    cheaper to codegen and run than per-bit substring compares.
    16 bits SATURATE past ~10⁵ docs — random fingerprints land
    hamming ≤ 3 apart with p = 697/2¹⁶ ≈ 1.1%, so FALSE pairs grow
    ∝ n² (measured: 1.69e9 pairs at 500k docs, SCALE.md sf1 sweep);
    at 64 bits that probability is C(64,≤3)/2⁶⁴ ≈ 2e-15 and the pair
    output stays the true near-dup volume — hence the 64 default.

    Shuffle-free; votes count token *occurrences* (not distinct tokens),
    matching the unnest oracle. Documents with zero tokens are dropped
    (as in the groupBy oracle).
    """
    return _simhash_keyed(df, id_col, text_col, bits).drop("_tkey")


def _simhash_keyed(df: DataFrame, id_col: str, text_col: str,
                   bits: int = SIMHASH_BITS) -> DataFrame:
    """(id, _tkey, simhash) — ``simhash`` plus the exact-content key
    (md5 of the token stream), for the exact-collapse in
    ``simhash_near_pairs``. Identical token streams → identical _tkey and
    identical simhash."""
    if bits == 64:
        return _simhash_keyed64(df, id_col, text_col)
    assert bits == 16, "bits must be 16 (oracle layout) or 64 (scale)"
    from .text import tokens_sql

    # two 8-nibble md5 halves; conv(hex,16,10) of 8 digits fits a long.
    # High bit of nibble j = bit (31 - 4j) of the half-word. Built as one
    # parsed SQL projection — the Column-API construction of the 16-bit
    # mask + 16 vote aggregates cost ~300 ms of py4j round-trips per
    # query build (value-equivalence pinned by the simhash oracle row).
    # (r16: a nested-transform rewrite that materialized the per-token
    # md5 array to "share" it measured 3-4x SLOWER back-to-back — the
    # runtime already subexpression-eliminates the repeated md5/conv
    # inside the lambda, and the extra array allocations are pure loss.
    # Left in the inline form deliberately.)
    k1 = "cast(conv(substring(md5(t), 1, 8), 16, 10) as bigint)"
    k2 = "cast(conv(substring(md5(t), 9, 8), 16, 10) as bigint)"
    mask = " + ".join(
        f"(shiftright({k1}, {31 - 4 * j}) & 1) * {1 << j}"
        f" + (shiftright({k2}, {31 - 4 * j}) & 1) * {1 << (j + 8)}"
        for j in range(8)
    )
    masked = (
        df.selectExpr(id_col, f"{tokens_sql(text_col)} AS _w")
        # guard on the cheap token array, not on _m, so the pushed-down
        # predicate doesn't re-inline the per-token md5 transform
        .where(F.size("_w") > 0)
        .selectExpr(
            id_col,
            "md5(concat_ws(' ', _w)) AS _tkey",
            "size(_w) AS _n",
            f"transform(_w, t -> {mask}) AS _m",
        )
    )
    votes = masked.selectExpr(
        id_col,
        "_tkey",
        # Σ(2*bit-1) = 2*Σbit - n
        *[
            f"2 * aggregate(_m, cast(0 as bigint),"
            f" (acc, m) -> acc + (shiftright(m, {j}) & 1)) - _n AS v{j}"
            for j in range(bits)
        ],
    )
    hsum = " + ".join(f"if(v{j} > 0, {1 << j}, 0)" for j in range(bits))
    return votes.selectExpr(id_col, "_tkey", f"cast({hsum} as bigint) AS simhash")


def _simhash_keyed64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit variant of ``_simhash_keyed`` (Manku/Jain/Sarma WWW'07
    fingerprint width). Token hash = first 16 hex digits of md5 as two
    32-bit ``conv`` words (lo = digits 1-8, hi = digits 9-16); vote j
    reads bit j of the matching word, so all 64 votes are integer
    ``aggregate``s over two mask arrays — still a pure, shuffle-free map
    stage. Bit 63 of the fingerprint is added as -2⁶³ (two's complement)
    so the sum never overflows a bigint under ANSI mode. Pinned against
    a hashlib python twin in test_ops."""
    from .text import tokens_sql

    k1 = "cast(conv(substring(md5(t), 1, 8), 16, 10) as bigint)"
    k2 = "cast(conv(substring(md5(t), 9, 8), 16, 10) as bigint)"
    masked = (
        df.selectExpr(id_col, f"{tokens_sql(text_col)} AS _w")
        .where(F.size("_w") > 0)
        .selectExpr(
            id_col,
            "md5(concat_ws(' ', _w)) AS _tkey",
            "size(_w) AS _n",
            f"transform(_w, t -> {k1}) AS _m1",
            f"transform(_w, t -> {k2}) AS _m2",
        )
    )
    votes = masked.selectExpr(
        id_col,
        "_tkey",
        *[
            f"2 * aggregate(_m{1 + j // 32}, cast(0 as bigint),"
            f" (acc, m) -> acc + (shiftright(m, {j % 32}) & 1)) - _n AS v{j}"
            for j in range(64)
        ],
    )
    hsum = " + ".join(f"if(v{j} > 0, {1 << j}, 0)" for j in range(63))
    hsum = (
        f"({hsum}) + if(v63 > 0,"
        " cast(-9223372036854775808 as bigint), cast(0 as bigint))"
    )
    return votes.selectExpr(id_col, "_tkey", f"cast({hsum} as bigint) AS simhash")


def simhash_near_pairs(df: DataFrame, id_col: str, text_col: str,
                       max_hamming: int = 3,
                       bits: int = SIMHASH_BITS) -> DataFrame:
    """Pairs with hamming(simhash) ≤ max_hamming, found via band
    blocking over ``bits // 4`` -bit bands (equi-join on band value — no
    cross join; pigeonhole over 4 bands guarantees hamming ≤ 3 recall).

    ``bits=64`` is the scale path (16-bit bands, the Manku/Jain/Sarma
    WWW'07 layout): at 16 bits the whole code space has 2¹⁶ values, so
    past ~10⁵ documents UNRELATED fingerprints collide at hamming ≤ 3
    with p ≈ 1.1% and both the candidate volume and the TRUE output
    grow ∝ n² — measured in SCALE.md's x100 sweep. At 64 bits a random
    pair lands in one 16-bit band bucket with p = 2⁻¹⁶ per band, so
    candidates stay ~4n²/2¹⁷ (manageable) and the verified output is
    the planted near-dup volume.

    Skew-hardened the same way as the MinHash path (see
    ``_rep_pairs_and_members``): the band join runs over one
    representative per distinct token stream (identical streams →
    identical simhash → hamming 0 within the cluster, and identical
    hamming to any third document), residual hot buckets are split by
    occupancy-bounded grid salting, and member pairs are expanded
    afterward — byte-identical output to the direct join.
    """
    # materialize the per-token md5 vote map once (lazy localCheckpoint,
    # same rationale as _rep_pairs_and_members): its consumers — the
    # collapse, the membership expansion — otherwise each re-execute the
    # whole 64-aggregate vote stage whenever exchange reuse misses
    sk = _simhash_keyed(spread(df), id_col, text_col, bits).localCheckpoint(
        eager=False
    )
    reps = sk.groupBy("_tkey").agg(
        F.min(id_col).alias(id_col),
        F.count(F.lit(1)).alias("_csz"),
        F.first("simhash").alias("simhash"),
    ).localCheckpoint(eager=False)
    dup_keys = reps.where(F.col("_csz") >= 2).select("_tkey", "_csz")
    per_band = bits // SIMHASH_BANDS
    mask = (1 << per_band) - 1
    bands = reps.select(
        F.col(id_col),
        F.col("_tkey"),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("simhash", b * per_band).bitwiseAND(F.lit(mask)).alias("bv"),
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "_tkey", "simhash", F.col("bb.band").alias("band"), F.col("bb.bv").alias("bv"))
    # merge-join hint: same reasoning as _rep_pairs_and_members — stop
    # AQE's local broadcast from running the per-token md5 signature
    # stage twice; SMJ's identical-side exchanges reuse it once.
    left, right = _salted_self_sides(bands.hint("merge"), ["band", "bv"], id_col)
    l, r = left.alias("l"), right.alias("r")
    # A close pair matches in SEVERAL bands (hamming 0 → all 4), so the
    # raw band join emits duplicates. Instead of a distinct() — a full
    # shuffle of every surviving pair — keep only the FIRST matching
    # band: the xor's lowest zero nibble, a pure bitwise residual
    # evaluated inside the join. Each pair then appears exactly once and
    # the only shuffle left in the whole operator is the band equi-join.
    x = F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
    per = bits // SIMHASH_BANDS
    nib = (1 << per) - 1
    first_zero_nibble = F.when(x.bitwiseAND(F.lit(nib)) == 0, 0)
    for b in range(1, SIMHASH_BANDS):
        first_zero_nibble = first_zero_nibble.when(
            F.shiftright(x, b * per).bitwiseAND(F.lit(nib)) == 0, b
        )
    rep_pairs = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bv") == F.col("r.bv"))
            & (F.col("l._gi") == F.col("r._gi"))
            & (F.col("l._gj") == F.col("r._gj"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
            & (F.col("l.band") == first_zero_nibble),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col("l._tkey").alias("_ka"),
            F.col("r._tkey").alias("_kb"),
            F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )
    return _expand_rep_pairs(
        rep_pairs, sk.select("_tkey", F.col(id_col)), id_col,
        within={"hamming": F.bit_count(F.lit(0))},
        dup_keys=dup_keys,
    )


# -------------------------------------------------- incremental dedup
# Deduplicating a NEW shard against an EXISTING corpus without re-pairing
# the corpus against itself — the shape continuous ingestion needs at
# 100 TB: the corpus' LSH state is persisted ONCE (signatures banded and
# bucketed by band_hash; distinct token sets for verification), and each
# incoming shard computes its own bands in a map stage and probes the
# bucketed table with no corpus-side shuffle.


def _band_key() -> Column:
    return F.concat_ws(":", F.col("band").cast("string"), F.col("band_hash"))


def _collapsed_probe_state(
    df: DataFrame, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(bands, toks, members) keyed by the exact-content key ``_tkey``:
    one band/token row per DISTINCT content, plus the (tkey → id)
    membership map. The same exact-collapse skew hardening as
    ``_rep_pairs_and_members``: a k-copy boilerplate cluster contributes
    ONE probe row per band instead of k, on both the corpus and the
    shard side.

    The signature frame is materialized once (lazy localCheckpoint,
    tokens riding along — same rationale as ``_rep_pairs_and_members``):
    the three returned frames are typically each written to a separate
    table, and without the checkpoint every write re-executed the
    scan+tokenize+signature map."""
    toked = _token_frame(df, id_col, text_col)
    sigk = _sig_keyed(toked, id_col, keep_tokens=True).localCheckpoint(
        eager=False
    )
    reps = sigk.groupBy("_tkey").agg(
        F.min(id_col).alias(id_col),
        *[F.first(f"mh{s}").alias(f"mh{s}") for s in range(MINHASH_SEEDS)],
    )
    bands = lsh_bands(reps, id_col, keep=("_tkey",)).select(
        F.col("_tkey").alias("tkey"), _band_key().alias("bkey")
    )
    toks = (
        reps.select(F.col("_tkey"), F.col(id_col))
        .join(sigk.select(F.col(id_col), "_tok"), id_col)
        .select(F.col("_tkey").alias("tkey"), F.array_distinct("_tok").alias("tok"))
    )
    members = sigk.select(F.col("_tkey").alias("tkey"), F.col(id_col))
    return bands, toks, members


def persist_corpus_lsh(
    spark,
    corpus: DataFrame,
    name: str,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Materialize the corpus' near-dup probe state as three catalog
    tables, all keyed by the exact-content key ``tkey`` (one row per
    DISTINCT content — see ``_collapsed_probe_state``):

    - ``<name>_bands`` (tkey, bkey) bucketed by bkey — probe joins read
      co-located buckets with no corpus-side Exchange (HashPartitioning
      on a subset of the join keys satisfies the join's clustering; the
      single combined band key exists because Spark co-partitions a
      bucketed side only when the bucket spec covers ALL join keys —
      requireAllClusterKeysForCoPartition, default since 3.3);
    - ``<name>_toks`` (tkey, tok) bucketed by tkey for exact-Jaccard
      verification with no corpus-side Exchange either;
    - ``<name>_members`` (tkey, id) bucketed by tkey for expanding rep
      matches back to every duplicate member;
    - ``<name>_ids`` (id) bucketed by id — the stream's replay guard
      (anti-joined per micro-batch on its own bucket key, so the
      corpus side pays no Exchange; guarding against the tkey-bucketed
      members table shuffled it whole every batch).

    One shuffle each at write time; probing pays none."""
    from .util import persist_bucketed

    bands, toks, members = _collapsed_probe_state(corpus, id_col, text_col)
    out = [
        persist_bucketed(spark, df, f"{name}_{suffix}", f"{path}_{suffix}",
                         n_buckets, key)
        for suffix, df, key in (
            ("bands", bands, "bkey"),
            ("toks", toks, "tkey"),
            ("members", members, "tkey"),
            ("ids", corpus.select(F.col(id_col)), id_col),
        )
    ]
    return out[0], out[1], out[2], out[3]


def near_duplicates_against(
    new_df: DataFrame,
    corpus_bands: DataFrame,
    corpus_toks: DataFrame,
    corpus_members: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
) -> DataFrame:
    """(new_id, corpus_id, jaccard) for every NEW document whose token
    Jaccard against some persisted-corpus document reaches ``threshold``.

    The new shard collapses to distinct contents in a map+groupBy stage;
    candidate CONTENT pairs come from the equi-join on bkey against the
    bucketed corpus table; only distinct content pairs pay the
    exact-Jaccard verification, and matches expand to member (new_id,
    corpus_id) pairs through the two membership maps — identical output
    to the uncollapsed join, with boilerplate clusters contributing one
    probe row instead of one per copy. Anti-join the result's ``new_id``
    against the shard to keep only novel documents."""
    nbands, ntoks, nmembers = _collapsed_probe_state(new_df, id_col, text_col)
    cand = (
        nbands.select(F.col("tkey").alias("ntkey"), "bkey")
        .join(corpus_bands.select(F.col("tkey").alias("ctkey"), "bkey"), "bkey")
        .select("ntkey", "ctkey")
        .distinct()
    )
    inter = F.size(F.array_intersect("_ntok", "_ctok"))
    union = F.size(F.array_union("_ntok", "_ctok"))
    rep_pairs = (
        cand.join(
            ntoks.select(F.col("tkey").alias("ntkey"), F.col("tok").alias("_ntok")),
            "ntkey",
        )
        .join(
            corpus_toks.select(
                F.col("tkey").alias("ctkey"), F.col("tok").alias("_ctok")
            ),
            "ctkey",
        )
        .select(
            "ntkey",
            "ctkey",
            F.round(inter.cast("double") / union, 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return (
        rep_pairs.join(
            nmembers.select(F.col("tkey").alias("ntkey"), F.col(id_col).alias("new_id")),
            "ntkey",
        )
        .join(
            corpus_members.select(
                F.col("tkey").alias("ctkey"), F.col(id_col).alias("corpus_id")
            ),
            "ctkey",
        )
        .select("new_id", "corpus_id", "jaccard")
    )


def _hamming_masked_and_bands(
    h_col: Column, bits: int, max_hamming: int
) -> tuple[Column, Column]:
    """(masked hash, band-value array) under the pigeonhole band layout —
    ONE definition of the layout, shared by the self-join
    (``hamming_near_pairs``) and the persisted-index probe
    (``persist_corpus_fingerprints`` / ``hamming_near_pairs_against``)
    so an index written by one can never disagree with the other."""
    if not 0 < bits <= 64:
        raise ValueError(f"bits must be in (0, 64], got {bits}")
    if not 0 <= max_hamming < bits:
        raise ValueError(f"max_hamming must be in [0, bits), got {max_hamming}")
    n_bands = max_hamming + 1
    base_w, extra = divmod(bits, n_bands)
    widths = [base_w + (1 if i < extra else 0) for i in range(n_bands)]
    starts = [sum(widths[:i]) for i in range(n_bands)]
    h = h_col.cast("long")
    if bits < 64:
        # mask to the low bits: the distance contract (and the pigeonhole
        # guarantee) is over the low `bits` bits only — stray high bits
        # must not inflate the hamming residual past max_hamming.
        h = h.bitwiseAND(F.lit((1 << bits) - 1))
    bvs = F.array(
        *[
            F.shiftrightunsigned(h, s).bitwiseAND(F.lit((1 << w) - 1))
            for s, w in zip(starts, widths)
        ]
    )
    return h, bvs


def hamming_near_pairs(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    bits: int = 64,
    max_hamming: int = 4,
) -> DataFrame:
    """All pairs whose integer hashes differ in at most ``max_hamming``
    of the low ``bits`` bits — generic banded Hamming blocking for any
    fixed-width signature (simhashes, external fingerprints).

    Recall is GUARANTEED by pigeonhole: the bits split into
    ``max_hamming + 1`` disjoint bands, so ≤ max_hamming differing bits
    leave at least one band equal, and that pair meets in that band's
    bucket. Each qualifying pair is emitted exactly once via the
    first-matching-band residual (same idiom as ``simhash_near_pairs``,
    no distinct). The band self-join is grid-salted
    (``_salted_self_sides``) so a cluster of identical hashes cannot
    concentrate its O(k²) pair work in one task.

    Returns (id_a, id_b, hamming) with id_a < id_b.
    """
    h, bvs = _hamming_masked_and_bands(F.col(hash_col), bits, max_hamming)
    keyed = df.select(
        F.col(id_col), h.alias("_h"), bvs.alias("_bvs")
    ).select(
        id_col, "_h", "_bvs", F.posexplode("_bvs").alias("band", "_bv")
    )
    left, right = _salted_self_sides(
        keyed.hint("merge"), ["band", "_bv"], id_col
    )
    l, r = left.alias("hl"), right.alias("hr")
    first_eq = F.array_position(
        F.zip_with(F.col("hl._bvs"), F.col("hr._bvs"), lambda a, b: a == b),
        True,
    )
    ham = F.bit_count(F.col("hl._h").bitwiseXOR(F.col("hr._h")))
    return (
        l.join(
            r,
            (F.col("hl.band") == F.col("hr.band"))
            & (F.col("hl._bv") == F.col("hr._bv"))
            & (F.col("hl._gi") == F.col("hr._gi"))
            & (F.col("hl._gj") == F.col("hr._gj"))
            & (F.col(f"hl.{id_col}") < F.col(f"hr.{id_col}")),
        )
        .where(ham <= max_hamming)
        # each qualifying pair matches in possibly several bands; keep
        # only the FIRST equal band so the output needs no distinct
        .where(first_eq == F.col("hl.band") + 1)
        .select(
            F.col(f"hl.{id_col}").alias("id_a"),
            F.col(f"hr.{id_col}").alias("id_b"),
            ham.alias("hamming"),
        )
    )

def persist_corpus_fingerprints(
    spark,
    corpus: DataFrame,
    name: str,
    path: str,
    id_col: str = "doc_id",
    hash_col: str = "simhash",
    bits: int = 64,
    max_hamming: int = 3,
    n_buckets: int = 64,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Materialize a corpus' Hamming-fingerprint probe index as two
    catalog tables — the cross-crawl near-dup state for the
    64-bit-simhash family (the declared 100 TB fingerprint path; MinHash
    has ``persist_corpus_lsh`` and embeddings
    ``ann.persist_corpus_embeddings`` — this closes the family,
    VERDICT r13 #2). Works for ANY ≤64-bit signature column (simhash,
    any external fingerprint); the band layout is
    ``_hamming_masked_and_bands``, shared with ``hamming_near_pairs``,
    so index and probe can never disagree.

    - ``<name>_fps`` (bkey, band, h) bucketed by ``bkey`` — ONE row per
      DISTINCT masked fingerprint per band (the exact-duplicate
      collapse: a boilerplate cluster of 10⁷ identical pages is one
      probe row per band, the same skew fix as
      ``_collapsed_probe_state``). ``bkey`` is the single combined
      ``band:value`` string because Spark co-partitions a bucketed side
      only when the bucket spec covers ALL join keys.
    - ``<name>_fp_members`` (h, id) bucketed by ``h`` — expands verified
      fingerprint matches back to every document carrying that
      fingerprint. LIVE documents only, so h-in-members ⟺ h-in-fps
      holds unconditionally.
    - ``<name>_fp_ids`` (id) bucketed by ``id`` — the streams' replay
      guard: every id ever committed (plus, after maintenance, every
      tombstoned id). Guarding by anti-join against the h-bucketed
      members table shuffled the whole corpus-side table per
      micro-batch; this sidecar is one long per document and its
      bucket key IS the guard's join key.

    One shuffle each at write time; every later crawl's probe AND the
    commit path's two guards pay NO corpus-side Exchange (plan-asserted
    in tests/test_bucketing.py).
    """
    from .util import persist_bucketed

    h, bvs = _hamming_masked_and_bands(F.col(hash_col), bits, max_hamming)
    hashed = corpus.select(F.col(id_col), h.alias("h"))
    members = hashed.select("h", F.col(id_col))
    fps = (
        hashed.select("h").distinct()
        .select(
            "h",
            F.posexplode(
                _hamming_masked_and_bands(F.col("h"), bits, max_hamming)[1]
            ).alias("band", "_bv"),
        )
        .select(
            F.concat_ws(":", F.col("band"), F.col("_bv")).alias("bkey"),
            "band",
            "h",
        )
    )
    fps_t = persist_bucketed(
        spark, fps, f"{name}_fps", f"{path}_fps", n_buckets, "bkey"
    )
    members_t = persist_bucketed(
        spark, members, f"{name}_fp_members", f"{path}_fp_members",
        n_buckets, "h",
    )
    ids_t = persist_bucketed(
        spark, hashed.select(F.col(id_col)), f"{name}_fp_ids",
        f"{path}_fp_ids", n_buckets, id_col,
    )
    return fps_t, members_t, ids_t


def hamming_near_pairs_against(
    new_df: DataFrame,
    corpus_fps: DataFrame,
    corpus_members: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "simhash",
    bits: int = 64,
    max_hamming: int = 3,
) -> DataFrame:
    """(new_id, corpus_id, hamming) for every NEW document whose
    fingerprint lies within ``max_hamming`` of some persisted-corpus
    fingerprint — incremental crawl-over-crawl near-dup WITHOUT
    re-pairing the corpus (the ``*_against`` twin of
    ``hamming_near_pairs``; recall guaranteed by the same pigeonhole
    band split, which requires ``bits``/``max_hamming`` to match the
    values the index was persisted with).

    Plan: the new crawl collapses to DISTINCT fingerprints, explodes to
    its band keys and equi-joins ``corpus_fps`` on ``bkey`` — the
    corpus side reads co-located buckets with NO Exchange; the Hamming
    residual and the first-equal-band uniqueness filter are pure maps
    (both band vectors RECOMPUTE from the two joined hashes, so the
    index stores no arrays); matches expand through the two membership
    maps. Anti-join ``new_id`` against the crawl to keep only novel
    documents.
    """
    h, _ = _hamming_masked_and_bands(F.col(hash_col), bits, max_hamming)
    nhashed = new_df.select(F.col(id_col), h.alias("nh"))
    nmembers = nhashed.select("nh", F.col(id_col).alias("new_id"))
    nprobe = (
        nhashed.select("nh").distinct()
        .select(
            "nh",
            F.posexplode(
                _hamming_masked_and_bands(F.col("nh"), bits, max_hamming)[1]
            ).alias("_nband", "_bv"),
        )
        .select(
            F.concat_ws(":", F.col("_nband"), F.col("_bv")).alias("bkey"),
            "nh",
        )
    )
    cand = nprobe.join(corpus_fps, "bkey")
    ham = F.bit_count(F.col("nh").bitwiseXOR(F.col("h")))
    nbv = _hamming_masked_and_bands(F.col("nh"), bits, max_hamming)[1]
    cbv = _hamming_masked_and_bands(F.col("h"), bits, max_hamming)[1]
    first_eq = F.array_position(
        F.zip_with(nbv, cbv, lambda a, b: a == b), True
    )
    verified = (
        cand.where(ham <= max_hamming)
        # a pair can meet in several bands; keep the FIRST equal band so
        # the output needs no distinct
        .where(first_eq == F.col("band") + 1)
        .select("nh", "h", ham.alias("hamming"))
    )
    return (
        # both expand joins SMJ (merge hints): the match set and the
        # membership maps are data-scaled — the r13 audit rule
        verified.join(nmembers.hint("merge"), "nh")
        .join(corpus_members.hint("merge"), "h")
        .select("new_id", F.col(id_col).alias("corpus_id"), "hamming")
    )
