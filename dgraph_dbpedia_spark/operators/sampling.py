"""Deterministic stratified sampling (extension surface).

Training-data curation needs per-stratum quotas (per language, per
source, per quality bucket) that are reproducible across runs and
engines — `df.sampleBy` is neither (seeded RNG over partition order)
nor exact. This takes the hash-ranking approach used by
`hash_sample` (operators/textclean.py) per stratum: rank rows inside
each stratum by the cross-engine hash of their id and keep the first
``n_per_stratum``. Exactly-n per stratum (fewer if the stratum is
smaller), stable under repartitioning, and replayable in any engine
with md5.

Scale shape: one shuffle on the strata columns; the window is a
rank-truncation so state per stratum is O(1) beyond the sort. For
very hot strata, note the sort is within-stratum — salt only helps if
a single stratum exceeds a task's spill budget.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dgraph_dbpedia_spark.functions.hashing import hash64, tokens
from dgraph_dbpedia_spark.operators.cachectl import CacheScope, persisted_frames


def stratified_sample(
    df: DataFrame,
    strata_cols: Sequence[str],
    n_per_stratum: int,
    id_col: str,
) -> DataFrame:
    """Keep the ``n_per_stratum`` rows with the smallest
    ``hash(id_col)`` inside each stratum (ties broken by id). Columns
    pass through unchanged."""
    # pick a rank column name that cannot clobber caller data (ADVICE
    # r5: a fixed "__rn" silently dropped an input column of that name)
    rn = "__rn"
    while rn in df.columns:
        rn = "_" + rn
    h = hash64(F.col(id_col).cast("string"))
    w = Window.partitionBy(*strata_cols).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn(rn, F.row_number().over(w))
        .where(F.col(rn) <= n_per_stratum)
        .drop(rn)
    )


def pack_offsets(df, max_tokens: int = 2048, n_shards: int = 4):
    """Sequence-packing offsets for LLM pretraining: documents are
    hash-assigned to shards, concatenated in deterministic (doc id)
    order within each shard, and the token stream is cut into
    fixed-length packs of ``max_tokens`` (GPT-style concat-and-chunk —
    documents may straddle pack boundaries; the pack ids a doc touches
    are ``first_pack..last_pack``).

    Returns ``(doc_id, shard, n_tokens, start_tok, end_tok, first_pack,
    last_pack)`` where ``start_tok`` is the doc's offset in its shard's
    concatenated token stream and ``end_tok`` is exclusive.

    100 TB shape: ONE shuffle (the per-shard ordered window for the
    running sum); shard count is the parallelism dial — packing is
    embarrassingly parallel across shards, and determinism comes from
    the (shard, doc_id) sort, not from input order. The md5-derived
    shard hash is cross-engine checkable.

    Fixed columns: id ``doc_id``, text ``text``."""
    # same loud guard range_count_join applies to radius: a zero/negative
    # divisor would otherwise yield silent NULL pack/shard ids via
    # `div 0` / `pmod(h, 0)`
    if max_tokens < 1:
        raise ValueError(f"max_tokens must be >= 1, got {max_tokens}")
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")

    toks = F.size(tokens(F.col("text"))).alias("n_tokens")
    base = df.select(
        F.col("doc_id").alias("doc_id"),
        F.pmod(hash64(F.col("doc_id").cast("string")), F.lit(n_shards))
        .cast("int")
        .alias("shard"),
        toks,
    )
    w = Window.partitionBy("shard").orderBy("doc_id")
    end = F.sum("n_tokens").over(w)
    offsets = base.select(
        "doc_id",
        "shard",
        "n_tokens",
        (end - F.col("n_tokens")).alias("start_tok"),
        end.alias("end_tok"),
    )
    # integer `div`, not floor(double /): double division loses
    # exactness past 2^53 tokens per shard (same rule temporal.py
    # applies to epoch nanos); offsets are non-negative so div == floor
    return offsets.select(
        "doc_id",
        "shard",
        "n_tokens",
        "start_tok",
        "end_tok",
        F.expr(f"start_tok div {max_tokens}").alias("first_pack"),
        # exclusive end: a doc ending exactly on a boundary stays in the
        # previous pack; empty docs occupy no pack but keep first_pack
        F.expr(
            f"greatest(end_tok - 1, start_tok) div {max_tokens}"
        ).alias("last_pack"),
    )


def pack_efficiency_report(
    df: DataFrame,
    max_tokens: int = 2048,
    n_shards: int = 4,
) -> DataFrame:
    """Packing-efficiency audit over :func:`pack_offsets` (r15): the
    per-shard numbers a pretraining-data team reads before committing
    a pack size — how full the packs are and how often documents
    straddle pack boundaries (straddling costs cross-document
    attention masking or mid-document truncation downstream). One row
    per non-empty shard::

        (shard, n_docs, n_tokens, n_packs, fill_rate, waste_tokens,
         n_straddlers)

    ``n_packs = ceil(stream_len / max_tokens)`` (exact integer
    arithmetic), ``fill_rate = round(n_tokens / (n_packs *
    max_tokens), 6)`` (NULL for an all-empty shard), ``waste_tokens``
    is the final pack's padding tail (concat-and-chunk has no
    internal waste BY CONSTRUCTION — the waste is all in the tail,
    which is why fill rates here run high and the interesting number
    is ``n_straddlers``), and ``n_straddlers`` counts docs with
    ``first_pack != last_pack``.

    Shares :func:`pack_offsets`' shard/offset/pack definitions
    wholesale (one definition — this report can never disagree with
    the offsets it audits). 100 TB shape: pack_offsets' single
    per-shard window shuffle, then a partial-aggregable groupBy whose
    output is bounded by ``n_shards``.

    Fixed columns: id ``doc_id``, text ``text``."""
    off = pack_offsets(
        df,
        max_tokens=max_tokens,
        n_shards=n_shards,
    )
    per = off.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.max("end_tok").cast("long").alias("__stream"),
        F.coalesce(
            F.sum((F.col("first_pack") != F.col("last_pack")).cast("long")),
            F.lit(0),
        )
        .cast("long")
        .alias("n_straddlers"),
    )
    n_packs = F.expr(f"(__stream + {max_tokens} - 1) div {max_tokens}")
    return per.select(
        F.col("shard").cast("long").alias("shard"),
        "n_docs",
        "n_tokens",
        n_packs.cast("long").alias("n_packs"),
        F.round(
            F.try_divide(
                F.col("n_tokens"), n_packs * F.lit(max_tokens)
            ),
            6,
        ).alias("fill_rate"),
        (n_packs * F.lit(max_tokens) - F.col("n_tokens"))
        .cast("long")
        .alias("waste_tokens"),
        "n_straddlers",
    )


def source_mixture_report(df: DataFrame, alpha: float = 0.5) -> DataFrame:
    """Corpus mixture report (r15): per group — document count, exact
    token count, token share, and the alpha-smoothed temperature
    weight ``n_tokens^alpha / sum_g n_tokens^alpha`` (the sampling
    distribution mC4/XLM-R-style temperature mixing would draw from;
    totals cancel, so smoothing the raw counts equals smoothing the
    shares). The planning-side complement of
    :func:`temperature_sample`: that operator REALIZES a rebalance by
    dropping rows; this one reports the target mixture so a human (or
    a mixture optimizer) can read the weights before any data moves.
    Returns ``(group, n_docs, n_tokens, token_share, weight_alpha)``,
    shares and weights round-6.

    Cross-engine determinism: ``alpha=0.5`` (the default and the
    registered form) computes ``sqrt`` of exact BIGINT token counts —
    IEEE-exactly-rounded on every engine, unlike ``pow`` whose libm
    may differ in the last ulp — and the weight denominator folds the
    per-group terms SEQUENTIALLY in group order (sorted fold, the
    package recipe), never a shuffle-order float sum. Other alphas
    use ``pow`` and carry the documented last-ulp caveat.

    100 TB shape: one partial-aggregable groupBy bounded by the group
    count, then bounded single-row crossJoins (the X6 pattern) — the
    corpus is never reshuffled and the group dimension is never
    collected to the driver.

    Fixed columns: group ``source``, text ``text``."""
    from dgraph_dbpedia_spark.functions.hashing import tokens

    if float(alpha) <= 0.0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    per = df.groupBy(F.col("source").alias("__g")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(F.sum(F.size(tokens(F.col("text")))), F.lit(0))
        .cast("long")
        .alias("n_tokens"),
    )
    if float(alpha) == 0.5:
        term = F.sqrt(F.col("n_tokens").cast("double"))
    else:
        term = F.pow(F.col("n_tokens").cast("double"), F.lit(float(alpha)))
    w = per.withColumn("__w", term)
    scalars = w.agg(
        F.sum("n_tokens").alias("__total"),
        # sequential sorted fold: group values are unique, so sorting
        # the (group, term) structs fixes ONE summation order both
        # engines can replay (float + is non-associative)
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("__g", "__w"))),
            F.lit(0.0),
            lambda acc, x: acc + x["__w"],
        ).alias("__den"),
    )
    return (
        w.crossJoin(F.broadcast(scalars))
        .select(
            F.col("__g").alias("source"),
            "n_docs",
            "n_tokens",
            F.round(
                F.try_divide(F.col("n_tokens"), F.col("__total")), 6
            ).alias("token_share"),
            F.round(F.try_divide(F.col("__w"), F.col("__den")), 6).alias(
                "weight_alpha"
            ),
        )
    )


def _unit_coin(seed: int) -> F.Column:
    """The cross-engine [0, 1) coin every sampler shares — the 60-bit
    md5 ``doc_id`` hash mapped through mod 1e6. ONE definition: weighted_sample
    (and mixture_sample through it) and split_corpus must never
    desynchronize from each other or from the host-side / DuckDB
    replays that document exactly this formula."""
    return (
        F.pmod(
            hash64(F.col("doc_id").cast("string"), seed=seed), F.lit(1_000_000)
        )
        / 1_000_000.0
    )


def weighted_sample(df: DataFrame, weight_col: str, seed: int = 1) -> DataFrame:
    """Deterministic weighted Bernoulli sampling: keep each row with
    probability equal to its ``weight_col`` value (clamped to [0, 1]) —
    the quality-weighted downsampling step of corpus curation ("keep
    high-quality docs, thin out the rest"), with NO RNG: the coin flip
    is the cross-engine id hash mapped to [0, 1), so the same rows
    survive on any engine, any partitioning, any run. Change ``seed``
    for an independent draw.

    Pure narrow filter — no shuffle, fully codegen, trivially
    column-pruned; at 100 TB this is scan-speed.

    Fixed columns: id ``doc_id``."""
    w = F.least(F.greatest(F.col(weight_col).cast("double"), F.lit(0.0)), F.lit(1.0))
    return df.where(_unit_coin(seed) < w)


def mixture_sample(
    df: DataFrame,
    weights: dict[str, float],
    default_weight: float = 0.0,
) -> DataFrame:
    """Deterministic corpus mixing: downsample every domain to its
    target keep-probability — the data-mixture step of pretraining
    curation ("wiki at full rate, web at a quarter"), domain weights
    applied as RNG-free Bernoulli keeps (DoReMi-style reweighting,
    realized by subsampling rather than repetition).

    The bounded ``domain -> weight`` map becomes a literal map lookup
    (no join, no shuffle); the coin is :func:`weighted_sample`'s
    cross-engine id hash, so the SAME rows survive on any engine,
    any partitioning, any run (seed 1). Domains absent from
    ``weights`` keep ``default_weight`` (0.0 = drop unknown domains).
    Pure narrow filter: scan-speed at 100 TB, and the domain/weight
    filter is codegen'd into the scan stage.

    Fixed columns: domain ``source``, id ``doc_id``."""
    if not weights:
        raise ValueError("weights must be a non-empty domain -> weight map")
    for d, w in weights.items():
        if not 0.0 <= float(w) <= 1.0:
            raise ValueError(f"weight for {d!r} must be in [0, 1], got {w}")
    if not 0.0 <= float(default_weight) <= 1.0:
        raise ValueError(
            f"default_weight must be in [0, 1], got {default_weight}"
        )
    # pick a weight column name that cannot clobber caller data (the
    # stratified_sample "__rn" rule)
    wc = "__w"
    while wc in df.columns:
        wc = "_" + wc
    m = F.create_map(
        *[F.lit(x) for kv in sorted(weights.items()) for x in kv]
    )
    # try_element_at: a domain missing from the map is the DOCUMENTED
    # default case, not an error — plain element_at raises under
    # Spark 4's default ANSI mode
    keep_p = F.coalesce(
        F.try_element_at(m, F.col("source").cast("string")),
        F.lit(float(default_weight)),
    )
    return weighted_sample(
        df.withColumn(wc, keep_p), wc, seed=1
    ).drop(wc)


def temperature_sample(
    df: DataFrame,
    alpha: float = 0.3,
) -> DataFrame:
    """Temperature-based group rebalancing — the multilingual
    alpha-sampling of mC4 / XLM-R (Conneau et al., ACL 2020 §3.1;
    Xue et al., NAACL 2021): resample so the post-sample group mass
    follows ``p^alpha`` instead of ``p``, flattening the head without
    inverting the distribution. Realized as deterministic per-group
    Bernoulli keeps: a group ``m`` times larger than the RAREST group
    keeps ``round(m^(alpha-1), 6)`` of its rows (the rarest group
    keeps everything — pure downsampling, no repetition), each row's
    coin being the shared RNG-free :func:`_unit_coin` (seed 2), so the
    same rows survive on any engine / partitioning / run. ``alpha=1`` is
    a no-op; ``alpha -> 0`` approaches uniform group mass. NULL group
    values form their own group (null-safe join), matching the
    count aggregation.

    100 TB shape: one partially-aggregable groupBy whose output is
    bounded by the number of groups, a broadcast rate join, then a
    pure narrow filter codegen'd into the scan — the corpus is never
    shuffled.

    Fixed columns: group ``lang``, id ``doc_id``."""
    if not 0.0 < float(alpha) <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    g, r = "__g", "__rate"
    while g in df.columns:
        g = "_" + g
    while r in df.columns:
        r = "_" + r
    counts = df.groupBy(F.col("lang").alias(g)).agg(
        F.count(F.lit(1)).alias("__n")
    )
    n_min = counts.agg(F.min("__n").alias("__nmin"))
    # round(…, 6): the coin has 1e-6 granularity, so agreeing on the
    # 6th decimal makes the keep decision immune to last-ulp pow()
    # differences between engines
    rates = counts.crossJoin(F.broadcast(n_min)).select(
        F.col(g),
        F.round(
            F.pow(F.col("__n") / F.col("__nmin"), F.lit(float(alpha) - 1.0)),
            6,
        ).alias(r),
    )
    return (
        df.join(F.broadcast(rates), df["lang"].eqNullSafe(rates[g]))
        .where(_unit_coin(2) < F.col(r))
        .drop(g, r)
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 128,
    overlap: int = 16,
) -> DataFrame:
    """Sliding-window document chunking — the RAG-indexing /
    context-window twin of :func:`pack_offsets` (which packs ACROSS
    docs; this splits WITHIN them, never mixing documents). Each doc's
    whitespace token stream becomes windows of ``chunk_tokens`` every
    ``chunk_tokens - overlap`` positions; the final window may be
    short, but every window past the first contributes at least one
    token its predecessor did not (a trailing window that is a pure
    suffix of the previous one is NOT emitted — windows start only
    while ``start + overlap < n_tokens``). Returns ``(doc_id,
    chunk_idx, n_tokens, chunk_text)``; empty documents produce no
    chunks.

    Pure per-row plan: sequence() over window starts + posexplode +
    slice + array_join — no UDF, no shuffle; at 100 TB this is
    scan-speed with output amplification ~1/(1 - overlap/chunk_tokens).

    Fixed columns: id ``doc_id``, text ``text``."""
    if chunk_tokens < 1:
        raise ValueError(f"chunk_tokens must be >= 1, got {chunk_tokens}")
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"overlap must be in [0, chunk_tokens), got {overlap}"
        )
    stride = chunk_tokens - overlap
    toked = df.select(
        F.col("doc_id"), tokens(F.col("text")).alias("__toks")
    )
    n = F.size("__toks")
    # sequence() raises on (0, -1) bounds, so the empty-doc case gets
    # an explicit empty array (posexplode then emits no rows for it);
    # the stop bound n - overlap - 1 enforces start + overlap < n (no
    # pure-suffix trailing window), clamped to 0 so short docs still
    # get their single window
    starts = F.when(
        n > 0,
        F.sequence(
            F.lit(0),
            F.greatest(n - F.lit(overlap + 1), F.lit(0)),
            F.lit(stride),
        ),
    ).otherwise(F.array().cast("array<int>"))
    chunk = F.slice(F.col("__toks"), F.col("__start") + 1, chunk_tokens)
    return (
        toked.select(
            F.col("doc_id"),
            F.col("__toks"),
            F.posexplode(starts).alias("chunk_idx", "__start"),
        )
        .select(
            F.col("doc_id"),
            F.col("chunk_idx"),
            F.size(chunk).alias("n_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
    )


def split_corpus(
    df: DataFrame,
    fractions: dict[str, float],
) -> DataFrame:
    """Deterministic disjoint corpus split (train/val/test): every row
    lands in exactly one named split, decided by the cross-engine
    id-hash coin against cumulative fraction thresholds in the dict's
    insertion order — so the SAME doc is in the SAME split on any
    engine, any partitioning, any run, and splits never leak into each
    other across re-runs (the property eval hygiene depends on). The
    coin is seeded 1. Fractions must each be in
    [0, 1] and sum to <= 1 (+1e-9 tolerance); when they sum to less,
    the remainder of rows gets a NULL split (an explicit holdout the
    caller can drop or name).

    Pure narrow projection — no shuffle, codegen'd into the scan.

    Fixed columns: id ``doc_id``, split ``split``."""
    if not fractions:
        raise ValueError("fractions must be a non-empty split -> fraction map")
    total = 0.0
    for name, frac in fractions.items():
        if not 0.0 <= float(frac) <= 1.0:
            raise ValueError(
                f"fraction for {name!r} must be in [0, 1], got {frac}"
            )
        total += float(frac)
    if total > 1.0 + 1e-9:
        raise ValueError(f"fractions sum to {total}, must be <= 1")
    # the coin lands in a collision-guarded temp column so the hash is
    # evaluated ONCE per row, not once per WHEN predicate (nested CASE
    # branches defeat subexpression elimination — the CollapseProject
    # duplicate-eval class)
    u_col = "__u"
    while u_col in df.columns:
        u_col = "_" + u_col
    expr = None
    cum = 0.0
    for name, frac in fractions.items():
        cum += float(frac)
        cond = F.col(u_col) < F.lit(cum)
        expr = (
            F.when(cond, F.lit(name))
            if expr is None
            else expr.when(cond, F.lit(name))
        )
    # no .otherwise(): rows past the last threshold keep the NULL
    # holdout the docstring promises
    return (
        df.withColumn(u_col, _unit_coin(1))
        .withColumn("split", expr)
        .drop(u_col)
    )


def _dsir_feats(df: DataFrame, buckets: int):
    """Hashed-bigram feature ids per document occurrence: ``(doc_id, b)``
    with one row per bigram OCCURRENCE (DSIR is a bag-of-features
    model — multiplicity counts). Bigram hash = the cross-engine md5
    hash of ``tok_i + ' ' + tok_{i+1}`` mod ``buckets``. Documents
    with fewer than two tokens emit no rows (guarded — an unguarded
    ``sequence(1, size-1)`` DESCENDS when size < 2 and would fabricate
    features).

    Fixed columns: id ``doc_id``, text ``text``."""
    toks = tokens(F.col("text"))
    t = F.col("__toks")
    grams = F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.pmod(
                hash64(
                    F.concat(
                        F.element_at(t, i), F.lit(" "), F.element_at(t, i + 1)
                    )
                ),
                F.lit(buckets),
            ),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    # inline(array(struct)) barrier: exploding the non-foldable grams
    # expression directly lets InferFiltersFromGenerate duplicate the
    # whole per-bigram md5 fold into a pushed size()>0 filter — the
    # measured 15x trap (functions/hashing._hashed_shingled's note)
    return (
        df.select(F.col("doc_id"), toks.alias("__toks"))
        .select(
            F.col("doc_id"),
            F.inline(F.array(F.struct(grams.alias("__grams")))),
        )
        .select(F.col("doc_id"), F.explode("__grams").alias("b"))
    )


def dsir_logratio(
    raw: DataFrame,
    target: DataFrame,
    buckets: int = 10_000,
) -> DataFrame:
    """DSIR-style importance scores (Xie et al., "Data Selection for
    Language Models via Importance Resampling", NeurIPS 2023,
    arXiv:2302.03169): fit hashed-bigram unigram-of-features models on
    a small high-quality ``target`` corpus and on the ``raw`` corpus,
    then score every raw document by its log importance ratio

        log w(x) = sum_f [ ln p_target(f) - ln p_raw(f) ]

    over the document's bigram-feature OCCURRENCES (add-one
    estimates over ``buckets`` hashed features). High scores = looks
    like the target distribution. Returns ``(id, n_feats,
    log_ratio)`` for every raw document — sub-2-token docs carry NULL
    log_ratio (unscorable, the unigram_logprob convention). Feed
    :func:`dsir_sample` for the paper's resampling step. The result
    carries the two bounded model caches — release via
    :func:`dgraph_dbpedia_spark.operators.cachectl.release` after
    materializing. Raises loudly on a target corpus with zero
    features (the silent alternative is every score NULL).

    100 TB shape: both feature models are bounded by ``buckets`` (two
    partially-aggregable groupBys whose output is ~10k rows), merged
    into ONE broadcast frame carrying the per-bucket log ratio; raw
    docs join it bucket-wise (broadcast hash join, no corpus shuffle on
    the model side) and fold per-doc. Per-doc summation folds the
    SORTED per-feature ratios sequentially (unigram_logprob's
    determinism rule: float addition is non-associative, so the rounded
    4th decimal must not depend on row order).

    Fixed columns: id ``doc_id``, text ``text``."""
    if buckets < 2:
        raise ValueError(f"buckets must be >= 2, got {buckets}")
    tf = _dsir_feats(target, buckets)
    rf = _dsir_feats(raw, buckets)
    with CacheScope() as scope:
        # persisted: each model feeds its totals aggregate AND the merged
        # frame (no cross-branch subplan sharing — unpersisted, the
        # corpus-wide tokenize+hash+explode+groupBy would re-run per
        # branch, two redundant full passes at scale). Both are bounded by
        # ``buckets`` rows and ride the result's release handle.
        tm = scope.persist(tf.groupBy("b").agg(F.count(F.lit(1)).alias("ct")))
        rm = scope.persist(rf.groupBy("b").agg(F.count(F.lit(1)).alias("cr")))
        # eager degeneracy check on the (persisted, so not recomputed)
        # target model: an empty target — no docs, or none with >= 2
        # tokens — would make the totals NULL and every score silently
        # NULL, so dsir_sample would return an empty sample
        # indistinguishable from "nothing qualified". Raise loudly instead
        # (the dedup_clusters_star non-convergence convention).
        if tm.count() == 0:
            raise ValueError(
                "dsir_logratio: the target corpus produced zero bigram "
                "features (empty, or every doc has < 2 tokens) — no "
                "importance model can be fit"
            )
        # one bounded model frame: full outer on the bucket id (a feature
        # may occur in only one corpus), totals via a broadcast 1-row
        # crossJoin (X6), per-bucket log ratio precomputed once
        scal = (
            tm.agg(F.sum("ct").alias("__tt"))
            .crossJoin(rm.agg(F.sum("cr").alias("__tr")))
        )
        s = 1.0
        merged = (
            tm.join(rm, "b", "full_outer")
            .select(
                "b",
                F.coalesce("ct", F.lit(0)).alias("ct"),
                F.coalesce("cr", F.lit(0)).alias("cr"),
            )
            .crossJoin(F.broadcast(scal))
            .select(
                "b",
                (
                    F.log((F.col("ct") + s) / (F.col("__tt") + s * buckets))
                    - F.log((F.col("cr") + s) / (F.col("__tr") + s * buckets))
                ).alias("lr"),
            )
        )
        scored = (
            rf.join(F.broadcast(merged), "b")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_feats"),
                F.sort_array(F.collect_list("lr")).alias("__lrs"),
            )
            .select(
                F.col("doc_id"),
                F.col("n_feats"),
                F.round(
                    F.aggregate("__lrs", F.lit(0.0), lambda a, x: a + x), 4
                ).alias("log_ratio"),
            )
        )
        out = (
            raw.select(F.col("doc_id"))
            .join(scored, "doc_id", "left")
            .select(
                F.col("doc_id"),
                F.coalesce("n_feats", F.lit(0)).alias("n_feats"),
                F.col("log_ratio"),
            )
        )
        return scope.hand(out, tm, rm)


def dsir_sample(
    raw: DataFrame,
    target: DataFrame,
    n: int,
    buckets: int = 10_000,
) -> DataFrame:
    """DSIR's resampling step, RNG-free: sample ``n`` raw documents
    WITHOUT replacement with probability proportional to
    ``exp(log_ratio)`` via the Gumbel-top-n trick — perturb each score
    with an independent Gumbel draw ``g = -ln(-ln(u))`` and keep the n
    largest ``log_ratio + g``. The uniform ``u`` is the cross-engine
    id hash mapped to the OPEN interval ((h mod 1e6) + 0.5) / 1e6 —
    never exactly 0 or 1, so the double log never produces infinities —
    making the draw deterministic across engines/partitionings (the
    :func:`_unit_coin` philosophy; different formula documented here
    because the half-open coin would hit ln(0)). Keys round to 6
    decimals before ranking (ties broken by id) so libm ulp
    differences between engines cannot flip the cut. Unscorable docs
    (< 2 tokens, NULL log_ratio) are never sampled.

    Scale shape: scoring as :func:`dsir_logratio` (bounded broadcast
    model), then ONE TakeOrdered bounded by ``n`` — no global sort
    materialization.

    Fixed columns: id ``doc_id``, text ``text``."""
    if n <= 0:
        raise ValueError(f"n must be positive, got {n}")
    with CacheScope() as scope:
        # keep a reference to the TAGGED frame: the release handles live as
        # a Python attribute on that exact object, and .where() returns a
        # new object without them
        scored = dsir_logratio(raw, target, buckets)
        scores = scored.where(F.col("log_ratio").isNotNull())
        u = (
            F.pmod(hash64(F.col("doc_id").cast("string"), seed=3), F.lit(1_000_000))
            + F.lit(0.5)
        ) / 1_000_000.0
        gumbel = -F.log(-F.log(u))
        keyed = scores.select(
            F.col("doc_id"),
            F.round(F.col("log_ratio") + gumbel, 6).alias("__key"),
        )
        picked = keyed.orderBy(F.col("__key").desc(), F.col("doc_id")).limit(n)
        out = raw.join(picked.select("doc_id"), "doc_id", "left_semi")
        # the scoring frame's model caches ride through to the caller
        return scope.hand(out, *persisted_frames(scored))


def epoch_shuffle(
    df: DataFrame,
    epoch: int,
    n_shards: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic epoch shuffling for training-data delivery: every
    epoch induces a DIFFERENT but fully reproducible permutation of the
    corpus, with no RNG state to checkpoint — the permutation key is the
    cross-engine id hash seeded by the epoch number (the
    :func:`_unit_coin` family's trick applied to ordering). Rows get
    ``(shard, pos)``: shard via hash mod ``n_shards``, position by
    hash order within the shard (ties by id). Re-running epoch 3
    anywhere reproduces epoch 3's order exactly; epoch 4 is an
    independent permutation.

    100 TB shape: ONE shuffle (the per-shard ordered window);
    ``n_shards`` is the parallelism dial exactly as in
    :func:`pack_offsets` — the global order is (shard, pos), so no
    single-partition global sort ever happens."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    # loud, not silent: withColumn would overwrite caller data (the
    # in-file ADVICE r5 rule — a fixed temp name once silently dropped
    # an input column)
    clash = {"shard", "pos"} & set(df.columns)
    if clash:
        raise ValueError(
            f"epoch_shuffle writes columns {sorted(clash)} that already "
            "exist on the input — rename them first"
        )
    hcol = "__h"
    while hcol in df.columns:
        hcol = "_" + hcol
    h = hash64(F.col(id_col).cast("string"), seed=epoch)
    w = Window.partitionBy("shard").orderBy(
        F.col(hcol).asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn(hcol, h)
        .withColumn("shard", F.pmod(F.col(hcol), F.lit(n_shards)).cast("int"))
        .withColumn("pos", F.row_number().over(w))
        .drop(hcol)
    )


def cluster_balanced_sample(
    df: DataFrame,
    n_per_cluster: int,
    centroids: DataFrame | None = None,
    n_clusters: int = 8,
    seed: int = 1,
) -> DataFrame:
    """Diversity-balanced subsampling over an embedding column: assign
    every row to its nearest centroid (cosine — the package's IVF
    assignment) and keep ``n_per_cluster`` rows per cluster by the
    RNG-free id-hash coin. This is :func:`stratified_sample` with
    SEMANTIC strata — the cluster-then-sample recipe for capping
    over-represented regions of embedding space (boilerplate, template
    pages) that no metadata column captures.

    ``centroids``: a bounded ``(cid, c)`` frame (e.g. from
    :func:`..similarity.ivf_train`); defaults to the deterministic
    seed centroids (:func:`..similarity.ivf_seed_centroids` on the
    ``n_clusters`` lowest ids — the replayable-everywhere baseline).
    Returns ``(id, cid)`` — sampled ids with their cluster, smallest
    ``hash(id, seed)`` first within each cluster, ties by id.

    100 TB shape: assignment is a shuffle-free projection (bounded
    centroids in an Arrow matmul kernel); the only shuffle is the
    per-cluster rank window on ``cid`` — and the coin is a pure
    function of the id, so the sample is stable under repartitioning,
    engine and run (the :func:`weighted_sample` determinism
    contract).

    Fixed columns: id ``vec_id``, vector ``embedding``."""
    from dgraph_dbpedia_spark.operators.similarity import (
        ivf_assign,
        ivf_seed_centroids,
    )

    if n_per_cluster < 1:
        raise ValueError(
            f"n_per_cluster must be >= 1, got {n_per_cluster}"
        )
    e = df.select(
        F.col("vec_id"), F.col("embedding").cast("array<double>").alias("_e")
    )
    if centroids is None:
        if n_clusters < 1:
            raise ValueError(f"n_clusters must be >= 1, got {n_clusters}")
        centroids = ivf_seed_centroids(e, n_clusters, "vec_id", "_e")
    asg = ivf_assign(e, centroids, "vec_id", "_e")
    h = hash64(F.col("vec_id").cast("string"), seed=seed)
    w = Window.partitionBy("cid").orderBy(h.asc(), F.col("vec_id").asc())
    return (
        asg.select(F.col("vec_id"), F.col("cid"))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= n_per_cluster)
        .drop("__rn")
    )


def token_budget_sample(df: DataFrame, budget_tokens: int, seed: int = 1) -> DataFrame:
    """Token-budgeted per-domain sampling — the unit curation actually
    budgets in: keep documents from each ``source`` domain, in the
    RNG-free id-hash coin order, until the domain's CUMULATIVE token
    count reaches ``budget_tokens`` ("~1B wiki tokens, ~5B web
    tokens" — :func:`mixture_sample` can only express doc-count
    rates, which drift when domains have different document-length
    distributions). A document is kept iff it STARTS inside the
    budget (its predecessors in coin order total < ``budget_tokens``),
    so the take may overshoot by at most one document — deterministic
    and engine-replayable, unlike a truncate-exactly-at-the-boundary
    rule, which would need intra-document token slicing. Columns pass
    through unchanged plus ``n_tokens``.

    100 TB shape: ONE shuffle (the per-domain ordered window for the
    running sum — the :func:`pack_offsets` shape); token counts are a
    narrow projection; the coin is a pure function of the id, so the
    sample is stable under repartitioning, engine and run. A domain
    with hot-key volume beyond a task's sort spill budget wants the
    same salting note as :func:`stratified_sample`.

    Fixed columns: group ``source``, id ``doc_id``, text ``text``."""
    if budget_tokens < 1:
        raise ValueError(
            f"budget_tokens must be >= 1, got {budget_tokens}"
        )
    ntok = "n_tokens"
    if ntok in df.columns:
        raise ValueError(
            "token_budget_sample writes column 'n_tokens' which already "
            "exists on the input — rename it first"
        )
    h = hash64(F.col("doc_id").cast("string"), seed=seed)
    w = (
        Window.partitionBy("source")
        .orderBy(h.asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # coalesce-before-size: NULL text must count 0 tokens on EVERY
    # engine/ANSI mode — bare size(NULL) is NULL under ANSI (row
    # silently dropped by the budget filter) and -1 with ANSI off
    # (corrupts the running sum)
    counted = df.withColumn(
        ntok,
        F.size(
            F.coalesce(
                tokens(F.col("text")),
                F.array().cast("array<string>"),
            )
        ).cast("long"),
    )
    return (
        counted.withColumn("__cum", F.sum(ntok).over(w))
        # starts inside the budget: predecessors' total = cum - own
        .where(F.col("__cum") - F.col(ntok) < F.lit(budget_tokens))
        .drop("__cum")
    )


def classifier_training_set(
    df: DataFrame,
    ref: DataFrame,
    n_per_class: int,
) -> DataFrame:
    """Quality-classifier data prep (the CCNet / fastText recipe,
    Wenzek et al. LREC 2020): label 1 = documents sampled from a
    TRUSTED reference corpus (wiki/books — whatever ``ref`` is),
    label 0 = documents sampled from the general corpus ``df``
    EXCLUDING any id present in ``ref`` (a doc cannot be its own
    negative). Each class keeps the ``n_per_class`` lowest rows in
    the RNG-free id-hash coin order (:func:`hash_sample`'s ranking —
    exact-n, engine-replayable, stable under repartitioning; fewer if
    the class universe is smaller). Returns ``(id, label)`` — join
    back to the text/features by id; the frame deliberately carries
    no text so the heavy column never rides the sample shuffle.

    100 TB shape: the exclusion is one id-keyed left-anti join (hash
    join; broadcast when ``ref`` is small); each class cut is an
    orderBy-limit = TakeOrdered (per-partition partial top-n, then a
    single bounded merge — never a full sort); the union is
    metadata-only.

    Fixed columns: id ``doc_id``."""
    if n_per_class < 1:
        raise ValueError(
            f"n_per_class must be >= 1, got {n_per_class}"
        )
    coin = hash64(F.col("doc_id").cast("string"), seed=5)

    def cut(frame: DataFrame, label: int) -> DataFrame:
        return (
            frame.select(F.col("doc_id"), coin.alias("__c"))
            .orderBy(F.col("__c").asc(), F.col("doc_id").asc())
            .limit(n_per_class)
            .select(F.col("doc_id"), F.lit(label).alias("label"))
        )

    neg_universe = df.join(
        ref.select("doc_id"), "doc_id", "left_anti"
    )
    return cut(ref, 1).unionByName(cut(neg_universe, 0))
