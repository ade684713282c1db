"""Document deduplication operators — exact and near-duplicate.

Extension surface beyond the reference (SURVEY §7.8): the operators a
100 TB training-data pipeline needs. All are native DataFrame plans:

- exact:      md5 fingerprint -> groupBy -> min-id representative
- n-gram Jaccard: shingle explode + equi-join (sparse — cost is
  proportional to shared shingles, never O(n^2) row pairs)
- MinHash+LSH: k-seed signature -> banding -> bucket equi-join for
  candidates -> exact Jaccard verify on candidates only
- SimHash:    60-bit sign fingerprint + banded hamming candidates
- components: large-star/small-star contraction (O(log^2 n) rounds,
  diameter-free)
- decontamination: w-gram overlap semi-join against a benchmark set

Hashing uses the cross-engine md5 scheme (functions/hashing.py) so
every step is DuckDB-oracle-checkable.

Scale shape: each operator's only shuffles are (a) the explode-groupBy
on shingles/buckets, bounded by total shingle count, and (b) the final
per-pair aggregation, bounded by candidate count. Skewed shingles (stop
phrases) are the known hazard of the Jaccard join — ``max_shingle_freq``
drops shingles shared by more than N docs (they contribute nothing to
discrimination and everything to skew).
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints must resolve

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from dgraph_dbpedia_spark.functions.hashing import (
    hash64,
    rolling_shingle_hashes,
    token_hashes,
    tokens,
)
from dgraph_dbpedia_spark.operators.cachectl import CacheScope, persisted_frames


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = False,
    keep_by: str | None = None,
) -> DataFrame:
    """One representative per distinct text. Returns ``(fp, doc_id)``.

    ``normalize=True`` fingerprints the CANONICAL form (lowercased,
    whitespace runs collapsed to one space, then edge-trimmed) —
    catches the case/indentation/re-wrap variants that dominate
    trivially-duplicated web text and that byte-exact dedup misses;
    the returned rows are still original ids, one per canonical class.
    The whitespace class is the shared ``WS_CLASS`` constant
    (functions/hashing.py — the explicit Java-∩-RE2 spelling of Java's
    ``\\s``, vertical tab included), and collapse runs BEFORE the trim
    so edge tabs/newlines trim away with everything else.

    ``keep_by`` picks the representative by ``min(struct(keep_by,
    id))`` instead of ``min(id)`` — keep the earliest crawl by
    timestamp, the most compact variant by length, the best source by
    priority rank (negate the column for descending). Rows whose
    ``keep_by`` is NULL always LOSE to any non-NULL sibling (an
    is-null flag leads the sort key; Spark's bare struct-min would
    otherwise put NULLS FIRST and crown the one doc with missing
    metadata). Default stays min-id (oracle- and pipeline-stable).

    Scale shape is unchanged either way: one partial-aggregable
    groupBy on the md5 key."""
    text = F.col(text_col)
    if normalize:
        from dgraph_dbpedia_spark.functions.hashing import WS_CLASS

        text = F.trim(F.regexp_replace(F.lower(text), WS_CLASS + "+", " "))
    if keep_by is None:
        rep = F.min(id_col).alias(id_col)
    else:
        rep = (
            F.min(
                F.struct(
                    F.col(keep_by).isNull().cast("int").alias("__nul"),
                    F.col(keep_by),
                    F.col(id_col),
                )
            )
            .getField(id_col)
            .alias(id_col)
        )
    return df.groupBy(F.md5(text).alias("fp")).agg(rep)


def _hashed_shingled(df: DataFrame, text_col: str, id_col: str, w: int) -> DataFrame:
    """Shingle sets as int64 hashes: 8-byte join/intersect keys instead
    of multi-word strings. Distinctness is preserved (60-bit hashes;
    collision probability is negligible at any realistic doc size),
    shuffle volume drops by the average shingle length.

    Rolling scheme (r9): each TOKEN is digested once, then the w
    token-hashes per shingle combine via the order-sensitive rotate-xor
    fold (functions/hashing.py). Bytes hashed drop ~w× vs digesting each
    concatenated w-token string (w=13 for decontamination), and the fold
    is DuckDB-replicable so hash-value-dependent oracles (minhash) still
    hold. Two-step select: bind the token-hash array as a column before
    shingling, else the per-shingle lambda re-evaluates the whole
    tokenize+hash subtree per position (the CollapseProject trap).

    ``sh`` is emitted through an ``inline(array(struct(...)))`` barrier:
    when a consumer explodes it, ``InferFiltersFromGenerate`` infers a
    ``size(sh) > 0`` filter whose pushed-down form inlines the WHOLE
    fold expression a second time — measured 13.6 s vs 0.9 s at sf0.1
    w=13. Behind the barrier ``sh`` is a generated attribute, so the
    inferred filter tests the materialized array instead of re-deriving
    it (and the barrier's own inferred filter constant-folds:
    size(array(struct)) = 1)."""
    toks_h = df.select(
        F.col(id_col), token_hashes(tokens(F.col(text_col))).alias("th")
    )
    return toks_h.select(
        F.col(id_col),
        F.inline(
            F.array(F.struct(rolling_shingle_hashes(F.col("th"), w).alias("sh")))
        ),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    max_shingle_freq: int | None = 1000,
) -> DataFrame:
    """All pairs (a < b) with shingle-set Jaccard >= threshold.

    Sparse plan: explode distinct shingles, self-equi-join on the
    shingle, count joint shingles per pair (= intersection size), then
    ``|A ∪ B| = |A| + |B| - |A ∩ B|``. Only documents sharing at least
    one shingle ever meet.

    ``max_shingle_freq`` (default 1000) drops shingles shared by more
    than N documents BEFORE the self-join: a stop-phrase shingle at
    corpus scale is a hot-key join explosion (f docs sharing one shingle
    is f^2/2 joined rows), and a shingle in >1000 docs carries no
    near-dup signal. FINITE BY DEFAULT — at 100 TB the cap is the
    difference between a bounded join and a runaway key; pass ``None``
    to opt out. The Jaccard is computed over the FILTERED shingle
    universe on both axes (intersection and set sizes), so it is the
    exact Jaccard of the capped sets — not a hybrid of filtered
    intersections over unfiltered sizes.

    The result carries its persisted shingle-frame handle — release with
    :func:`dgraph_dbpedia_spark.operators.cachectl.release` after
    materializing.

    Fixed columns: id ``doc_id``, text ``text``."""
    with CacheScope() as scope:
        counts, persisted = _ngram_pair_counts(
            scope, df, "text", "doc_id", 3, max_shingle_freq
        )
        out = (
            counts.withColumn(
                "jaccard",
                F.round(
                    F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
                    6,
                ),
            )
            .where(F.col("jaccard") >= threshold)
            .select("a", "b", "jaccard")
        )
        return scope.hand(out, *persisted)


def _ngram_pair_counts(
    scope: CacheScope,
    df: DataFrame,
    text_col: str,
    id_col: str,
    w: int,
    max_shingle_freq: int | None,
) -> tuple[DataFrame, list[DataFrame]]:
    """Shared sparse pair-count skeleton of the shingle-overlap family:
    ``(a, b, inter, na, nb)`` for every pair (a < b) sharing at least
    one (capped) shingle, plus the frames it persisted through
    ``scope`` (the caller hands them to its result)."""
    # persist: the shingled frame feeds four plan branches (two join
    # sides + two size lookups); without it Catalyst recomputes the
    # shingling per branch (no cross-branch subplan sharing, SURVEY §4)
    sh = scope.persist(_hashed_shingled(df, text_col, id_col, w))
    exploded = sh.select(F.col(id_col), F.explode("sh").alias("shingle"))
    if max_shingle_freq is not None:
        # drop degenerate stop-shingles: they blow up the join and carry
        # no discriminative signal
        rare = (
            exploded.groupBy("shingle")
            .count()
            .where(F.col("count") <= max_shingle_freq)
            .select("shingle")
        )
        exploded = scope.persist(exploded.join(rare, "shingle", "left_semi"))
    # set sizes from the SAME (possibly capped) universe as the
    # intersection — shingles are distinct per doc, so the exploded row
    # count per id is the set size
    sizes = exploded.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a = exploded.select(F.col(id_col).alias("a"), "shingle")
    b = exploded.select(F.col(id_col).alias("b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    na = sizes.select(F.col(id_col).alias("a"), F.col("n").alias("na"))
    nb = sizes.select(F.col(id_col).alias("b"), F.col("n").alias("nb"))
    counts = inter.join(na, "a").join(nb, "b")
    persisted = [sh] if max_shingle_freq is None else [sh, exploded]
    return counts, persisted


def ngram_containment_pairs(df: DataFrame, threshold: float = 0.8) -> DataFrame:
    """ASYMMETRIC shingle containment — the subsumption detector
    Jaccard structurally cannot be: a short quote fully embedded in a
    long document has near-zero Jaccard (the union is huge) but
    containment(quote in doc) = |A∩B| / |A| ≈ 1. Returns every pair
    (a < b, same id universe) with ``greatest(containment_a,
    containment_b) >= threshold``, as ``(a, b, inter, containment_a,
    containment_b)`` where ``containment_a`` is the fraction of a's
    shingles found in b (a ⊆ b when it approaches 1) and vice versa —
    both directions reported because a < b ordering says nothing about
    which side is the quote.

    Same sparse plan, cap, and persist contract as
    :func:`ngram_jaccard_pairs` (shared skeleton): only documents
    sharing a shingle ever meet, sizes come from the SAME capped
    universe as the intersection, and the result carries the persisted
    handles for cachectl release.

    Fixed columns: id ``doc_id``, text ``text``."""
    ca = F.round(F.col("inter") / F.col("na"), 6)
    cb = F.round(F.col("inter") / F.col("nb"), 6)
    with CacheScope() as scope:
        counts, persisted = _ngram_pair_counts(
            scope, df, "text", "doc_id", 3, 1000
        )
        out = (
            counts.withColumn("containment_a", ca)
            .withColumn("containment_b", cb)
            .where(
                F.greatest(F.col("containment_a"), F.col("containment_b"))
                >= threshold
            )
            .select("a", "b", "inter", "containment_a", "containment_b")
        )
        return scope.hand(out, *persisted)


MERSENNE31 = (1 << 31) - 1


def minhash_lane_coeffs(k: int) -> list[tuple[int, int]]:
    """Deterministic Carter-Wegman coefficients (a_i, b_i) for the k
    signature lanes, derived from the cross-engine hash so oracles can
    recompute them."""
    from dgraph_dbpedia_spark.functions.hashing import hash64_py

    return [
        (
            hash64_py(f"a:{i}") % (MERSENNE31 - 1) + 1,
            hash64_py(f"b:{i}") % MERSENNE31,
        )
        for i in range(k)
    ]


def _minhash_lanes_arrow(k: int):
    """Vectorized twin of the signature lanes: the k Carter-Wegman
    multiply-add-mod passes and the per-lane min run in numpy inside an
    Arrow batch (shingle md5 hashing stays JVM-native upstream).
    Integer arithmetic under 2^62 — bit-identical to the native
    reference fold :func:`_signatures_from_hashed`."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    coeffs = minhash_lane_coeffs(k)
    A = np.asarray([a for a, _ in coeffs], dtype=np.int64)[:, None]
    B = np.asarray([b for _, b in coeffs], dtype=np.int64)[:, None]

    def lanes(sh: "pd.Series") -> "pd.Series":
        import numpy as np  # noqa: F811
        import pandas as pd

        out = []
        for arr in sh:
            h = np.asarray(arr, dtype=np.int64)
            if h.size == 0:
                out.append(None)
                continue
            hb = (h % MERSENNE31)[None, :]
            out.append(((A * hb + B) % MERSENNE31).min(axis=1).tolist())
        return pd.Series(out)

    return pandas_udf(lanes, ArrayType(LongType()))


def minhash_signatures(df: DataFrame) -> DataFrame:
    """k-minimum-hash signature per document: ``sig[i] = min over
    shingles of lane_i(h(shingle))``. Returns ``(id, sig: array<bigint>)``.

    Entirely per-row (no shuffle): ONE strong hash per shingle (md5),
    then k Carter-Wegman universal-hash lanes ``(a_i * (h mod p) +
    b_i) mod p`` with p = 2^31-1 — each lane is a multiply+add+mod
    over the hashed-shingle array, not another digest pass. ``a_i < p`` and ``h mod p < p`` keep every product
    under 2^62, so the arithmetic is int64-exact in Spark AND DuckDB
    (which errors on BIGINT overflow rather than wrapping). The k lane
    passes run as one numpy kernel per Arrow batch
    (:func:`_minhash_lanes_arrow`) instead of k interpreted array
    traversals.

    Fixed columns: id ``doc_id``, text ``text``."""
    return _sigs_from_hashed(
        _hashed_shingled(df, "text", "doc_id", 3), "doc_id", 16
    )


def _signatures_from_hashed(sh: DataFrame, id_col: str, k: int) -> DataFrame:
    """Native reference of :func:`_minhash_lanes_arrow`: signature lanes
    over pre-hashed shingles ``(id, sh: array<bigint>)``.

    Closure capture, NOT default args, in the lambdas: pyspark counts
    lambda params to decide between (x) and (x, index) variants."""
    base = sh.select(
        F.col(id_col),
        F.transform("sh", lambda h: F.pmod(h, F.lit(MERSENNE31))).alias("hb"),
    )

    def lane(a: int, b: int):
        return F.array_min(
            F.transform("hb", lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(MERSENNE31))
        )

    sig = F.array(*[lane(a, b) for a, b in minhash_lane_coeffs(k)])
    return base.select(F.col(id_col), sig.alias("sig"))


def _lsh_buckets(
    signatures: DataFrame,
    id_col: str,
    bands: int,
    rows_per_band: int,
) -> DataFrame:
    """Explode a signature frame into its ``(id, band, bucket)`` LSH
    bucket memberships — the shared banding step of the within-corpus
    candidate self-join and the cross-corpus increment join."""
    band_hashes = F.array(
        *[
            hash64(
                F.concat_ws(
                    ",",
                    *[
                        F.col("sig").getItem(b * rows_per_band + r).cast("string")
                        for r in range(rows_per_band)
                    ],
                ),
            )
            for b in range(bands)
        ]
    )
    return signatures.select(
        F.col(id_col), F.posexplode(band_hashes).alias("band", "bucket")
    )


def minhash_lsh_candidates(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """LSH banding: documents agreeing on all rows of any band become a
    candidate pair. Returns distinct ``(a, b)`` with a < b.

    One explode (doc x bands) + one groupBy-join on (band, bucket-hash):
    shuffle volume = #docs * #bands, never O(n^2).
    """
    buckets = _lsh_buckets(signatures, id_col, bands, rows_per_band)
    a = buckets.select(F.col(id_col).alias("a"), "band", "bucket")
    b = buckets.select(F.col(id_col).alias("b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def _sigs_from_hashed(sh: DataFrame, id_col: str, k: int) -> DataFrame:
    """``(id, sig)`` from a hashed-shingle frame through the Arrow lane
    kernel."""
    return sh.select(
        F.col(id_col), _minhash_lanes_arrow(k)(F.col("sh")).alias("sig")
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 3,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash+LSH near-dup pipeline: signatures -> banded candidates ->
    exact-Jaccard verification of candidates only. Returns
    ``(a, b, jaccard)`` pairs above threshold."""
    rows_per_band = k // bands
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    with CacheScope() as scope:
        # ONE shingle-hashing pass feeds signatures AND the verify step
        sh = scope.persist(_hashed_shingled(df, text_col, id_col, w))
        sigs = _sigs_from_hashed(sh, id_col, k)
        cands = minhash_lsh_candidates(sigs, id_col, bands, rows_per_band)
        sa = sh.select(F.col(id_col).alias("a"), F.col("sh").alias("sh_a"))
        sb = sh.select(F.col(id_col).alias("b"), F.col("sh").alias("sh_b"))
        out = (
            cands.join(sa, "a")
            .join(sb, "b")
            .withColumn("jaccard", F.round(inter / union, 6))
            .where(F.col("jaccard") >= threshold)
            .select("a", "b", "jaccard")
        )
        return scope.hand(out, sh)


N_SIMHASH_BITS = 60  # fits the cross-engine 15-hex-char hash


def _simhash_fold_arrow():
    """Vectorized twin of the native vote fold: token hashes (computed
    JVM-side — md5 stays native) fold to the fingerprint in numpy inside
    an Arrow batch. Integer arithmetic, so bit-IDENTICAL to the native
    reference fold :func:`_simhash_fold_native` by construction (no
    float-order caveat like the hyperplane sketch). Returns a
    Column-producing pandas UDF."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    def fold(hs: "pd.Series") -> "pd.Series":
        import numpy as np  # noqa: F811
        import pandas as pd

        shifts = np.arange(N_SIMHASH_BITS, dtype=np.int64)
        out = np.zeros(len(hs), dtype=np.int64)
        for i, arr in enumerate(hs):
            h = np.asarray(arr, dtype=np.int64)
            if h.size == 0:
                continue
            votes = ((h[:, None] >> shifts) & 1).sum(axis=0) * 2 - h.size
            out[i] = ((votes > 0).astype(np.int64) << shifts).sum()
        return pd.Series(out)

    return pandas_udf(fold, LongType())


def _token_hashes(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """``(id, hs)``: the cross-engine hash of every whitespace token."""
    hs = F.transform(tokens(F.col(text_col)), lambda t: hash64(t))
    return df.select(F.col(id_col), hs.alias("hs"))


def simhash(df: DataFrame) -> DataFrame:
    """60-bit SimHash per document over whitespace tokens: bit b is set
    iff the sum over tokens of (+-1 by token-hash bit b) is positive.
    Returns ``(id, simhash: bigint)``. Per-row only — no shuffle.

    The vote fold runs as a numpy kernel in an Arrow batch
    (:func:`_simhash_fold_arrow`; the interpreted higher-order fold
    walks tokens x 60 bits in the expression interpreter); results are
    bit-identical — integer math — so the oracle contract is
    unaffected.

    Fixed columns: id ``doc_id``, text ``text``."""
    return _token_hashes(df, "text", "doc_id").select(
        F.col("doc_id"), _simhash_fold_arrow()(F.col("hs")).alias("simhash")
    )


def _simhash_fold_native(hashed: DataFrame, id_col: str) -> DataFrame:
    """Native reference of :func:`_simhash_fold_arrow` over a
    :func:`_token_hashes` frame: ``(id, hs)`` -> ``(id, simhash)``."""
    # single fold over the token-hash array accumulating all 60 bit
    # votes at once (vote[b] += bit(h,b) ? +1 : -1), then pack votes>0
    # into the fingerprint. The naive form — one F.aggregate per bit —
    # re-traverses the array 60x and emits a codegen tree 60 subtrees
    # wide; this fold is one traversal and one compact expression.
    # SQL expr because the shift amount is a lambda variable (the
    # python F.shiftright wrapper only takes a literal int).
    votes = F.expr(
        f"""aggregate(
            hs,
            array_repeat(0L, {N_SIMHASH_BITS}),
            (acc, h) -> zip_with(
                acc,
                transform(sequence(0, {N_SIMHASH_BITS - 1}),
                          b -> shiftright(h, b) & 1L),
                (v, bit) -> v + bit * 2L - 1L
            )
        )"""
    )
    pack = F.expr(
        """aggregate(
            zip_with(votes, sequence(0, size(votes) - 1),
                     (v, b) -> if(v > 0, shiftleft(1L, b), 0L)),
            0L, (acc, x) -> acc + x
        )"""
    )
    return hashed.select(F.col(id_col), votes.alias("votes")).select(
        F.col(id_col), pack.alias("simhash")
    )


def _simhash_chunks(sim: Column) -> Column:
    """The 4 x 15-bit band values of a 60-bit simhash — the single
    definition shared by the self-join pairs and the streaming state
    join (a layout edit in one place keeps every consumer and the
    pigeonhole guarantee consistent)."""
    return F.array(
        *[
            F.shiftright(sim, c * 15).bitwiseAND(F.lit((1 << 15) - 1))
            for c in range(4)
        ]
    )


def simhash_banded_pairs(fingerprints: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs from a precomputed ``(id, simhash)`` frame —
    banding on the 4 x 15-bit chunks, hamming verify on bucket
    collisions only. Callers that already hold fingerprints
    (:func:`streaming.events.stream_near_dup_batch`) skip a second
    simhash fold; :func:`simhash_near_dup_pairs` wraps this for raw
    text. Returns ``(a, b, hamming)``.

    ``max_hamming`` must be <= 3: the pigeonhole guarantee (some chunk
    agrees exactly) only holds for 3 differing bits over 4 chunks — a
    larger radius would SILENTLY lose pairs whose diff bits span all
    four chunks, so it raises instead.

    Fixed columns: id ``doc_id``."""
    if not 0 <= max_hamming <= 3:
        raise ValueError(
            f"max_hamming must be in [0, 3] (4-band pigeonhole bound), "
            f"got {max_hamming}; more distance needs a wider banding "
            "scheme, not a larger radius on this one"
        )
    buckets = fingerprints.select(
        F.col("doc_id"),
        F.col("simhash"),
        F.posexplode(_simhash_chunks(F.col("simhash"))).alias("chunk", "val"),
    )
    a = buckets.select(
        F.col("doc_id").alias("a"), F.col("simhash").alias("sim_a"), "chunk", "val"
    )
    b = buckets.select(
        F.col("doc_id").alias("b"), F.col("simhash").alias("sim_b"), "chunk", "val"
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    # hamming filter BEFORE the dedup-distinct: the filter is a cheap
    # per-row bit_count on the join output, while distinct is a shuffle —
    # order matters at scale (candidates >> survivors)
    return (
        a.join(b, ["chunk", "val"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b", hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_near_dup_pairs(df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= max_hamming.

    Banding on 4 x 15-bit chunks: any pair within hamming 3 of 60 bits
    agrees exactly on at least one chunk (pigeonhole), so candidate
    generation is an equi-join on (chunk-index, chunk-value) — no
    all-pairs comparison. Returns ``(a, b, hamming)``.
    ``max_hamming > 3`` raises (see :func:`simhash_banded_pairs`).

    The fingerprint frame is persisted: it feeds both sides of the
    self-join, and without the persist Catalyst recomputes the full
    simhash fold per side (no cross-branch subplan sharing, SURVEY §4).
    The result carries the handle — release via cachectl.release.

    Fixed columns: id ``doc_id``, text ``text``."""
    if not 0 <= max_hamming <= 3:  # validate BEFORE marking any persist
        raise ValueError(
            f"max_hamming must be in [0, 3], got {max_hamming}"
        )
    with CacheScope() as scope:
        sh = scope.persist(simhash(df))
        return scope.hand(simhash_banded_pairs(sh, max_hamming), sh)


def near_dup_filter(df: DataFrame, pairs: DataFrame) -> DataFrame:
    """Corpus-level dedup step: given near-dup ``(a, b)`` pairs with
    a < b, drop every document that appears as the higher id of a pair
    (greedy keep-the-canonical-representative). One broadcast-able
    anti-join — the operation a training-data pipeline actually runs
    after candidate generation.

    Fixed columns: id ``doc_id``."""
    losers = pairs.select(F.col("b").alias("doc_id")).distinct()
    return df.join(losers, "doc_id", "left_anti")


def dedup_clusters_star(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over the near-dup pair graph: assign every
    document the MINIMUM doc id reachable through pairs — the cluster
    representative. Returns ``(doc_id, cluster_id)`` for ALL docs
    (singletons map to themselves); pair ids absent from ``docs`` are
    ignored.

    This is the end-step ``near_dup_filter`` approximates greedily: the
    pairwise keep-lowest rule under-deletes on transitive chains
    (a~b, b~c but not a~c keeps both a and c's duplicates of b's
    content); component labeling deletes exactly one survivor per
    connected group.

    Algorithm: alternating large-star / small-star contraction
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14). Rounds are O(log^2 n) regardless of diameter: each
    large-star hangs every node off the minimum of its neighborhood,
    halving chain lengths, and each small-star flattens the resulting
    forests toward their roots. Per round: two groupBy-min
    aggregations and two equi-joins, all keyed on node id.
    ``localCheckpoint`` truncates lineage per round. Convergence is
    detected by an order-insensitive edge-set checksum (count +
    bit_xor of xxhash64(u,v)) — one aggregate pass instead of a
    subtract-join; a false positive needs a colliding 64-bit hash XOR
    across rounds, vanishingly unlikely and bounded by ``max_iter`` +
    the star invariant (a converged edge set is precisely the
    child->root star forest, which the final join consumes directly).
    ``max_iter`` counts rounds including the one that confirms
    convergence; hitting it raises ``RuntimeError`` rather than
    returning partial components that would silently under-merge
    clusters, and ``max_iter < 1`` (no round, so one-hop labels)
    raises ``ValueError``.

    CONTRACT: ``docs`` must be deterministic under re-evaluation (any
    scan, filter, or join is; an unseeded ``.sample()`` / unordered
    ``.limit()`` is not) — the returned frame lazily re-scans ``docs``
    in the completion join rather than re-materializing the corpus;
    the edge set itself is checkpoint-rooted. Wrap a nondeterministic
    source in ``localCheckpoint()`` before calling.
    """
    if max_iter < 1:
        raise ValueError(f"dedup_clusters_star needs max_iter >= 1, got {max_iter}")

    def canon(e: DataFrame) -> DataFrame:
        # undirected edge set, one canonical (u > v) row per pair
        return (
            e.select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def large_star(e: DataFrame) -> DataFrame:
        # symmetric view; for each u: m = min(neighborhood + self);
        # re-hang every LARGER neighbor off m
        nbrs = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = nbrs.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        return (
            nbrs.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )

    def small_star(e: DataFrame) -> DataFrame:
        # canonical u > v rows; for each u: m = min smaller-neighbor;
        # point u and all its other smaller-neighbors at m
        c = canon(e)
        mins = c.groupBy("u").agg(F.min("v").alias("m"))
        rehung = (
            c.join(mins, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        selfs = mins.select("u", F.col("m").alias("v"))
        return rehung.union(selfs)

    def checksum_metrics() -> tuple[Column, Column]:
        # ONE definition of the order-insensitive edge-set checksum
        # (count + coalesced bit_xor of xxhash64(u, v)), consumed by
        # both observe() sites — the round-0 and per-round values stay
        # comparable by construction
        return (
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
        )

    # restrict edges to ids actually present in docs, or a stale pair
    # set referencing a dropped doc could root a component at a
    # non-doc id

    ids = docs.select(F.col(id_col).alias("u")).distinct()
    obs0 = Observation()
    with CacheScope() as scope:
        edges = scope.checkpoint(
            canon(pairs.select(F.col("a").alias("u"), F.col("b").alias("v")))
            .join(ids, "u", "left_semi")
            .join(ids.withColumnRenamed("u", "v"), "v", "left_semi")
            # USING-joins move the join key first — restore (u, v) order,
            # the loop's unions are positional
            .select("u", "v")
            .observe(obs0, *checksum_metrics())
        )
        got0 = obs0.get
        prev = (got0["n"], got0["h"])
        # eager localCheckpoint per round, ONE job per round (the
        # convergence checksum rides the checkpoint job as observe()
        # metrics), and every round plans against a depth-1 lineage.
        # Measured (same-session A/Bs, sf0.1,
        # BENCH_SCALE.md r8): 2.86s fused vs 3.07s checkpoint+separate-scan
        # vs 3.92-3.96s for the r7 persist+sparse-checkpoint scheme at any
        # cadence (4/8/never) — the persist scheme LOST because each
        # un-truncated round re-plans a growing join tree, and that
        # planning cost exceeds the extra materialization of the small
        # contracted edge set. The r8 hypothesis that the trade reverses
        # for frames too large to double-materialize was REFUTED at scale
        # (BENCH_SCALE.md r9): each star round references the edge frame
        # several times, so the un-truncated logical tree grows
        # EXPONENTIALLY in rounds-since-checkpoint — on a diameter-9 chain
        # graph the persist scheme failed to finish 10k nodes in 9 min
        # while eager did 2M nodes in ~11 s.
        for _ in range(max_iter):
            contracted = canon(small_star(large_star(edges)))
            obs = Observation()
            superseded = edges
            edges = scope.checkpoint(
                contracted.observe(obs, *checksum_metrics())
            )
            got = obs.get
            cur = (got["n"], got["h"])
            scope.free(superseded)
            if cur == prev:
                break
            prev = cur
        else:
            raise RuntimeError(
                f"dedup_clusters_star did not converge in {max_iter} rounds — "
                "this exceeds the O(log^2 n) bound for any realistic graph; "
                "the input pair set is likely unbounded or adversarial"
            )
        # the converged edge set = star forest, u (child, u>v) -> v
        # (root), backs the result
        scope.keep(edges)
    # Roots and singletons label themselves. Name-based equi-join: the
    # edges now share lineage with docs (via the id restriction), so a
    # frame-qualified condition like docs[id] == roots["u"] can
    # misresolve both sides to the same attribute (Spark's self-join
    # ambiguity) and silently match nothing.
    roots = (
        edges.groupBy("u")
        .agg(F.min("v").alias("__root"))
        .select(F.col("u").alias(id_col), "__root")
    )
    return (
        docs.select(F.col(id_col))
        .join(roots, [id_col], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("__root"), F.col(id_col)).alias("cluster_id"),
        )
    )


def dedup_corpus(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """End-to-end corpus dedup: keep exactly ONE representative (the
    min-id member) per connected near-duplicate cluster, all original
    columns preserved. ``pairs`` is any (a, b) near-dup pair frame
    (:func:`minhash_dedup_pairs`, :func:`ngram_jaccard_pairs`, ...).

    This is the transitive-closure-correct version of
    :func:`near_dup_filter` (greedy pairwise keep-lowest under-deletes
    on chains): components come from :func:`dedup_clusters_star`, then a
    broadcast-able left-semi join keeps the docs whose id IS their
    cluster id. Singletons are their own cluster, so untouched docs
    always survive.

    Star contraction is the one component algorithm (r17, VERDICT
    r16 #3): its O(log^2 n) round bound beat the retired label
    propagation's diameter-linear rounds on every composed row
    measured at sf0.1 (curation_pipeline 15.96 -> 11.31 s,
    pretraining_prep 11.57 -> 7.89 s, dedup_increment 5.07 -> 3.92 s
    best-of-3 warm; the standalone dedup_corpus / semantic_dedup rows
    flat within noise), never lost, and converges on any diameter where
    propagation raises past ``max_iter`` — output proven identical on
    every affected row, see OPTIMIZATION_r17.md.

    ``docs`` must be deterministic under re-evaluation (the
    :func:`dedup_clusters_star` contract): the result scans ``docs`` lazily
    in both the completion join and the representative semi-join
    instead of materializing the corpus. Wrap a nondeterministic
    source in ``localCheckpoint()`` first."""
    clusters = dedup_clusters_star(
        docs.select(F.col(id_col)), pairs, id_col=id_col
    )
    reps = clusters.where(F.col("cluster_id") == F.col(id_col)).select(id_col)
    return docs.join(reps, id_col, "left_semi")


def paragraph_dedup(docs: DataFrame, sep: str = "\n\n") -> DataFrame:
    """Cross-corpus paragraph-level exact dedup (the C4-style rule):
    every repeated paragraph keeps only its FIRST occurrence — lowest
    ``(doc_id, position)`` corpus-wide — and each document is
    reassembled from its surviving paragraphs in original order
    (``sep``-joined; a document whose every paragraph was seen earlier
    comes back as the empty string, not a dropped row). Returns
    ``(id, text)`` for ALL input documents.

    Boilerplate paragraphs (headers, footers, license blocks) are the
    canonical target: document-level dedup never fires on documents
    that differ only outside the boilerplate, paragraph-level removes
    exactly the repeats.

    ``sep`` is regex-ESCAPED before reaching the splitter, so a separator like
    ``"..."`` or ``"* * *"`` splits on the literal characters (an
    unescaped pass-through would shred every doc — dot matches
    anything — and diverge from the literal-split oracle).
    Whitespace-only paragraphs are dropped outright (they carry no
    content and would otherwise all collapse onto the corpus's first
    blank).

    Scale shape: first-occurrence selection is ``min(struct(id, pos))``
    grouped by paragraph fingerprint — partially aggregable, so a
    boilerplate paragraph repeated in millions of documents combines
    map-side instead of flooding one window partition (the row_number
    formulation would hot-key exactly on the paragraphs this operator
    exists to remove). Reassembly is one groupBy(id) of the surviving
    paragraphs. Two shuffles total (fp, id), both on bounded keys; no
    UDFs, no collect.

    Fixed columns: id ``doc_id``, text ``text``."""
    import re as _re

    pattern = _re.escape(sep)
    with CacheScope() as scope:
        # persisted: the paragraph frame feeds BOTH the first-occurrence
        # aggregate and the semi-join probe side — without it the
        # split/explode/md5 of the whole corpus runs twice (no
        # cross-branch subplan sharing; same rationale as the shingle
        # persist above). The result carries the handle.
        paras = scope.persist(
            docs.select(
                F.col("doc_id"),
                F.posexplode(F.split(F.col("text"), pattern)).alias(
                    "pos", "para"
                ),
            )
            .where(F.trim("para") != "")
            .select(
                F.col("doc_id"), "pos", "para", F.md5(F.col("para")).alias("fp")
            )
        )
        firsts = paras.groupBy("fp").agg(
            F.min(F.struct(F.col("doc_id"), F.col("pos"))).alias("first")
        )
        kept = paras.join(
            firsts,
            (paras["fp"] == firsts["fp"])
            & (paras["doc_id"] == firsts["first"]["doc_id"])
            & (paras["pos"] == firsts["first"]["pos"]),
            "left_semi",
        )
        rebuilt = kept.groupBy("doc_id").agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "para"))),
                    lambda s: s["para"],
                ),
                sep,
            ).alias("text")
        )
        out = (
            docs.select(F.col("doc_id"))
            .join(rebuilt, "doc_id", "left")
            .select(
                F.col("doc_id"),
                F.coalesce(F.col("text"), F.lit("")).alias("text"),
            )
        )
        return scope.hand(out, paras)


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    w: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: drop every training document that
    shares at least one ``w``-token shingle with the benchmark/eval set
    (the standard 13-gram overlap rule used to keep test data out of
    pretraining corpora). Returns the CLEAN subset of ``docs`` with all
    original columns; pair with :func:`contaminated_ids` to audit what
    was removed.

    100 TB shape: the benchmark side is tiny relative to the corpus —
    its distinct shingle hashes (one aggregate over the eval set) join
    the exploded corpus shingles as a LEFT SEMI on an 8-byte key, then a
    broadcast-able anti-join removes the flagged ids. No pairwise
    comparison, no corpus self-join; the corpus is scanned once and the
    shuffle carries (id, shingle-hash) pairs only.
    """
    flagged = contaminated_ids(
        docs, benchmark, w, text_col, id_col, bench_text_col
    )
    return docs.join(flagged, id_col, "left_anti")


def contaminated_ids(
    docs: DataFrame,
    benchmark: DataFrame,
    w: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Ids of documents sharing >=1 ``w``-token shingle with the
    benchmark set (see :func:`decontaminate`). Output: ``(doc_id,)``
    distinct.

    The eval set's distinct shingle hashes should broadcast (benchmarks
    are small by construction, and the hint keeps the exploded corpus
    from ever shuffling on ``h``) — but an unexpectedly large benchmark
    must degrade to a shuffle join, not a driver/executor OOM from a
    forced broadcast. A 20 000 000-hash cap is that gate: the hash
    set is counted up front (an eager job over the SMALL side only —
    the one place this function touches the cluster at construction
    time), and the hint applies only at or below the cap (2e7
    hashes ~ 160 MB of int64s). The gated path computes the benchmark
    shingle set twice (once for the count, once inside the join) —
    deliberately NOT persisted: the recompute is bounded by the eval
    set's size while a persist handle that every caller must remember
    to release is a leak in a shared session."""
    bench_sh = (
        _hashed_shingled(
            benchmark.select(F.lit(0).alias("__bid"), F.col(bench_text_col)),
            bench_text_col, "__bid", w,
        )
        .select(F.explode("sh").alias("h"))
        .distinct()
    )
    if bench_sh.count() <= 20_000_000:
        right = F.broadcast(bench_sh)
    else:
        right = bench_sh
    corpus_sh = _hashed_shingled(docs, text_col, id_col, w).select(
        F.col(id_col), F.explode("sh").alias("h")
    )
    return corpus_sh.join(right, "h", "left_semi").select(id_col).distinct()


def contamination_report(
    docs: DataFrame,
    benchmark: DataFrame,
    w: int = 13,
) -> DataFrame:
    """Per-benchmark-item contamination audit — the report a curation
    run wants NEXT TO :func:`decontaminate`'s filter: for each
    benchmark item that leaks at all, how many training documents
    share at least one ``w``-token shingle with it, and how many
    distinct shingles leak. Items with the highest counts are the
    boilerplate-like eval rows (shared preambles, license text) whose
    leakage is benign; a long tail of 1-doc hits is the verbatim-copy
    signal. Returns ``(bench_id, n_docs, n_shingles)`` — one row per
    LEAKED benchmark item (clean items emit nothing), ``n_docs`` =
    distinct contaminated training docs, ``n_shingles`` = distinct
    leaked shingle hashes.

    100 TB shape: the same 8-byte shingle-hash equi-join as
    :func:`contaminated_ids` but keeping the benchmark's OWN ids —
    note the broadcast side here is the per-(bench_id, hash) PAIR
    frame, strictly larger than the distinct hash set
    ``contaminated_ids`` ships, so it gets the same
    20 000 000-row OOM-degrade gate (counted up front on the
    SMALL side only; above the cap the join degrades to a shuffle
    join, never a forced-broadcast OOM). Both counts are count-distinct over the
    joined (bench_id, doc/hash) pairs, a partial-aggregable shuffle
    bounded by the collision volume, never the corpus.

    Fixed columns: benchmark id ``doc_id``, benchmark text ``text``, id
    ``doc_id``, text ``text``."""
    bench_sh = _hashed_shingled(
        benchmark.select(
            F.col("doc_id").alias("__bid"), F.col("text")
        ),
        "text", "__bid", w,
    ).select(F.col("__bid"), F.explode("sh").alias("h"))
    if bench_sh.count() <= 20_000_000:
        right = F.broadcast(bench_sh)
    else:
        right = bench_sh
    corpus_sh = _hashed_shingled(docs, "text", "doc_id", w).select(
        F.col("doc_id"), F.explode("sh").alias("h")
    )
    return (
        corpus_sh.join(right, "h")
        .groupBy("__bid")
        .agg(
            F.count_distinct(F.col("doc_id")).alias("n_docs"),
            F.count_distinct(F.col("h")).alias("n_shingles"),
        )
        .select(F.col("__bid").alias("bench_id"), "n_docs", "n_shingles")
    )


def ngram_novelty(docs: DataFrame, reference: DataFrame) -> DataFrame:
    """Per-document novelty vs a reference corpus — the memorization /
    freshness score of data curation: ``novel_ratio`` is the fraction
    of the document's DISTINCT 3-token shingles absent from the
    reference's shingle set (1.0 = fully novel, 0.0 = every shingle
    already in the reference — verbatim-memorization risk, or stale
    re-crawl content when the reference is a previous snapshot).
    :func:`decontaminate` is the binary >=1-overlap filter; this is
    the graded per-doc signal for threshold filtering
    (``.where("novel_ratio < cutoff")``) or
    :func:`~dgraph_dbpedia_spark.operators.sampling.weighted_sample`.
    Returns ``(id, n_wgrams, novel_ratio)`` — every doc scores
    (the shared shingle convention gives even an empty doc one
    whole-text shingle, so the ratio is always defined).

    100 TB shape: the :func:`contaminated_ids` layout — the
    reference's distinct shingle hashes join the exploded corpus
    shingles on an 8-byte key (broadcast at or below
    20 000 000 distinct hashes, counted up front on the
    SMALL side only; shuffle join above it, never a forced-broadcast
    OOM); one partial-aggregable per-doc count pair; integer counts
    so the rounded ratio is order-independent by construction.

    Fixed columns: id ``doc_id``, reference text ``text``, text
    ``text``."""
    ref_sh = (
        _hashed_shingled(
            reference.select(F.lit(0).alias("__rid"), F.col("text")),
            "text", "__rid", 3,
        )
        .select(F.explode("sh").alias("h"))
        .distinct()
        .withColumn("__seen", F.lit(1))
    )
    if ref_sh.count() <= 20_000_000:
        right = F.broadcast(ref_sh)
    else:
        right = ref_sh
    corpus_sh = _hashed_shingled(docs, "text", "doc_id", 3).select(
        F.col("doc_id"), F.explode("sh").alias("h")
    )
    return (
        corpus_sh.join(right, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_wgrams"),
            F.sum(
                F.when(F.col("__seen").isNull(), 1).otherwise(0)
            ).alias("__novel"),
        )
        .select(
            F.col("doc_id"),
            F.col("n_wgrams"),
            F.round(F.col("__novel") / F.col("n_wgrams"), 4).alias(
                "novel_ratio"
            ),
        )
    )


def pair_recall_audit(truth: DataFrame, candidates: DataFrame) -> DataFrame:
    """Candidate-pair quality audit (r15): how much of an exact
    ground-truth pair set a cheaper candidate generator recovers —
    the banding-config check a dedup rollout runs on a sample before
    trusting MinHash bands (or any blocked/bucketed pair source) at
    corpus scale: recall below target means more bands/rows-per-band;
    precision well below 1 means the candidate verify step is too
    loose. ONE row::

        (n_truth, n_candidates, n_matched, recall, precision)

    with ``recall = round(n_matched / n_truth, 6)`` and ``precision =
    round(n_matched / n_candidates, 6)`` (NULL on an empty side —
    try_divide). Both inputs are deduplicated and matched on the
    exact ORDERED ``(a, b)`` key — every in-repo pair source emits
    the canonical ``a < b`` orientation, and callers bringing their
    own pairs must canonicalize the same way (a source emitting
    ``(b, a)`` for the same pair would silently score zero recall —
    ADVICE r15); under that contract the match is the unordered-set
    match, and a band join emitting one row per shared band does not
    inflate either side.

    The audit composes its two inputs LAZILY: any persist handles on
    the pair frames (both in-repo chains carry them —
    :func:`ngram_jaccard_pairs` / :func:`minhash_dedup_pairs`) stay
    owned by the caller, who releases them after materializing
    (VERDICT r15 — the registered row relies on the bench suite's
    ``clearCache``).

    100 TB shape: the audit is meant for a SAMPLE (the exact truth
    side is quadratic-ish to produce by nature); the plan itself is
    two narrow dedups + one pair-key equi-join + a global aggregate —
    everything partial-aggregable, nothing collected.

    Fixed columns: pair side a ``a``, pair side b ``b``."""
    t = truth.select(
        F.col("a").alias("_a"), F.col("b").alias("_b")
    ).dropDuplicates(["_a", "_b"])
    c = candidates.select(
        F.col("a").alias("_a"), F.col("b").alias("_b")
    ).dropDuplicates(["_a", "_b"])
    joined = t.withColumn("_t", F.lit(1)).join(
        c.withColumn("_c", F.lit(1)), ["_a", "_b"], "full_outer"
    )
    agg = joined.agg(
        F.coalesce(F.sum("_t"), F.lit(0)).cast("long").alias("n_truth"),
        F.coalesce(F.sum("_c"), F.lit(0)).cast("long").alias(
            "n_candidates"
        ),
        F.coalesce(
            F.sum(F.col("_t") * F.col("_c")), F.lit(0)
        )
        .cast("long")
        .alias("n_matched"),
    )
    return agg.select(
        "n_truth",
        "n_candidates",
        "n_matched",
        F.round(F.try_divide(F.col("n_matched"), F.col("n_truth")), 6).alias(
            "recall"
        ),
        F.round(
            F.try_divide(F.col("n_matched"), F.col("n_candidates")), 6
        ).alias("precision"),
    )


def dedup_report(clusters: DataFrame) -> DataFrame:
    """Cluster-size histogram of a ``(id, cluster_id)`` component
    labeling (:func:`dedup_clusters_star` output): one row per cluster
    SIZE with the number of clusters of that size, the docs they hold,
    and the docs a min-id dedup would drop — the before/after report
    every curation run wants next to its dedup pass (duplicate rate =
    sum(n_dropped) / sum(n_docs)).

    100 TB shape: two partially-aggregable groupBys (docs ->
    cluster sizes -> histogram), both map-side combinable; the output
    is bounded by the LARGEST cluster size, so it is always tiny.
    ``n_docs``/``n_dropped`` are derived arithmetically from the
    histogram rather than re-aggregated — one less pass over the
    per-cluster frame."""
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
            ((F.col("cluster_size") - 1) * F.col("n_clusters")).alias(
                "n_dropped"
            ),
        )
        .orderBy("cluster_size")
    )


def dedup_increment(
    existing: DataFrame,
    batch: DataFrame,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental corpus dedup — the production shape of a GROWING
    corpus: dedup a new ``batch`` against an already-deduped
    ``existing`` corpus WITHOUT re-clustering the whole corpus.
    Returns the batch rows safe to append (all original columns):

    1. cross-corpus kill — a batch doc whose exact shingle Jaccard
       with ANY existing doc reaches ``threshold`` is dropped; the
       existing copy always wins (ids never decide across corpora);
    2. within-batch dedup of the remainder — banded candidates among
       surviving batch docs, :func:`dedup_corpus` min-id survivors.
       Killed docs do NOT bridge batch components: two clean batch
       docs that are each near a KILLED batch doc but not near each
       other stay separate components and both survive (the killed
       doc's content is represented by the existing corpus, not by
       merging its batch neighbors).

    Scale shape: MinHash signatures + LSH banding on BOTH sides, the
    cross check is a (band, bucket) equi-join — |existing| x |batch| is
    never materialized and the existing corpus is scanned once, never
    re-clustered. One shingle-hashing pass per side feeds signatures
    AND both exact-Jaccard verify steps; the batch bucket frame is
    persisted because it feeds the cross join and both self-join
    sides. The result carries the persisted handles — release with
    :func:`dgraph_dbpedia_spark.operators.cachectl.release` after
    materializing.

    Fixed columns: id ``doc_id``, text ``text``."""
    with CacheScope() as scope:
        rows_per_band = 16 // bands
        sh_e = scope.persist(_hashed_shingled(existing, "text", "doc_id", 3))
        sh_b = scope.persist(_hashed_shingled(batch, "text", "doc_id", 3))
        bk_e = _lsh_buckets(
            _sigs_from_hashed(sh_e, "doc_id", 16),
            "doc_id", bands, rows_per_band,
        )
        bk_b = scope.persist(
            _lsh_buckets(
                _sigs_from_hashed(sh_b, "doc_id", 16),
                "doc_id", bands, rows_per_band,
            )
        )

        inter = F.size(F.array_intersect("sh_a", "sh_b"))
        union = F.size("sh_a") + F.size("sh_b") - inter
        jacc = F.round(inter / union, 6)

        # step 1: banded cross candidates, exact-Jaccard verified
        cross = (
            bk_b.select(F.col("doc_id").alias("a"), "band", "bucket")
            .join(bk_e.select(F.col("doc_id").alias("b"), "band", "bucket"),
                  ["band", "bucket"])
            .select("a", "b")
            .distinct()
        )
        # persisted: ``clean`` (anti-join against killed) is re-evaluated by
        # every downstream consumer — the component loop's label universe,
        # its completion join, and the final representative semi-join.
        # Without the cache each re-evaluation replays the cross-kill join
        # (measured: the tail went 4.5 s -> ~2 s at sf0.1); killed is a
        # bounded id set (matched batch docs), far smaller than the batch.
        killed = scope.persist(
            cross.join(
                sh_b.select(F.col("doc_id").alias("a"), F.col("sh").alias("sh_a")),
                "a",
            )
            .join(
                sh_e.select(F.col("doc_id").alias("b"), F.col("sh").alias("sh_b")),
                "b",
            )
            .where(jacc >= threshold)
            .select("a")
            .distinct()
        )
        clean = batch.join(
            killed.withColumnRenamed("a", "doc_id"), "doc_id", "left_anti"
        )

        # step 2: within-batch pairs from the SAME buckets/shingles;
        # restricting endpoints to clean docs afterwards equals computing
        # pairs on clean directly (pair membership is pairwise)
        bcand = (
            bk_b.select(F.col("doc_id").alias("a"), "band", "bucket")
            .join(bk_b.select(F.col("doc_id").alias("b"), "band", "bucket"),
                  ["band", "bucket"])
            .where(F.col("a") < F.col("b"))
            .select("a", "b")
            .distinct()
        )
        clean_ids = clean.select(F.col("doc_id"))
        # clean-endpoint restriction BEFORE the exact-Jaccard verify: on a
        # heavily-overlapping re-ingest most candidates touch a killed doc,
        # and intersecting their full shingle arrays only to discard the
        # pair afterwards is pure waste (killed/clean are already known)
        bpairs = (
            bcand.join(clean_ids.withColumnRenamed("doc_id", "a"), "a", "left_semi")
            .join(clean_ids.withColumnRenamed("doc_id", "b"), "b", "left_semi")
            .join(
                sh_b.select(F.col("doc_id").alias("a"), F.col("sh").alias("sh_a")),
                "a",
            )
            .join(
                sh_b.select(F.col("doc_id").alias("b"), F.col("sh").alias("sh_b")),
                "b",
            )
            .where(jacc >= threshold)
            .select("a", "b")
        )
        out = dedup_corpus(clean, bpairs, id_col="doc_id")
        return scope.hand(out, sh_e, sh_b, bk_b, killed)


def minhash_join(
    left: DataFrame,
    right: DataFrame,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Fuzzy similarity JOIN across two corpora: every ``(a, b,
    jaccard)`` with ``a`` from ``left``, ``b`` from ``right`` and exact
    shingle Jaccard >= ``threshold`` — the attribution twin of
    :func:`dedup_increment`'s kill step (WHICH right doc matched each
    left doc, with the score, instead of only who to drop).

    Scale shape: MinHash+LSH banding on both sides, candidates via the
    (band, bucket) equi-join, exact verify on candidates only —
    |left| x |right| is never materialized. One shingle pass per side
    feeds signatures and the verify; both are persisted (each feeds
    banding + verify) and ride the result's release handle.

    Fixed columns: id ``doc_id``, text ``text``."""
    with CacheScope() as scope:
        rows_per_band = 16 // bands
        sh_l = scope.persist(_hashed_shingled(left, "text", "doc_id", 3))
        sh_r = scope.persist(_hashed_shingled(right, "text", "doc_id", 3))
        bk_l = _lsh_buckets(
            _sigs_from_hashed(sh_l, "doc_id", 16),
            "doc_id", bands, rows_per_band,
        )
        bk_r = _lsh_buckets(
            _sigs_from_hashed(sh_r, "doc_id", 16),
            "doc_id", bands, rows_per_band,
        )
        cands = (
            bk_l.select(F.col("doc_id").alias("a"), "band", "bucket")
            .join(bk_r.select(F.col("doc_id").alias("b"), "band", "bucket"),
                  ["band", "bucket"])
            .select("a", "b")
            .distinct()
        )
        inter = F.size(F.array_intersect("sh_a", "sh_b"))
        union = F.size("sh_a") + F.size("sh_b") - inter
        out = (
            cands.join(
                sh_l.select(F.col("doc_id").alias("a"), F.col("sh").alias("sh_a")),
                "a",
            )
            .join(
                sh_r.select(F.col("doc_id").alias("b"), F.col("sh").alias("sh_b")),
                "b",
            )
            .withColumn("jaccard", F.round(inter / union, 6))
            .where(F.col("jaccard") >= threshold)
            .select("a", "b", "jaccard")
        )
        return scope.hand(out, sh_l, sh_r)


def strip_duplicated_spans(docs: DataFrame, L: int = 8) -> DataFrame:
    """ExactSubstr-style SPAN dedup at token-window granularity (Lee et
    al., "Deduplicating Training Data Makes Language Models Better",
    ACL 2022, arXiv:2107.06499 — the suffix-array pass, re-expressed
    distributively): every ``L``-token window whose rolling hash occurs
    more than once CORPUS-WIDE keeps only its FIRST occurrence (lowest
    ``(doc_id, position)``); every other occurrence's token positions
    are removed and each document is re-assembled from its surviving
    tokens in order. Document-level dedup never fires on a boilerplate
    license block pasted into millions of otherwise-distinct docs —
    this removes exactly the repeated span. Returns ``(id, text)`` for
    ALL input documents, whitespace-NORMALIZED (tokens joined by one space;
    token-level surgery cannot preserve the original whitespace).
    Documents shorter than ``L`` tokens emit no windows and come back
    intact (modulo normalization); a fully-duplicated doc returns as
    the empty string, not a dropped row.

    vs the true suffix-array method: fixed-L windows approximate
    maximal repeated substrings — a repeat of length m >= L is removed
    over its full extent (every covering window repeats too); repeats
    shorter than L are kept by design (L is the paper's min-match
    dial, default 50 BPE tokens there, whitespace tokens here).

    100 TB shape: one token-hash pass per doc (rotate-xor fold per
    window — no per-window string digests); first-occurrence selection
    is ``min(struct(doc, pos))`` grouped by window hash — PARTIALLY
    AGGREGABLE, so the million-fold boilerplate window combines
    map-side instead of hot-keying a shuffle partition (the
    paragraph_dedup argument, one granularity finer); covered
    positions are a bounded explode (L rows per duplicated window);
    reassembly is one groupBy(id). The window array rides the
    ``inline(array(struct))`` barrier so InferFiltersFromGenerate
    cannot re-derive the fold inside a pushed filter (the measured 15x
    trap, see :func:`_hashed_shingled`). The result carries the token
    frame's persist handle (it feeds windows AND reassembly) — release
    via cachectl after materializing.

    Fixed columns: id ``doc_id``, text ``text``."""
    from dgraph_dbpedia_spark.functions.hashing import _rotl60

    if L < 2:
        raise ValueError(f"L must be >= 2, got {L}")
    with CacheScope() as scope:
        base = scope.persist(
            docs.select(F.col("doc_id"), tokens(F.col("text")).alias("__toks"))
        )
        th = token_hashes(F.col("__toks"))
        warr = F.when(
            F.size("__th") >= L,
            F.transform(
                F.sequence(F.lit(1), F.size("__th") - (L - 1)),
                lambda i: F.aggregate(
                    F.slice(F.col("__th"), i, L),
                    F.lit(0).cast("bigint"),
                    lambda acc, t: _rotl60(acc).bitwiseXOR(t),
                ),
            ),
        ).otherwise(F.array().cast("array<bigint>"))
        # two-step select binds __th before the per-window lambda (the
        # CollapseProject trap), then the inline barrier materializes the
        # window array before any generate sees it
        wins = (
            base.select(F.col("doc_id"), th.alias("__th"))
            .select(
                F.col("doc_id"),
                F.inline(F.array(F.struct(warr.alias("wh")))),
            )
            .select(F.col("doc_id"), F.posexplode("wh").alias("p", "g"))
        )
        firsts = wins.groupBy("g").agg(
            F.min(F.struct(F.col("doc_id"), F.col("p"))).alias("f")
        )
        dupw = (
            wins.join(firsts, "g")
            .where(
                ~(
                    (F.col("doc_id") == F.col("f")["doc_id"])
                    & (F.col("p") == F.col("f")["p"])
                )
            )
            .select(F.col("doc_id"), F.col("p"))
        )
        # window at 0-based explode position p covers 1-based token
        # positions p+1 .. p+L
        covered = dupw.select(
            F.col("doc_id"),
            F.explode(F.sequence(F.col("p") + 1, F.col("p") + L)).alias("tp"),
        ).distinct()
        tokrows = base.select(
            F.col("doc_id"), F.posexplode("__toks").alias("tp0", "tok")
        ).select(F.col("doc_id"), (F.col("tp0") + 1).alias("tp"), F.col("tok"))
        kept = tokrows.join(covered, ["doc_id", "tp"], "left_anti")
        rebuilt = kept.groupBy("doc_id").agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("tp", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("text")
        )
        out = (
            docs.select(F.col("doc_id"))
            .join(rebuilt, "doc_id", "left")
            .select(
                F.col("doc_id"),
                F.coalesce(F.col("text"), F.lit("")).alias("text"),
            )
        )
        return scope.hand(out, base)


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 5,
    w: int = 4,
    tie: str = "left",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
    2003): hash every k-token shingle POSITIONALLY, slide a window of
    ``w`` consecutive shingle hashes over each document, and select
    each window's minimum. ``tie='left'`` (default) breaks equal-hash
    ties at the LOWEST position — the natural struct order both
    engines share; ``tie='right'`` is the paper's rule (rightmost
    minimum, for slightly lower density). The tie rule changes only
    which POSITION is reported for a tied window — the selected hash
    VALUE is the window minimum either way, so fp-set consumers
    (:func:`winnow_matches`) are tie-rule-invariant. The paper's
    guarantee holds under both: every run of ``w`` consecutive
    shingles contributes at least
    one fingerprint, so any verbatim match of at least ``k + w - 1``
    tokens between two documents shares at least one fingerprint —
    a sparse (~2/(w+1) the density of full shingling), position-aware
    index for plagiarism-style matching and local near-dup detection.

    Returns exploded rows ``(doc_id, pos, fp)`` where ``pos`` is the
    1-based token position the selected shingle starts at. Documents
    with fewer than ``w`` shingles select their single global minimum;
    shorter-than-``k`` docs follow the shingle convention (one
    whole-text shingle; empty text folds to hash 0 at pos 1).

    100 TB shape: ZERO shuffle — token hashes, positional rotate-xor
    folds, per-window struct-min, and in-array dedup all happen inside
    one narrow projection; the only generate is the final explode,
    behind the ``inline(array(struct))`` barrier (the measured 15x
    InferFiltersFromGenerate trap, see :func:`_hashed_shingled`). Each
    intermediate array binds as an ATTRIBUTE in its own select — the
    per-window lambda references it twice (size + slice), which is
    exactly the CollapseProject duplicate-eval trap if left inline.
    Per-doc cost is O(shingles x w) struct comparisons, JVM-side.
    Downstream matching equi-joins on ``fp`` exactly like the shingle
    joins (hot-key cap applies there, not here).

    Fixed columns: id ``doc_id``, text ``text``."""
    return (
        _winnow_selected(docs, k, w, "text", "doc_id", tie)
        .select(F.col("doc_id"), F.explode("__fps").alias("__s"))
        .select(
            F.col("doc_id"),
            F.abs(F.col("__s.pos")).alias("pos"),
            F.col("__s.h").alias("fp"),
        )
    )


def _winnow_selected(
    docs: DataFrame,
    k: int,
    w: int,
    text_col: str,
    id_col: str,
    tie: str = "left",
) -> DataFrame:
    """Shared winnowing core: ``(id_col, __fps)`` where ``__fps`` is the
    distinct array of selected ``struct(h, pos)`` fingerprints — still
    in array land (zero shuffle), one row per input document, behind
    the inline barrier. ``tie='right'`` stores NEGATED positions so the
    same struct-min picks the rightmost tied minimum — callers take
    ``abs(pos)``."""
    from dgraph_dbpedia_spark.functions.hashing import (
        positional_shingle_hashes,
    )

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if w < 1:
        raise ValueError(f"w must be >= 1, got {w}")
    if tie not in ("left", "right"):
        raise ValueError(f"tie must be 'left' or 'right', got {tie!r}")
    sign = 1 if tie == "left" else -1
    pairs = F.transform(
        F.col("__ph"),
        lambda h, i: F.struct(
            h.alias("h"), (sign * (i + 1)).cast("int").alias("pos")
        ),
    )
    n_sel = F.greatest(F.size("__pairs") - (w - 1), F.lit(1))
    sel = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n_sel),
            lambda p: F.array_min(F.slice(F.col("__pairs"), p, w)),
        )
    )
    return (
        docs.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
        .select(
            F.col(id_col), token_hashes(F.col("__toks")).alias("__th")
        )
        .select(
            F.col(id_col),
            positional_shingle_hashes(F.col("__th"), k).alias("__ph"),
        )
        .select(F.col(id_col), pairs.alias("__pairs"))
        .select(F.col(id_col), F.inline(F.array(F.struct(sel.alias("__fps")))))
    )


def winnow_matches(
    df_a: DataFrame,
    df_b: DataFrame | None = None,
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_fp_freq: int | None = 1000,
) -> DataFrame:
    """LOCAL overlap detection on winnowing fingerprints (the matching
    half of Schleimer et al. 2003 — the MOSS shape): pairs ``(a, b,
    n_shared)`` where a document of ``df_a`` and one of ``df_b`` share
    at least ``min_shared`` distinct fingerprint hashes.
    ``df_b=None`` is WITHIN-corpus mode — MOSS's own regime: the corpus
    is matched against itself with one fingerprint pass (the b-side
    reuses the a-side's persisted frame) and pairs restricted to
    ``a < b`` so self-pairs and mirror duplicates never appear.
    By the winnowing guarantee every verbatim overlap of at least
    ``k + w - 1`` tokens contributes a shared fingerprint, so this
    finds quote-level / paragraph-level copying that whole-document
    measures (minhash Jaccard) dilute to invisibility — at ~1/w the
    index size of full shingle matching.

    100 TB shape: fingerprint extraction is the zero-shuffle winnowing
    projection with the per-doc fp SET deduped in array land (no
    distinct shuffle); matching is one equi-join on ``fp`` +
    one pair-count groupBy, both bounded by fingerprint count — never
    all-pairs. ``max_fp_freq`` (default 1000, FINITE like
    :func:`ngram_jaccard_pairs`'s cap) drops fingerprints carried by
    more than N documents across both sides — a boilerplate fingerprint
    is a hot-key f^2 join explosion with no matching signal. The
    empty-document sentinel (hash 0) is always excluded — every empty
    doc would otherwise match every other. Persist is conditional on a
    frame feeding more than one branch: within mode persists the one
    shared fp frame, capped cross mode both originals, uncapped cross
    mode none — release whatever handles the result carries via
    cachectl after materializing. NOTE the cap counts a fingerprint's
    doc frequency over BOTH sides, so within mode (each doc once) and
    ``winnow_matches(df, df)`` (each doc twice) can diverge on
    fingerprints whose doc frequency exceeds ``max_fp_freq / 2``.

    Fixed columns: id ``doc_id``, text ``text``."""

    def fp_rows(df: DataFrame, out: str) -> DataFrame:
        sets = F.array_remove(
            F.transform(F.col("__fps"), lambda s: s["h"]), 0
        )
        return (
            _winnow_selected(df, k, w, "text", "doc_id")
            .select(F.col("doc_id").alias(out), F.array_distinct(sets).alias("__set"))
            .select(F.col(out), F.explode("__set").alias("fp"))
        )

    within = df_b is None
    with CacheScope() as scope:
        # persist when any frame feeds more than one plan branch: always in
        # within mode (the a-frame IS the b-frame, plus the optional
        # frequency count); cross-mode only under the cap — uncapped, each
        # frame feeds exactly one branch and caching it is pure overhead
        if within:
            fa0 = scope.persist(fp_rows(df_a, "a"))
            fb0 = fa0.withColumnRenamed("a", "b")
            handles = [fa0]
            # the doc frequency of a fingerprint is its a-side frequency
            freq_src = fa0.select("fp")
        elif max_fp_freq is not None:
            fa0 = scope.persist(fp_rows(df_a, "a"))
            fb0 = scope.persist(fp_rows(df_b, "b"))
            handles = [fa0, fb0]  # the ORIGINALS, not the semi-joined rebinds
            freq_src = fa0.select("fp").unionByName(fb0.select("fp"))
        else:
            fa0 = fp_rows(df_a, "a")
            fb0 = fp_rows(df_b, "b")
            handles = []
            freq_src = None
        fa, fb = fa0, fb0
        if max_fp_freq is not None:
            freq = (
                freq_src.groupBy("fp")
                .agg(F.count(F.lit(1)).alias("__n"))
                .where(F.col("__n") <= max_fp_freq)
                .select("fp")
            )
            fa = fa0.join(freq, "fp", "left_semi")
            fb = fb0.join(freq, "fp", "left_semi")
        joined = fa.join(fb, "fp")
        if within:
            joined = joined.where(F.col("a") < F.col("b"))
        out = (
            joined.groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .where(F.col("n_shared") >= min_shared)
        )
        return scope.hand(out, *handles)


def split_leakage_report(
    df: DataFrame,
    fractions: dict[str, float],
    threshold: float = 0.5,
) -> DataFrame:
    """Cross-split near-dup LEAKAGE audit: split the corpus with
    :func:`..sampling.split_corpus`'s deterministic id-hash coin, find
    near-dup pairs with the MinHash band join
    (:func:`minhash_dedup_pairs`), keep only pairs whose two sides
    land in DIFFERENT splits, and report one row per split pair:
    ``(split_a, split_b, n_pairs, n_docs_a, n_docs_b, max_jaccard)``
    — the eval-hygiene check that a test set isn't a paraphrase of
    the training set (the measurement behind train-test contamination
    findings, e.g. Dodge et al. 2021 on C4). Rows not covered by the
    fractions (the explicit holdout) report as split ``'holdout'`` so
    leakage INTO the holdout is visible, not silently dropped.

    Split names order each pair lexically (``split_a < split_b``) and
    the pair's doc ids travel with the swap, so ``n_docs_a`` counts
    distinct leaked docs on the ``split_a`` side. ``max_jaccard`` is
    the worst leak's similarity (max is float-order-safe across
    engines; the pair scores are the band join's round-6 Jaccards).

    100 TB shape: the split coin is a narrow codegen'd projection and
    the split labels join the pair set by id (two broadcast-able or
    shuffle joins on the PAIR volume, not the corpus); the pair set
    itself is the banded-join skeleton that already bounds every
    minhash row. The report is a |splits|^2-row aggregate.

    Fixed columns: id ``doc_id``, text ``text``."""
    from dgraph_dbpedia_spark.operators.sampling import split_corpus

    with CacheScope() as scope:
        pairs = minhash_dedup_pairs(
            df,
            text_col="text",
            id_col="doc_id",
            w=3,
            k=16,
            bands=4,
            threshold=threshold,
        )
        splits = split_corpus(df, fractions, id_col="doc_id", seed=1).select(
            F.col("doc_id"),
            F.coalesce(F.col("split"), F.lit("holdout")).alias("split"),
        )
        labeled = (
            pairs.join(
                splits.select(
                    F.col("doc_id").alias("a"), F.col("split").alias("_sa")
                ),
                "a",
            )
            .join(
                splits.select(
                    F.col("doc_id").alias("b"), F.col("split").alias("_sb")
                ),
                "b",
            )
            .where(F.col("_sa") != F.col("_sb"))
        )
        swap = F.col("_sa") > F.col("_sb")
        normalized = labeled.select(
            F.when(swap, F.col("_sb")).otherwise(F.col("_sa")).alias("split_a"),
            F.when(swap, F.col("_sa")).otherwise(F.col("_sb")).alias("split_b"),
            F.when(swap, F.col("b")).otherwise(F.col("a")).alias("_da"),
            F.when(swap, F.col("a")).otherwise(F.col("b")).alias("_db"),
            "jaccard",
        )
        out = normalized.groupBy("split_a", "split_b").agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.countDistinct("_da").cast("long").alias("n_docs_a"),
            F.countDistinct("_db").cast("long").alias("n_docs_b"),
            F.max("jaccard").alias("max_jaccard"),
        )
        # transfer the inner pair op's persisted handles (the shared
        # shingle frame), not the unpersisted pairs frame itself
        return scope.hand(out, *persisted_frames(pairs))
