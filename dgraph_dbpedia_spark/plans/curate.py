"""End-to-end corpus curation plan — the composition a pretraining
data pipeline actually runs, assembled from the individually
oracle-verified operators:

    quality gate (Gopher rules) -> exact dedup -> MinHash near-dup
    dedup -> benchmark decontamination -> temperature resampling

Each stage is the package's first-class operator
(`operators.textstats.gopher_quality_filter`, `operators.dedup.
exact_dedup` / `minhash_dedup_pairs` / `dedup_corpus` /
`decontaminate`, `operators.sampling.temperature_sample`); this module
only owns the ordering and the cache scope. Ordering rationale for
100 TB: the quality gate is a pure narrow projection (cheapest, most
selective — run first so every later stage sees fewer rows), exact
dedup is one groupBy on an 8-byte hash, near-dup and decontamination
are the expensive banded/semi-join stages and run on the pruned
corpus, and resampling is a narrow filter that must be LAST (rates
are calibrated on the curated distribution).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dgraph_dbpedia_spark.operators.cachectl import CacheScope, persisted_frames


def curate_corpus(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    gopher_kwargs: dict | None = None,
    near_dup_threshold: float = 0.5,
    decontaminate_w: int = 13,
    alpha: float | None = None,
) -> DataFrame:
    """Run the full curation chain over ``docs``; returns the surviving
    rows with all original columns. ``benchmark`` (optional) enables
    the decontamination stage; ``alpha`` (optional) enables the final
    per-``lang`` temperature resampling (seed 2). ``gopher_kwargs``
    override the quality-gate thresholds; ``near_dup_threshold`` is the
    MinHash stage's (``w=3``, ``k=16``, 4 bands).

    Cache scope: the quality-gate id set AND the post-exact-dedup
    corpus are persisted — gk feeds both branches of s2's plan (the
    exact-dedup aggregate and the survivor semi-join), s2 feeds the
    near-dup pair generation (twice, via the self-join), the component
    completion join and the representative semi-join. The result
    carries both handles (release via
    :func:`dgraph_dbpedia_spark.operators.cachectl.release` after
    materializing). The MinHash pair frame's own handles are freed as
    soon as the (eager) component step has consumed them; if any stage
    raises, the cache scope frees every cache the call made.

    Fixed columns: id ``doc_id``, text ``text``, language ``lang``."""
    from dgraph_dbpedia_spark.operators.dedup import (
        decontaminate,
        dedup_corpus,
        exact_dedup,
        minhash_dedup_pairs,
    )
    from dgraph_dbpedia_spark.operators.sampling import temperature_sample
    from dgraph_dbpedia_spark.operators.textstats import gopher_quality_filter

    with CacheScope() as scope:
        # 1. quality gate — narrow projection, most selective, runs
        # first. gk is PERSISTED (id-only, far smaller than the corpus):
        # it feeds both branches of s2's plan — the exact_dedup
        # aggregate's s1 AND the survivor semi-join's s1 — and without
        # the cache the tokenize-heavy gate would evaluate twice when s2
        # first materializes (inside s2's own plan, where s2's persist
        # cannot help).
        gk = scope.persist(
            gopher_quality_filter(docs, **(gopher_kwargs or {}))
            .where(F.col("keep"))
            .select(F.col("doc_id"))
        )
        s1 = docs.join(gk, "doc_id", "left_semi")

        # 2. exact dedup — min-id representative per distinct text (one
        # groupBy on the md5 hash), then keep those rows
        reps = exact_dedup(s1).select(F.col("doc_id"))
        s2 = scope.persist(s1.join(reps, "doc_id", "left_semi"))

        # 3. near-dup dedup — banded MinHash pairs + connected-component
        # min-id survivors over the exact-deduped corpus; the component
        # step runs eagerly, so the pair caches are dead weight after it
        pairs = minhash_dedup_pairs(s2, threshold=near_dup_threshold)
        s3 = dedup_corpus(s2, pairs.select("a", "b"))
        scope.free(*persisted_frames(pairs))

        # 4. benchmark decontamination — w-gram hash semi-join kill
        s4 = (
            decontaminate(s3, benchmark, w=decontaminate_w)
            if benchmark is not None
            else s3
        )

        # 5. temperature resampling — LAST, so rates calibrate on the
        # curated distribution
        s5 = (
            temperature_sample(s4, alpha=alpha)
            if alpha is not None
            else s4
        )
        return scope.hand(s5, s2, gk)


def pretraining_prep(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    chunk_tokens: int = 128,
    overlap: int = 16,
    fractions: dict[str, float] | None = None,
    n_shards: int = 4,
    **curate_kwargs,
) -> DataFrame:
    """The second half of a real pretraining pipeline, composed
    end-to-end on top of :func:`curate_corpus` (which pins the first
    half): curate -> chunk -> split -> epoch-shuffle. The composition
    is where ordering bugs hide, and this function owns exactly those
    ordering decisions:

    - chunks are computed on the curation SURVIVORS only (never on
      rows a later-stage dedup would have dropped — offsets/windows on
      pre-curation rows are wasted work AND wrong training data);
    - the split is keyed on the DOCUMENT id, applied after chunking —
      every chunk of a doc lands in the SAME split, so train can never
      see a val/test doc's other half (the leakage a chunk-keyed split
      would silently allow);
    - the epoch shuffle runs LAST and only over the train split, keyed
      on the chunk-unique ``doc_id#chunk_idx`` key (a doc-keyed
      shuffle would tie every chunk of a doc on the same hash and let
      ``row_number`` break the tie nondeterministically).

    Returns ``(doc_id, chunk_idx, n_tokens, split, shard, pos)`` — one
    row per surviving chunk; ``shard``/``pos`` are the epoch-3
    delivery order for train rows and NULL for val/test/holdout rows.
    The result carries :func:`curate_corpus`'s persist handles
    (release via ``cachectl.release`` after materializing).

    100 TB shape: every added stage is narrow over the curated frame
    (chunking is scan-speed posexplode, the split a codegen'd hash
    projection) except the final per-shard ordering window — ONE
    shuffle of the train chunks, ``n_shards`` the parallelism dial,
    exactly :func:`~dgraph_dbpedia_spark.operators.sampling.
    epoch_shuffle`'s documented shape.

    Fixed: split seed 1, epoch 3; columns id ``doc_id``, text ``text``,
    language ``lang``."""
    from dgraph_dbpedia_spark.operators.sampling import (
        chunk_documents,
        epoch_shuffle,
        split_corpus,
    )

    if fractions is None:
        fractions = {"train": 0.8, "val": 0.1, "test": 0.1}
    # validate every cheap post-curate knob BEFORE the expensive
    # curation chain runs: a bad overlap/fraction/shard count must
    # fail in milliseconds, not after the minhash/component stages
    # have already materialized their caches. (The throwaway frame
    # never executes — each operator's knob validation raises at
    # plan-construction time.)
    _probe = docs.limit(0)
    split_corpus(
        chunk_documents(_probe, chunk_tokens=chunk_tokens, overlap=overlap),
        fractions,
    )
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    with CacheScope() as scope:
        curated = curate_corpus(docs, benchmark=benchmark, **curate_kwargs)
        chunks = chunk_documents(
            curated, chunk_tokens=chunk_tokens, overlap=overlap
        )
        # doc-keyed split AFTER chunking: the coin hashes doc_id, so
        # all chunks of a doc agree — see the leakage note above
        tagged = split_corpus(chunks, fractions)
        ck = "__ck"
        while ck in tagged.columns:
            ck = "_" + ck
        # PERSISTED: keyed feeds both union branches (train + rest) —
        # without the cache the whole post-s2 chain (decontamination
        # semi-join, temperature filter, chunk explode, split coin)
        # executes twice, once per branch (no cross-branch subplan
        # sharing — the _semantic_sk_pairs rule). The handle rides the
        # result with curate's.
        keyed = scope.persist(
            tagged.withColumn(
                ck,
                F.concat_ws(
                    "#", F.col("doc_id").cast("string"), F.col("chunk_idx")
                ),
            )
        )
        train = epoch_shuffle(
            keyed.where(F.col("split") == "train"),
            epoch=3,
            n_shards=n_shards,
            id_col=ck,
        )
        rest = (
            keyed.where(
                (F.col("split") != "train") | F.col("split").isNull()
            )
            .withColumn("shard", F.lit(None).cast("int"))
            .withColumn("pos", F.lit(None).cast("int"))
        )
        out = train.unionByName(rest).select(
            F.col("doc_id"), "chunk_idx", "n_tokens", "split", "shard",
            "pos",
        )
        return scope.hand(out, keyed, *persisted_frames(curated))
