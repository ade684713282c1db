"""Rank fusion for hybrid retrieval.

A corpus-mining / RAG pipeline rarely trusts ONE retriever: the
standard practice is to run a lexical arm (BM25) and a semantic arm
(embedding ANN) per query and fuse the ranked lists. Reciprocal Rank
Fusion (Cormack, Clarke & Buettcher, SIGIR 2009: "Reciprocal rank
fusion outperforms Condorcet and individual rank learning methods")
is the fusion rule every production hybrid-search stack ships:

    rrf_score(d) = sum over rankings r of 1 / (k + rank_r(d))

with ``k`` ~ 60 damping the head. Documents missing from an arm
contribute nothing for that arm — no score normalization across arms
is needed, which is the entire point of fusing on RANKS.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def rrf_fuse(
    rankings: Sequence[DataFrame],
    k: int = 60,
    group_cols: Sequence[str] = ("query_id",),
    topn: int | None = None,
) -> DataFrame:
    """Fuse per-group ranked lists by Reciprocal Rank Fusion.

    Every frame in ``rankings`` carries ``(*group_cols, doc_id,
    score)`` — one row per (group, candidate) with that arm's
    score (each arm's own scale; scales never mix). Ranks are derived
    deterministically PER ARM: ``score`` descending, ``doc_id``
    ascending on ties — the same tie rule the package's top-k
    emitters use, so fusing their output is rank-stable. Returns
    ``(*group_cols, doc_id, rrf_score)``; ``topn`` keeps the best
    ``topn`` per group (rrf_score desc, id asc).

    Float determinism: each arm contributes at most ONE reciprocal
    term per (group, id) — the per-arm aggregate is a sum over a
    single row, exact — and the cross-arm total is added in the FIXED
    arm order, never through a partition-order-dependent float fold
    (the corpus_divergence r10 lesson, applied by construction).

    100 TB shape: per-arm rank windows shuffle each arm ONCE on its
    group key (arms are top-k lists — tiny next to the corpora that
    produced them), the union + one groupBy on (group, id) is
    partial-aggregable, and the optional per-group top-n is a window
    over the already-fused lists. No corpus-sized frame is touched.

    Fixed columns: id ``doc_id``, score ``score``."""
    if not rankings:
        raise ValueError("rankings must be a non-empty sequence of frames")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    gcols = list(group_cols)
    keys = gcols + ["doc_id"]
    tagged: DataFrame | None = None
    for i, r in enumerate(rankings):
        w = Window.partitionBy(*gcols).orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        )
        t = r.select(
            *keys,
            (
                F.lit(1.0)
                / (F.lit(k) + F.row_number().over(w))
            ).alias(f"_rrf_{i}"),
        )
        # per-arm term in its OWN column so the cross-arm add below
        # happens in fixed arm order (order-deterministic by
        # construction); missing (group, id) rows in an arm surface
        # as NULL after the outer aggregation and coalesce to 0
        for j in range(len(rankings)):
            if j != i:
                t = t.withColumn(f"_rrf_{j}", F.lit(None).cast("double"))
        tagged = t if tagged is None else tagged.unionByName(t)
    per = tagged.groupBy(*keys).agg(
        *[
            F.sum(f"_rrf_{i}").alias(f"_rrf_{i}")
            for i in range(len(rankings))
        ]
    )
    score = F.coalesce(F.col("_rrf_0"), F.lit(0.0))
    for i in range(1, len(rankings)):
        score = score + F.coalesce(F.col(f"_rrf_{i}"), F.lit(0.0))
    out = per.select(
        *keys, F.round(score, 6).alias("rrf_score")
    )
    if topn is not None:
        if topn < 1:
            raise ValueError(f"topn must be >= 1, got {topn}")
        wf = Window.partitionBy(*gcols).orderBy(
            F.col("rrf_score").desc(), F.col("doc_id").asc()
        )
        out = (
            out.withColumn("_rn", F.row_number().over(wf))
            .where(F.col("_rn") <= topn)
            .drop("_rn")
        )
    return out


def mmr_rerank(
    df: DataFrame,
    query: DataFrame,
    k: int = 10,
    lambda_: float = 0.5,
    shortlist_n: int = 50,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Maximal Marginal Relevance re-rank (Carbonell & Goldstein,
    SIGIR 1998): pick ``k`` results from a relevance shortlist
    greedily, each step maximizing

        mmr(d) = lambda * rel(d) - (1 - lambda) * max_{s in S} sim(d, s)

    over the not-yet-selected candidates — the standard diversity
    re-rank a RAG stack runs so the k retrieved chunks don't all say
    the same thing. Returns ``(rank, id, rel, mmr)`` with ``rank``
    1..k in selection order.

    Shortlist: by default the exact brute-cosine top-``shortlist_n``
    (round-4 ``rel``, ties id asc — the :func:`..similarity.
    cosine_topk` contract). Pass ``candidates`` — any bounded
    ``(id, sim)`` frame, e.g. an IVF/PQ serve arm's output — to
    diversify an APPROXIMATE shortlist instead; its vectors are
    fetched from ``df`` by a broadcast join (the shortlist is k-ish
    rows; the corpus scan stays pruned to (id, vec)). A candidate id
    with no ``df`` row at all is dropped by that fetch — there is
    nothing to diversify against; one whose ``df`` vector is NULL
    stays, as an incomparable candidate (NULL ``mmr``, ranked
    last).

    Determinism contract (oracle-replayable): rel is round-4 and must
    be a REAL number (NULL/NaN rows are dropped BEFORE the shortlist
    cut — a NaN would top the desc sort and evict real candidates);
    pairwise candidate sims are round-6 HALF_UP cosines (numpy twin
    via :func:`..similarity._round_half_up_np` — the Arrow-kernel
    bridge posture: engines agree except within ~1e-11 of a rounding
    boundary); a pair with a missing/width-mismatched vector or a
    non-finite cosine is NO pair: it contributes nothing to the
    max-sim term (the oracle's ``max`` skips NULLs), and a candidate
    with no comparable pair to the selected set carries NULL ``mmr``
    and ranks last (NULLS-LAST), ties to the lowest id; each step's
    mmr is round-4; every argmax breaks ties on the lowest id;
    rank 1 scores ``round(lambda * rel, 4)`` (the empty-set
    max-sim-0 convention).

    100 TB shape: the ONLY corpus-sized work is the shortlist stage —
    a pruned scan + broadcast-query projection (or the caller's own
    ANN serve path). The greedy loop is O(k * shortlist_n) over a
    driver-collected list BOUNDED by ``shortlist_n`` (validated
    <= 10_000 — the probe-list X6 pattern, never a data collect):
    inherently sequential, trivially small, exactly what a serving
    node computes per request. No iterative Spark jobs are launched
    for it.

    Fixed columns: id ``vec_id``, query vector ``q``, vector
    ``embedding``."""
    from dgraph_dbpedia_spark.operators.similarity import (
        _round_half_up_np,
        cosine,
    )

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not 0.0 <= lambda_ <= 1.0:
        raise ValueError(f"lambda_ must be in [0, 1], got {lambda_}")
    if shortlist_n < k:
        raise ValueError(
            f"shortlist_n ({shortlist_n}) must be >= k ({k})"
        )
    if shortlist_n > 10_000:
        raise ValueError(
            f"shortlist_n ({shortlist_n}) exceeds the bounded-collect "
            "cap (10000) — diversify a served shortlist instead"
        )
    import numpy as np
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    q = query.select(F.col("q").cast("array<double>").alias("q"))
    probe = q.limit(2).collect()
    if len(probe) > 1:
        raise ValueError(
            "mmr_rerank expects exactly one query vector, got a "
            "multi-row query frame"
        )
    id_type = df.schema["vec_id"].dataType
    ret = StructType(
        [
            StructField("rank", IntegerType()),
            StructField("vec_id", id_type),
            StructField("rel", DoubleType()),
            StructField("mmr", DoubleType()),
        ]
    )
    spark = df.sparkSession
    if not probe:
        return spark.createDataFrame([], ret)
    if candidates is None:
        short = (
            df.select(
                F.col("vec_id"),
                F.col("embedding").cast("array<double>").alias("e"),
            )
            .crossJoin(F.broadcast(q))
            .select(
                F.col("vec_id"),
                "e",
                F.round(cosine("e", "q"), 4).alias("rel"),
            )
            # a candidate without a real score isn't a candidate
            # (NULL / NaN cosines from degenerate vectors) — dropped
            # BEFORE the limit, or NaN rows (which sort above every
            # real score under desc) would silently evict real
            # candidates from the shortlist (r12 review; the 41cbf67
            # NaN-tops-the-k class)
            .where(F.col("rel").isNotNull() & ~F.isnan("rel"))
            .orderBy(F.col("rel").desc(), F.col("vec_id"))
            .limit(shortlist_n)
        )
    else:
        cand = (
            candidates.select(F.col("vec_id"), F.col("sim").alias("rel"))
            .where(
                F.col("rel").isNotNull()
                & ~F.isnan(F.col("rel").cast("double"))
            )
            .orderBy(F.col("rel").desc(), F.col("vec_id"))
            .limit(shortlist_n)
        )
        short = df.join(F.broadcast(cand), "vec_id").select(
            F.col("vec_id"),
            F.col("embedding").cast("array<double>").alias("e"),
            "rel",
        )
    import math

    # a non-finite rel (NaN cosine from a degenerate vector) is not a
    # candidate — it cannot be ranked; dropped on the driver so the
    # vectorized argmax below never sees it
    rows = sorted(
        (r for r in short.collect() if math.isfinite(r["rel"])),
        key=lambda r: (-r["rel"], r["vec_id"]),
    )
    if not rows:
        return spark.createDataFrame([], ret)
    ids = [r["vec_id"] for r in rows]
    rel = np.asarray([float(r["rel"]) for r in rows])
    n = len(ids)
    # per-width vector groups (the pair_cosine_arrow ragged rule: a
    # pair scores only when both vectors exist with matching width;
    # anything else is NO pair, not a sentinel) so each pick's
    # max-sim update is ONE matvec per width group instead of n
    # python-level dots — at the 10k shortlist cap the difference
    # between milliseconds and a k * n interpreted loop
    widths = np.fromiter(
        (len(r["e"]) if r["e"] is not None else -1 for r in rows),
        dtype=np.int64,
        count=n,
    )
    groups: dict[int, tuple] = {}
    for w in set(widths.tolist()):
        if w < 0:
            continue
        idx = np.nonzero(widths == w)[0]
        M = np.asarray(
            [list(rows[i]["e"]) for i in idx], dtype=np.float64
        )
        nr = np.sqrt((M * M).sum(axis=1))
        groups[w] = (idx, M, nr, {int(i): p for p, i in enumerate(idx)})

    lam = float(lambda_)
    # NaN = "no comparable pair to any selected yet": a pair scores
    # only when both vectors exist with matching width and the cosine
    # is finite — an UNKNOWN similarity contributes NOTHING to the
    # max, exactly like the oracle's max(p.s) skipping NULL pairs. A
    # row with no comparable pair at all carries NULL mmr and ranks
    # LAST (the oracle's NULLS-LAST), ties to the lowest id — never a
    # -2.0 sentinel in the subtract position, which would act as a
    # diversity BONUS and hand rank 2 to junk rows (r12 review)
    maxsim = np.full(n, np.nan)
    first = True
    out = []
    chosen = np.zeros(n, dtype=bool)
    for rank in range(1, min(k, n) + 1):
        div = np.zeros(n) if first else maxsim
        # HALF_UP like F.round / DuckDB round (python round() is
        # half-even), -0.0 folded — the house bridge
        scores = _round_half_up_np(lam * rel - (1.0 - lam) * div, 4)
        open_scores = scores[~chosen]
        finite = np.isfinite(open_scores)
        if finite.any():
            m = open_scores[finite].max()
            # argmax ties fall to the LOWEST id (the oracle's ORDER
            # BY mmr DESC, id ASC LIMIT 1) — not to shortlist order,
            # which is rel-sorted and may put a higher id first
            tied = np.nonzero((scores == m) & ~chosen)[0]
            best_i = int(min(tied, key=lambda i: ids[i]))
            mmr_out = float(m)
        else:
            tied = np.nonzero(~chosen)[0]
            best_i = int(min(tied, key=lambda i: ids[i]))
            mmr_out = None
        chosen[best_i] = True
        first = False
        out.append((rank, ids[best_i], float(rel[best_i]), mmr_out))
        wb = int(widths[best_i])
        if wb >= 0:
            idx, M, nr, pos = groups[wb]
            vb = M[pos[best_i]]
            nb = nr[pos[best_i]]
            with np.errstate(divide="ignore", invalid="ignore"):
                s = (M @ vb) / (nr * nb)
            s = np.where(
                np.isfinite(s), _round_half_up_np(s, 6), np.nan
            )
            # fmax: real sims override NaN "no pair yet"; NaN
            # operands never erase a real max
            maxsim[idx] = np.fmax(maxsim[idx], s)
    return spark.createDataFrame(out, ret)


def rank_overlap(reference: DataFrame, candidate: DataFrame, k: int = 10) -> DataFrame:
    """Per-group recall@k of a candidate ranking against a reference
    ranking — the evaluation loop every approximate-retrieval
    deployment runs (FAISS-style recall audits: exact arm as truth,
    served ANN arm under test). Both inputs carry ``(query_id,
    doc_id, score)``; each is independently cut to its top-``k``
    per group by the package's deterministic rank rule (score desc,
    id asc — the same order every top-k emitter here uses, so feeding
    an arm's output back in is rank-stable). Returns ``(query_id,
    n_ref, n_common, recall)`` with ``recall = round(n_common /
    n_ref, 4)``.

    The REFERENCE is the spine: groups it lacks don't appear (no
    truth, no recall); a group the candidate lacks reports recall 0.
    ``n_ref`` can be < k when the reference list is short — recall
    divides by what truth there IS, not by k.

    100 TB shape: inputs are top-k lists (tiny by construction — the
    corpora that produced them never enter); two per-group rank
    windows, ONE (group, id) equi-join, one partial-aggregable
    count pair. Safe to run over millions of query groups.

    Fixed columns: id ``doc_id``, score ``score``, group ``query_id``."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    gcols = ["query_id"]
    keys = gcols + ["doc_id"]

    def topk(df: DataFrame) -> DataFrame:
        # rank over DISTINCT ids at their best score: a doc retrieved
        # twice by an arm is one retrieval, and letting row_number
        # treat the duplicate as a distinct row would fan out the
        # overlap join (recall > 1.0); NaN scores cannot claim rank
        # slots (the 41cbf67 NaN-tops-the-k class — NaN sorts above
        # every real score under desc)
        w = Window.partitionBy(*gcols).orderBy(
            F.col("_s").desc(), F.col("doc_id").asc()
        )
        return (
            df.where(
                F.col("score").isNotNull()
                & ~F.isnan(F.col("score").cast("double"))
            )
            .groupBy(*keys)
            .agg(F.max("score").alias("_s"))
            .select(*keys, F.row_number().over(w).alias("_rn"))
            .where(F.col("_rn") <= k)
            .drop("_rn")
        )

    r = topk(reference)
    c = topk(candidate).withColumn("_hit", F.lit(1))
    return (
        r.join(c, keys, "left")
        .groupBy(*gcols)
        .agg(
            F.count(F.lit(1)).alias("n_ref"),
            F.count("_hit").alias("n_common"),
        )
        .select(
            *gcols,
            "n_ref",
            "n_common",
            F.round(
                F.col("n_common") / F.col("n_ref"), 4
            ).alias("recall"),
        )
    )
