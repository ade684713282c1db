"""Similarity search over embedding columns (``array<float>``).

Extension surface (SURVEY §7.8). Two paths:

- ``cosine_topk``  — brute-force exact top-k against a query vector.
  Correctness baseline; per-row native arithmetic (zip_with/aggregate),
  a broadcast of the query, and a top-k. At scale this is a single scan:
  fine whenever k << n and the scan is the cost floor anyway.
- ``lsh_bucketed_topk`` — random-hyperplane LSH: sign-bit sketch per
  vector -> candidates share a bucket -> exact re-rank inside buckets.
  The scale path: the equi-join on buckets replaces the full scan per
  query with a bucket lookup; probing nearby buckets (multi-probe)
  trades recall for cost.
- ``cosine_near_dup_pairs`` — all-pairs variant for embedding near-dup
  detection, LSH-bucketed so the join is sparse.

Hyperplanes are deterministic pseudo-random unit-free vectors derived
from the cross-engine hash (functions/hashing.py) — no RNG state, same
result every run and every engine.
"""

from __future__ import annotations

import math
from functools import lru_cache

import pandas as pd  # module-level: pandas_udf type hints must resolve
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dgraph_dbpedia_spark.functions.hashing import hash64
from dgraph_dbpedia_spark.operators.cachectl import CacheScope


def _dot(a: Column | str, b: Column | str) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a: Column | str) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column | str, b: Column | str) -> Column:
    # try_divide: a zero-norm vector (padding/missing embedding) yields
    # NULL (ranked last under desc) instead of DIVIDE_BY_ZERO under
    # Spark's default ANSI mode — a single zero vector in a 100 TB
    # corpus must not kill the job
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


def _one_query(frame: DataFrame, caller: str):
    """The ONE query contract of the single-query operators: read the
    projection ``frame`` (its first column the query vector) in one
    bounded job. Two rows are enough to tell 'one' from 'many', so a
    corpus frame passed as the query never reaches the driver. A
    multi-row frame raises (mixing every query into one unlabeled
    top-k would be silent); an empty frame returns ``None`` (the caller
    answers with :func:`_empty_topk`); a NULL or zero-length vector or a
    NULL or non-finite component raises. Returns the row otherwise."""
    rows = frame.limit(2).collect()
    if len(rows) > 1:
        raise ValueError(
            f"{caller} expects exactly one query vector, got a multi-row "
            "query frame — issue one call per query, or the batch (_many) "
            "variant"
        )
    if not rows:
        return None
    vec = rows[0][0]
    if vec is None:
        got = "a NULL query vector"
    elif len(vec) == 0:
        got = "a zero-length query vector"
    elif not all(x is not None and math.isfinite(x) for x in vec):
        got = "a query vector with a NULL or non-finite component"
    else:
        return rows[0]
    raise ValueError(f"{caller} expects one finite query vector, got {got}")


def _empty_topk(df: DataFrame) -> DataFrame:
    """The typed empty ``(vec_id, sim)`` answer of a single-query
    operator whose query frame is empty or probes nothing."""
    return df.where(F.lit(False)).select(
        F.col("vec_id"), F.lit(None).cast("double").alias("sim")
    )


def cosine_topk(df: DataFrame, query: DataFrame, k: int = 10) -> DataFrame:
    """Exact top-k by cosine against a 1-row query frame (broadcast).
    Deterministic tie-break on id. Returns ``(vec_id, sim)``. The query
    frame follows :func:`_one_query`'s contract.

    Fixed columns: id ``vec_id``, query vector ``q``, vector
    ``embedding``."""
    if _one_query(query.select("q"), "cosine_topk") is None:
        return _empty_topk(df)
    return _cosine_topk(df, query, k, "embedding")


def _cosine_topk(df: DataFrame, query: DataFrame, k: int, vec_col: str) -> DataFrame:
    """:func:`cosine_topk`'s scoring plan over a query its caller has
    already resolved (no read of its own)."""
    cand = df.select(F.col("vec_id"), F.col(vec_col).cast("array<double>").alias("e"))
    q = query.select(F.col("q").cast("array<double>").alias("q"))
    scored = cand.crossJoin(F.broadcast(q)).select(
        F.col("vec_id"), F.round(cosine("e", "q"), 4).alias("sim")
    )
    return scored.orderBy(F.col("sim").desc(), F.col("vec_id")).limit(k)


def plane_values(n_planes: int, dims: int) -> list[float]:
    """Deterministic pseudo-random hyperplane coefficients in [-1, 1),
    flattened row-major (plane p occupies [p*dims, (p+1)*dims)). Derived
    from the cross-engine md5 hash of ``"p:d"`` so oracles can recompute
    them bit-identically."""
    from dgraph_dbpedia_spark.functions.hashing import hash64_py

    scale = float(1 << 59)
    return [
        hash64_py(f"{p}:{d}") / scale - 1.0
        for p in range(n_planes)
        for d in range(dims)
    ]


@lru_cache(maxsize=32)
def _plane_sql(n_planes: int, dims: int) -> str:
    """The flattened plane array as ONE SQL array-literal STRING.
    ``F.lit(<python list>)`` converts element-by-element over py4j —
    measured 0.84s of driver time for 8x64 planes, per call site; the
    SQL string parses JVM-side in ~5ms. The cache holds the string, not
    the Column: a cached Column wraps a py4j handle tied to whichever
    JVM gateway was alive at first call, which goes stale if the
    session is stopped and rebuilt within the process."""
    vals = plane_values(n_planes, dims)
    return "array(" + ",".join(repr(v) + "D" for v in vals) + ")"


def _plane_literal(n_planes: int, dims: int) -> Column:
    return F.expr(_plane_sql(n_planes, dims))


def hyperplane_signs_arrow(n_planes: int, dims: int):
    """Vectorized production twin of :func:`hyperplane_signs`: the
    projection matrix product runs as numpy inside an Arrow-batched
    pandas UDF (``(batch x dims) @ (dims x n_planes)``) instead of
    interpreted nested higher-order aggregates, ~10-100x the
    interpreter throughput.

    Bit-compatibility: numpy's dot may re-associate the float sum vs the
    native sequential fold; a sign flip needs a projection within ~1e-13
    of zero, which for the md5-derived planes has negligible probability
    (pinned equality asserted in tests/test_similarity.py against the
    native :func:`hyperplane_signs`, kept as its reference fold).

    Returns a ``Column``-producing callable: ``hyperplane_signs_arrow(
    8, 64)(F.col("e"))``."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    planes_t = (
        np.asarray(plane_values(n_planes, dims), dtype=np.float64)
        .reshape(n_planes, dims)
        .T.copy()
    )
    weights = (np.int64(1) << np.arange(n_planes, dtype=np.int64))

    def sketch_batch(emb: pd.Series) -> pd.Series:
        import numpy as np  # noqa: F811 — resolve inside the worker

        mat = np.asarray(emb.tolist(), dtype=np.float64)
        if mat.size == 0:
            return pd.Series([], dtype="int64")
        bits = (mat @ planes_t) > 0
        return pd.Series((bits @ weights).astype(np.int64))

    return pandas_udf(sketch_batch, LongType())


def hyperplane_signs(vec: Column, n_planes: int, dims: int) -> Column:
    """Sign-bit sketch: bit p = 1 iff ``vec . h_p > 0``. Returns an int64
    bucket id (n_planes bits).

    The planes ship as ONE flattened array literal and the double loop
    runs inside two nested higher-order aggregates — constant-size
    expression tree, so codegen stays small no matter how many planes/
    dims (the naive unrolled form is n_planes*dims literal nodes and
    minutes of codegen at 8x64)."""
    flat = _plane_literal(n_planes, dims)

    def proj(p: Column) -> Column:
        return F.aggregate(
            F.sequence(F.lit(0), F.lit(dims - 1)),
            F.lit(0.0),
            lambda acc, d: acc
            + F.element_at(vec, d + 1) * F.element_at(flat, p * dims + d + 1),
        )

    return F.aggregate(
        F.sequence(F.lit(0), F.lit(n_planes - 1)),
        F.lit(0).cast("long"),
        lambda acc, p: acc
        + F.when(proj(p) > 0, F.pow(F.lit(2.0), p).cast("long")).otherwise(
            F.lit(0).cast("long")
        ),
    )


def probe_buckets(
    q_vec: list[float], n_planes: int, dims: int, n_probes: int
) -> list[int]:
    """Query-directed multi-probe sequence (Lv et al., VLDB'07): the
    query's own bucket first, then buckets reached by flipping sign
    bits in increasing order of total |projection margin| — a bit whose
    hyperplane projection is nearly zero is the bit a true neighbor
    most likely differs in, so those buckets are probed first.

    Subsets are enumerated best-first with the classic heap successor
    scheme (shift-last / extend-last over margin-sorted bit indices),
    so cost is O(n_probes log n_probes) regardless of 2^n_planes.
    Driver-side numpy on ONE bounded query vector — no distributed
    work."""
    import heapq

    import numpy as np

    planes = np.asarray(plane_values(n_planes, dims), dtype=np.float64)
    proj = planes.reshape(n_planes, dims) @ np.asarray(q_vec, dtype=np.float64)
    base = int(((proj > 0).astype(np.int64) << np.arange(n_planes)).sum())
    margins = np.abs(proj)
    order = np.argsort(margins, kind="stable")
    m = margins[order]

    out = [base]
    if n_probes <= 1 or n_planes == 0:
        return out[:n_probes] or [base]
    heap: list[tuple[float, tuple[int, ...]]] = [(float(m[0]), (0,))]
    seen: set[tuple[int, ...]] = set()
    while heap and len(out) < n_probes:
        cost, subset = heapq.heappop(heap)
        if subset in seen:
            continue
        seen.add(subset)
        b = base
        for i in subset:
            b ^= 1 << int(order[i])
        out.append(b)
        last = subset[-1]
        if last + 1 < n_planes:
            shifted = subset[:-1] + (last + 1,)
            heapq.heappush(
                heap, (cost - float(m[last]) + float(m[last + 1]), shifted)
            )
            heapq.heappush(heap, (cost + float(m[last + 1]), subset + (last + 1,)))
    return out


def lsh_bucketed_topk(
    df: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    dims: int = 64,
    n_probes: int = 1,
) -> DataFrame:
    """ANN: restrict the exact re-rank to vectors sharing the query's
    LSH bucket(s). Recall < 1 by construction; raise ``n_probes``
    (query-directed multi-probe) or lower ``n_planes``
    for recall, the reverse for cost. Measured on planted-neighbor data
    (clustered vectors, the regime where ANN is meaningful — the
    driver's synthetic embeddings are isotropic random, where NO
    sublinear index can beat the scan fraction): n_planes=8,
    n_probes=16 recovers >= 0.9 of the exact cosine top-10 while
    scanning ~7% of the corpus
    (tests/test_similarity.py::test_lsh_multiprobe_recall).

    The corpus-side sketch runs as the vectorized numpy kernel
    (:func:`hyperplane_signs_arrow`) and the (bounded, 1-row) query
    vector resolves driver-side: its probe sequence becomes a literal
    FILTER on the corpus sketch — no join, no second Python stage — and
    the query vector a literal array in the native scoring expression
    (repr round-trips doubles, so the sequential per-element float fold
    is unchanged). The query frame follows :func:`_one_query`'s
    contract.

    Fixed columns: id ``vec_id``, query vector ``q``, vector
    ``embedding``."""
    cand = df.select(
        F.col("vec_id"),
        F.col("embedding").cast("array<double>").alias("e"),
        hyperplane_signs_arrow(n_planes, dims)(
            F.col("embedding").cast("array<double>")
        ).alias("bucket"),
    )
    row = _one_query(query.select("q"), "lsh_bucketed_topk")
    if row is None:
        return _empty_topk(df)
    q_vec = [float(x) for x in row[0]]
    buckets = probe_buckets(q_vec, n_planes, dims, n_probes)
    q_lit = F.expr("array(" + ",".join(repr(v) + "D" for v in q_vec) + ")")
    scored = cand.where(F.col("bucket").isin(buckets)).select(
        F.col("vec_id"), F.round(cosine(F.col("e"), q_lit), 4).alias("sim")
    )
    return scored.orderBy(F.col("sim").desc(), F.col("vec_id")).limit(k)


def lsh_bucketed_topk_many(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    dims: int = 64,
) -> DataFrame:
    """Batch-query ANN: N query vectors against the corpus in ONE plan —
    an adapter over :func:`ann_join`'s core (ONE definition of the
    sketch / bucket equi-join / per-query window top-k plan; this
    wrapper only maps the (qid, q) column shape). Returns
    ``(qid, id, sim)`` with <= k rows per query; zero-norm vectors
    score NULL and are dropped by the core before ranking.

    The common training-pipeline shape (N queries x corpus) that the
    single-query :func:`lsh_bucketed_topk` can't express. Scale shape:
    shuffle is bounded by bucket-collision pairs, never |q| x |corpus|;
    the query sketch is broadcast (queries fit on one executor), so the
    only shuffle is the final window's partition-by-qid, sized
    |candidates|.

    Fixed columns: id ``vec_id``, query id ``qid``, query vector ``q``,
    vector ``embedding``."""
    a = queries.select(
        F.col("qid").alias("__vid"), F.col("q").alias("__v")
    )
    b = df.select(F.col("vec_id").alias("__vid"), F.col("embedding").alias("__v"))
    out = ann_join(
        a,
        b,
        k=k,
        id_col="__vid",
        vec_col="__v",
        n_planes=n_planes,
        dims=dims,
        broadcast_a=True,
    )
    return out.select(
        F.col("a").alias("qid"), F.col("b").alias("vec_id"), "sim"
    )


def _centroid_row(centroids: DataFrame) -> DataFrame:
    """Fold a bounded ``(cid, c)`` centroid frame into ONE row holding
    an array-of-structs column ``_cent`` = ``[(cid, c, nc)]``, with the
    norm precomputed by the same sequential ``aggregate`` fold as
    :func:`_norm` (bit-equal csim downstream). Broadcasting this single
    row is how the assignment stays shuffle-free without shipping the
    centroids as a giant SQL literal (the previous approach: a
    ~1000-double expression tree that was slow to plan and trips a
    Spark 4.1 binding bug — INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND — when
    the left-semi probe join reuses it after other queries ran in the
    session)."""
    return centroids.agg(
        F.collect_list(
            F.struct(F.col("cid"), F.col("c"), _norm("c").alias("nc"))
        ).alias("_cent")
    )


def _round_half_up_np(x, decimals: int):
    """numpy twin of Spark's ``F.round`` (BigDecimal HALF_UP, away from
    zero on ties): ``floor(|x| * 10^d + 0.5) / 10^d`` re-signed. IEEE
    division of an exact integer by ``10^d`` is correctly rounded, so
    the result is the same double BigDecimal produces for the same
    decimal; ``+ 0.0`` folds IEEE negative zero to +0.0 (F.round never
    emits -0.0). Divergence from the JVM fold needs the true value
    within ~1e-11 of a tie boundary — the same negligible-probability
    regime :func:`hyperplane_signs_arrow` documents."""
    import numpy as np

    scale = float(10**decimals)
    return (
        np.floor(np.abs(x) * scale + 0.5) / scale * np.where(x < 0, -1.0, 1.0)
        + 0.0
    )


#: row cap of every driver read of a centroid or codebook frame — far
#: above any real n_centroids or m * k_sub, tiny against a corpus
CENTROID_ROW_CAP = 1 << 20


def _capped_collect(frame: DataFrame, what: str) -> list:
    """THE bounded driver read (the X6 pattern) of a centroid or
    codebook frame: ``limit(cap + 1)`` before the collect, so a corpus
    frame passed by mistake raises instead of OOMing the driver. Every
    IVF, PQ and RQ reader goes through here."""
    rows = frame.limit(CENTROID_ROW_CAP + 1).collect()
    if len(rows) > CENTROID_ROW_CAP:
        raise ValueError(
            f"{what} frame exceeds {CENTROID_ROW_CAP} rows — expected a "
            "bounded centroid/codebook frame (was a corpus frame passed "
            "by mistake?)"
        )
    return rows


def _collect_centroids(centroids: DataFrame):
    """Bounded driver read (:func:`_capped_collect`) of a ``(cid, c)``
    centroid frame for the Arrow assignment lane: ``(cids, matrix,
    cid_type)`` sorted by cid ascending — the order that makes
    ``np.argmax``'s first-max tie-break equal ``_nearest_sorted``'s
    (sim desc, cid asc)."""
    cast = centroids.select(
        "cid", F.col("c").cast("array<double>").alias("c")
    )
    rows = sorted(_capped_collect(cast, "centroids"), key=lambda r: r["cid"])
    cids = [r["cid"] for r in rows]
    cmat = [list(r["c"]) for r in rows]
    return cids, cmat, cast.schema["cid"].dataType


def nearest_centroid_arrow(cids, cmat, cid_type):
    """Vectorized production twin of :func:`_nearest_sorted`'s best
    pick: one ``(batch x dims) @ (dims x k)`` numpy product per Arrow
    batch instead of the interpreted n x k higher-order fold — the
    measured dominant cost of the semantic-dedup / IVF family
    (BENCH_SCALE.md r9 k-dial table). Same pattern and bit-equality
    contract as :func:`hyperplane_signs_arrow`; its native reference
    is :func:`_ivf_assign_native`.

    Returns a pandas UDF ``vec -> struct(cid, nv, sim)`` where ``cid``
    is the nearest centroid (round-6 HALF_UP cosine
    desc, cid asc — ties resolved by the cid-ascending centroid order
    from :func:`_collect_centroids`), ``nv`` the row's vector norm and
    ``sim`` the winning rounded cosine. Contract matches the native
    path exactly: zero-norm vectors score -2.0 against every centroid
    (so they take the lowest cid); a NULL vector keeps NULL norm, the
    lowest cid and sim -2.0; an empty centroid set yields NULL
    cid/sim."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType, StructField, StructType

    ret = StructType(
        [
            StructField("cid", cid_type),
            StructField("nv", DoubleType()),
            StructField("sim", DoubleType()),
        ]
    )
    k = len(cids)
    # hoisted to closure creation: C, its norms and dims ship in the
    # UDF closure once instead of being rebuilt per Arrow batch (a
    # per-batch k x d list conversion + norm pass on the exact kernel
    # this lane exists to speed up)
    C = (
        np.asarray([list(map(float, c)) for c in cmat], dtype=np.float64)
        if k
        else None
    )
    nc = np.sqrt((C * C).sum(axis=1)) if k else None
    dims = int(C.shape[1]) if k else 0

    def assign_batch(emb: pd.Series) -> pd.DataFrame:
        import numpy as np  # noqa: F811 — resolve inside the worker

        n = len(emb)
        if n == 0 or k == 0:
            vals = emb.tolist()
            nv = pd.array(
                [
                    None
                    if v is None
                    else float(np.sqrt(np.dot(v, v)))
                    for v in vals
                ],
                dtype="Float64",
            )
            return pd.DataFrame(
                {
                    "cid": pd.Series([None] * n, dtype=object),
                    "nv": pd.Series(nv),
                    "sim": pd.Series([None] * n, dtype=object),
                }
            )
        vals = emb.tolist()
        null_mask = np.fromiter(
            (v is None for v in vals), dtype=bool, count=n
        )
        # dimension-mismatched (incl. empty) vectors: the native
        # zip_with pads with NULL -> every centroid sim coalesces to
        # -2.0 -> lowest cid, while the norm stays the vector's TRUE
        # norm. Substituting a zero vector reproduces the -2.0/lowest-
        # cid outcome (all sims NaN -> -2.0, argmax -> index 0); the
        # true norm is restored below. Without this, one ragged row
        # aborts the whole job via np.asarray's inhomogeneous-shape
        # error — a data-dependent crash the native lane never had.
        bad_mask = np.fromiter(
            (v is not None and len(v) != dims for v in vals),
            dtype=bool,
            count=n,
        )
        if null_mask.any() or bad_mask.any():
            zero = [0.0] * dims
            clean = [
                zero if (v is None or len(v) != dims) else v for v in vals
            ]
        else:
            clean = vals
        mat = np.asarray(clean, dtype=np.float64)
        nv = np.sqrt((mat * mat).sum(axis=1))
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = (mat @ C.T) / (nv[:, None] * nc[None, :])
        sims = np.where(
            np.isfinite(sims), _round_half_up_np(sims, 6), -2.0
        )
        best = np.argmax(sims, axis=1)
        if bad_mask.any():
            for i in np.nonzero(bad_mask)[0]:
                v = np.asarray(vals[i], dtype=np.float64)
                nv[i] = float(np.sqrt((v * v).sum())) if v.size else 0.0
        nv_out = pd.array(nv, dtype="Float64")
        nv_out[null_mask] = pd.NA
        return pd.DataFrame(
            {
                "cid": pd.Series([cids[i] for i in best]),
                "nv": pd.Series(nv_out),
                "sim": pd.Series(sims[np.arange(n), best]),
            }
        )

    return pandas_udf(assign_batch, ret)


def pair_cosine_arrow(round_decimals: int = 6, normalized: bool = False):
    """Vectorized twin of the per-PAIR cosine projection
    ``round(try_divide(dot(ea, eb), na * nb), d)`` — the scoring that
    runs on every candidate pair inside the bucketed/cid self-joins
    (:func:`semantic_dedup_pairs`, :func:`cosine_near_dup_pairs`). One
    ``einsum`` per Arrow batch instead of an interpreted O(dims) fold
    per pair; with pair counts ~n^2/k this is the dominant cost of the
    pair stage at low k (BENCH_SCALE.md r10). Same bit-equality
    contract as :func:`nearest_centroid_arrow` (HALF_UP rounding via
    :func:`_round_half_up_np`; native reference
    :func:`_pair_cosine_native`). NULL contract matches ``try_divide`` + null-propagation:
    a NULL vector or zero/NULL norm product yields NULL (which every
    caller's ``sim >= threshold`` filter drops), never NaN.

    ``normalized=True`` is the :func:`normalize_embeddings` fast path:
    over unit vectors cosine degenerates to the plain dot, so the UDF
    takes only ``(ea, eb)`` and skips the denominator entirely (no
    norm columns shipped through the pair shuffle, no divide per
    pair) — the caller owns the unit-norm precondition.

    Returns a pandas UDF ``(ea, eb, na, nb) -> sim`` (or
    ``(ea, eb) -> sim`` when ``normalized``)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    def score_core(
        ea: pd.Series,
        eb: pd.Series,
        na: pd.Series | None,
        nb: pd.Series | None,
    ) -> pd.Series:
        import numpy as np  # noqa: F811 — resolve inside the worker

        n = len(ea)
        if n == 0:
            return pd.Series([], dtype="float64")
        va, vb = ea.tolist(), eb.tolist()
        null_mask = np.fromiter(
            (a is None or b is None for a, b in zip(va, vb)),
            dtype=bool,
            count=n,
        )
        if null_mask.all():
            return pd.Series(pd.array([pd.NA] * n, dtype="Float64"))
        # pair-shape contract, matching the native zip_with fold
        # row-for-row: a pair whose two sides have EQUAL length is
        # scoreable whatever that length is (a batch can mix widths —
        # MRL-truncated next to full vectors — and the native lane
        # scores each pair by its own width); only a pair whose sides
        # DISAGREE is NULL (zip_with NULL-pads the shorter side ->
        # dot NULL -> try_divide NULL -> threshold drop). np.asarray
        # would abort the whole job on a ragged batch (inhomogeneous-
        # shape ValueError — the data-dependent-crash class
        # nearest_centroid_arrow guards), so the einsum runs per
        # width group instead of once.
        bad_mask = np.fromiter(
            (
                a is not None and b is not None and len(a) != len(b)
                for a, b in zip(va, vb)
            ),
            dtype=bool,
            count=n,
        )
        scoreable = ~(null_mask | bad_mask)
        sims = np.full(n, np.nan, dtype=np.float64)
        widths: dict[int, list[int]] = {}
        for i in np.nonzero(scoreable)[0]:
            widths.setdefault(len(va[i]), []).append(int(i))
        for w, idx in widths.items():
            A = np.asarray([va[i] for i in idx], dtype=np.float64)
            B = np.asarray([vb[i] for i in idx], dtype=np.float64)
            if w == 0:
                # empty pair: sequential fold over an empty zip is the
                # init 0.0 on the native lane
                sims[idx] = 0.0
            else:
                sims[idx] = np.einsum("ij,ij->i", A, B)
        if na is not None:
            denom = na.to_numpy(
                dtype=np.float64, na_value=np.nan
            ) * nb.to_numpy(dtype=np.float64, na_value=np.nan)
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = sims / denom
        out = pd.array(
            _round_half_up_np(sims, round_decimals), dtype="Float64"
        )
        out[~np.isfinite(sims) | null_mask | bad_mask] = pd.NA
        return pd.Series(out)

    if normalized:

        def score_dot(ea: pd.Series, eb: pd.Series) -> pd.Series:
            return score_core(ea, eb, None, None)

        return pandas_udf(score_dot, DoubleType())

    def score(
        ea: pd.Series, eb: pd.Series, na: pd.Series, nb: pd.Series
    ) -> pd.Series:
        return score_core(ea, eb, na, nb)

    return pandas_udf(score, DoubleType())


def _pair_cosine_native(ea: str, eb: str, na: str | None, nb: str | None) -> Column:
    """Native reference of :func:`pair_cosine_arrow` over column names:
    ``round(try_divide(dot(ea, eb), na * nb), d)``, or ``round(dot(ea,
    eb), d)`` when ``na``/``nb`` are None (the ``normalized`` form)."""
    if na is None:
        return F.round(_dot(ea, eb), 6)
    return F.round(
        F.try_divide(_dot(ea, eb), F.col(na) * F.col(nb)), 6
    )


def _nearest_sorted(vec: Column, nv: Column) -> Column:
    """``_cent`` scored against ``vec``: array of ``(negsim, cid)``
    structs sorted ascending, i.e. best centroid first (sim desc, cid
    asc — any orderable cid type, no negation of the id needed). NULL
    csim (zero-norm vector) is coalesced to -2.0, below any cosine, so
    degenerate vectors rank last exactly like the oracle's NULLS LAST.
    """
    return F.array_sort(
        F.transform(
            F.col("_cent"),
            lambda c: F.struct(
                (
                    -F.coalesce(
                        F.round(F.try_divide(_dot(vec, c["c"]), nv * c["nc"]), 6),
                        F.lit(-2.0),
                    )
                ).alias("negsim"),
                c["cid"].alias("cid"),
            ),
        )
    )


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "e",
    norm_col: str | None = None,
    sim_col: str | None = None,
) -> DataFrame:
    """Assign every vector to its nearest centroid by cosine (the IVF
    inverted lists). Deterministic tie-break: round(sim, 6) desc, then
    centroid id asc. Returns ``(id, vec, cid)`` — plus the per-row
    vector norm as ``norm_col`` and the winning rounded cosine as
    ``sim_col`` when requested; an empty centroid frame yields NULL
    cids (never a crash — a data-dependent raise is unacceptable
    mid-job at scale).

    SHUFFLE-FREE over the corpus — a single projection between scan
    and output, no Exchange of ``df``: the bounded centroid frame is
    collected driver-side (an X6 bounded read, n_centroids rows) and
    the n x k scoring runs as one numpy matrix product per Arrow batch
    (:func:`nearest_centroid_arrow`) — the interpreted higher-order
    fold was the measured dominant cost of the semantic/IVF family
    (BENCH_SCALE.md r9). Pinned equal to the native reference
    (:func:`_ivf_assign_native`) on real data by pytest;
    boundary-tolerance caveat in :func:`_round_half_up_np`."""
    cids, cmat, cid_type = _collect_centroids(centroids)
    st = nearest_centroid_arrow(cids, cmat, cid_type)(
        F.col(vec_col).cast("array<double>")
    )
    sel = [F.col(id_col), F.col(vec_col), F.col("_a")["cid"].alias("cid")]
    if norm_col is not None:
        sel.append(F.col("_a")["nv"].alias(norm_col))
    if sim_col is not None:
        sel.append(F.col("_a")["sim"].alias(sim_col))
    return df.withColumn("_a", st).select(*sel)


def _ivf_assign_native(
    df: DataFrame,
    centroids: DataFrame,
    norm_col: str | None = None,
    sim_col: str | None = None,
) -> DataFrame:
    """Native reference of :func:`ivf_assign` (same contract), kept so
    tests can pin :func:`nearest_centroid_arrow` against it: the
    centroid set folds to one array-of-structs row
    (:func:`_centroid_row`), broadcast, and the nearest centroid is
    ``array_sort(transform(...))[0]``.

    Fixed columns: id ``vec_id``, vector ``e``."""
    v = F.col("_v")
    nv = F.col("_nv")
    # F.get (0-based) yields NULL on an empty array; element_at(arr, 1)
    # raises INVALID_ARRAY_INDEX_IN_ELEMENT_AT under Spark 4's default
    # ANSI mode, which would be a mid-job crash on an empty centroid set
    best = F.get(_nearest_sorted(v, nv), 0)
    # norm_col: expose the per-row norm the assignment already computed
    # (it sits below the broadcast join, so this is an attribute
    # reference, not a re-evaluated fold) — callers that need norms
    # downstream (semantic_dedup_pairs) would otherwise pay a second
    # O(dims) aggregate per row
    sel = [F.col("vec_id"), F.col("e"), best["cid"].alias("cid")]
    if norm_col is not None:
        sel.append(nv.alias(norm_col))
    if sim_col is not None:
        # negsim stores the negated rounded cosine; un-negate (+ 0.0
        # folds the -0.0 a negated zero cosine would leave)
        sel.append((-best["negsim"] + F.lit(0.0)).alias(sim_col))
    return (
        df.withColumn("_v", F.col("e"))
        .withColumn("_nv", _norm("_v"))
        .crossJoin(F.broadcast(_centroid_row(centroids)))
        .select(*sel)
    )


def ivf_list_skew_report(assigned: DataFrame) -> DataFrame:
    """Inverted-list skew audit (r15): per-list occupancy of an IVF
    (or any bucketed) assignment — the partition-balance check a
    100 TB serving rollout reads BEFORE the skew shows up as one
    straggler executor per probe. A probe's cost is the size of the
    lists it touches: a ``load_factor`` of 4 means queries landing in
    that list pay 4x the balanced cost (and at ingest, that list's
    partition is the shuffle straggler — the same hot-key pathology
    the salting operators exist for). Per occupied list::

        (cid, n, share, load_factor)

    with ``share = round(n / total, 6)`` and ``load_factor =
    round(n * n_lists / total, 6)`` (1.0 = perfectly balanced;
    ``n_lists`` is the OCCUPIED list count, so the report composes
    with any assignment source — served index ``assigned`` frames,
    :func:`ivf_assign` output, LSH bucket ids).

    100 TB shape: one partial-aggregable groupBy bounded by the list
    count, then the two scalars ride ONE broadcast row (the X6
    pattern). Exact integer counts; the two ratios are single
    divisions of exact integers, round-6 — order-independent by
    construction.

    Fixed columns: id ``vec_id``, list ``cid``."""
    per = assigned.groupBy(F.col("cid").alias("cid")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    scalars = per.agg(
        F.sum("n").alias("__total"),
        F.count(F.lit(1)).cast("long").alias("__n_lists"),
    )
    return per.crossJoin(F.broadcast(scalars)).select(
        "cid",
        "n",
        F.round(F.try_divide(F.col("n"), F.col("__total")), 6).alias(
            "share"
        ),
        F.round(
            F.try_divide(
                F.col("n") * F.col("__n_lists"), F.col("__total")
            ),
            6,
        ).alias("load_factor"),
    )


def ivf_seed_centroids(
    e: DataFrame,
    n_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "e",
) -> DataFrame:
    """Deterministic seed centroids — the ``n_centroids`` lowest-id
    vectors as ``(cid, c)``. The single source of the seed rule shared
    by :func:`ivf_topk` and index-build callers (the DuckDB oracle's
    ``cent`` CTE mirrors exactly this)."""
    return (
        e.orderBy(id_col)
        .limit(n_centroids)
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("c"))
    )


def _probe_cids_py(q_vec, cids, cmat, n_probe: int):
    """Driver-side numpy twin of ``slice(_nearest_sorted(q), 1,
    n_probe)``: the ``n_probe`` nearest centroid ids to ONE query
    vector (round-6 HALF_UP cosine desc, cid asc;
    non-finite -> -2.0). Bounded work on one vector x k centroids — no
    distributed job."""
    import numpy as np

    if not cids or not list(q_vec):
        return []
    q = np.asarray(q_vec, dtype=np.float64)
    C = np.asarray([list(map(float, c)) for c in cmat], dtype=np.float64)
    nq = np.sqrt(q @ q)
    nc = np.sqrt((C * C).sum(axis=1))
    with np.errstate(divide="ignore", invalid="ignore"):
        sims = (C @ q) / (nc * nq)
    sims = np.where(
        np.isfinite(sims), _round_half_up_np(sims, 6), -2.0
    )
    order = sorted(range(len(cids)), key=lambda i: (-sims[i], cids[i]))
    return [cids[i] for i in order[:n_probe]]


def ivf_topk(
    df: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 2,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: deterministic seed centroids (the
    ``n_centroids`` lowest-id vectors), one-pass nearest-centroid
    assignment, query probes its ``n_probe`` nearest lists, exact cosine
    re-rank inside the probed lists only.

    SINGLE corpus pass: the query vector and the centroids resolve
    driver-side in two bounded reads, so assignment, probe filtering,
    and the exact re-rank all fuse into one projection + TakeOrdered
    over the scan. The only other corpus read is the seed TakeOrdered
    behind the centroid read (bounded output, map-side top-n).

    The scale path vs brute force: the full scan is replaced by reading
    ~n_probe/n_centroids of the data; the inverted lists are an
    equi-join key, so a SERVED index materializes :func:`ivf_assign`
    bucketed/partitioned by ``cid`` once and probing prunes partitions.
    Recall < 1 by construction; raise n_probe for recall, n_centroids
    for finer lists.

    ``centroids`` (optional ``(cid, c)`` frame) skips the seed
    TakeOrdered and uses a precomputed/trained centroid set — the
    build-once half of the serve path (see :func:`ivf_topk_served` for
    the other half, probing materialized inverted lists).

    The corpus-side assignment runs as the numpy Arrow kernel
    (:func:`nearest_centroid_arrow`) with the centroids and the
    (bounded, 1-row) query resolved driver-side — the probe list
    becomes a literal filter on the assigned cid and the query a
    literal array in the native re-rank expression, exactly the
    :func:`lsh_bucketed_topk` pattern. The query frame follows
    :func:`_one_query`'s contract.

    Fixed columns: id ``vec_id``, query vector ``q``, vector
    ``embedding``."""
    e = df.select(F.col("vec_id"), F.col("embedding").cast("array<double>").alias("e"))
    if centroids is None:
        centroids = ivf_seed_centroids(e, n_centroids, id_col="vec_id", vec_col="e")
    else:
        centroids = centroids.select(
            "cid", F.col("c").cast("array<double>").alias("c")
        )
    row = _one_query(query.select("q"), "ivf_topk")
    if row is None:
        return _empty_topk(e)
    q_vec = [float(x) for x in row[0]]
    cids, cmat, cid_type = _collect_centroids(centroids)
    probes = _probe_cids_py(q_vec, cids, cmat, n_probe)
    if not probes:
        return _empty_topk(e)
    q_lit = F.expr("array(" + ",".join(repr(v) + "D" for v in q_vec) + ")")
    st = nearest_centroid_arrow(cids, cmat, cid_type)(F.col("e"))
    scored = (
        e.withColumn("_a", st)
        # filter on the assigned cid BEFORE the re-rank projection:
        # the native cosine runs on only ~n_probe/n_centroids of the
        # rows
        .where(F.col("_a")["cid"].isin(probes))
        .select(F.col("vec_id"), F.round(cosine("e", q_lit), 4).alias("sim"))
    )
    return scored.orderBy(F.col("sim").desc(), F.col("vec_id")).limit(k)


def _ivf_topk_native(
    e: DataFrame,
    centroids: DataFrame,
    query: DataFrame,
    k: int,
    n_probe: int,
) -> DataFrame:
    """All-native reference twin of :func:`ivf_topk` over the cast
    ``(vec_id, e)`` frame and ``(cid, c)`` centroids, kept for the test
    that pins the production plan against it: the centroid array, the
    query and its probe list ride ONE broadcast row, so assignment,
    probe filtering and the exact re-rank fuse into one projection.

    Fixed columns: id ``vec_id``, query vector ``q``."""
    q = query.select(F.col("q").cast("array<double>").alias("q"))
    # one broadcast row: centroid array + query + its probe-list cids
    probes = F.transform(
        F.slice(_nearest_sorted(F.col("q"), _norm("q")), 1, n_probe),
        lambda s: s["cid"],
    )
    b = _centroid_row(centroids).crossJoin(q).select(
        "_cent", "q", probes.alias("_probes")
    )
    # F.get, not element_at: NULL (row filtered out), never an ANSI
    # INVALID_ARRAY_INDEX crash, when the centroid array is empty
    best = F.get(_nearest_sorted(F.col("_v"), F.col("_nv")), 0)["cid"]
    scored = (
        e.withColumn("_v", F.col("e"))
        .withColumn("_nv", _norm("_v"))
        .crossJoin(F.broadcast(b))
        .where(F.array_contains(F.col("_probes"), best))
        .select(F.col("vec_id"), F.round(cosine("e", "q"), 4).alias("sim"))
    )
    return scored.orderBy(F.col("sim").desc(), F.col("vec_id")).limit(k)


def ivf_train(
    df: DataFrame,
    n_centroids: int = 8,
    n_iter: int = 2,
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd k-means refinement of the deterministic seed centroids —
    the build-time upgrade over :func:`ivf_seed_centroids` (lowest-id
    seeds are arbitrary; refined centroids cut each probe's list
    imbalance and raise recall at the same ``n_probe``). Returns
    ``(cid, c)`` with ``cid`` keeping the seed identity.

    Per iteration of the shared loop (:func:`_lloyd_refine`, keyed by
    ``cid``), two scale-safe passes:

    1. assignment — :func:`ivf_assign`'s broadcast centroid fold, a
       pure projection over the corpus scan (no shuffle of ``df``);
    2. new centroids — ``posexplode`` to ``(cid, pos, val)`` and
       ``avg`` grouped by ``(cid, pos)``: avg is partially aggregable,
       so the shuffle carries only ``n_centroids x dims`` rows per map
       partition, never the corpus. The per-dimension means fold back
       to an array with an ordered ``collect_list`` over the
       dimension-sized group.

    Components are rounded to 4 decimals each iteration — that
    makes the trained centroids (and therefore every downstream
    assignment) bit-reproducible across engines and partitionings,
    which is what lets a DuckDB oracle replay the whole training run. A
    centroid whose list goes empty keeps its previous position (the
    ``coalesce`` fallback — never a NULL centroid). Each iteration's
    centroid frame is eagerly localCheckpoint-ed so the next broadcast
    fold embeds an 8-row local relation, not the previous iteration's
    full corpus-aggregation plan, with superseded checkpoints released
    deterministically.

    Fixed columns: id ``vec_id``."""
    e = df.select(F.col("vec_id"), F.col(vec_col).cast("array<double>").alias("e"))
    seeds = ivf_seed_centroids(e, n_centroids, id_col="vec_id", vec_col="e")
    # the per-iteration centroid collect (ivf_assign) reads the
    # 8-row localCheckpoint just made — a bounded X6 read, not a
    # corpus job
    with CacheScope() as scope:
        return _lloyd_refine(
            scope,
            scope.checkpoint(seeds),
            ["cid"],
            n_iter,
            "e",
            lambda c_: ivf_assign(e, c_, id_col="vec_id", vec_col="e"),
        )


def _lloyd_refine(
    scope: CacheScope,
    seeds: DataFrame,
    keys: list[str],
    n_iter: int,
    vec_col: str,
    assign,
) -> DataFrame:
    """The ONE deterministic Lloyd loop, run by :func:`ivf_train`
    (``keys=["cid"]``, cosine assignment) and ``operators.pq.pq_train``
    (``keys=["j", "cid"]``, fused L2 assignment of all ``m`` subspaces;
    RQ trains each stage through it). ``seeds`` is the seed frame
    carrying ``keys`` and ``c``, checkpointed through the caller's
    ``scope`` (the seed rule and its validation are the caller's
    contract). ``assign(cent)`` returns a frame carrying ``keys`` and
    ``vec_col``, the vectors each centroid averages. The loop owns the
    rest: the partially aggregable ``(keys, pos)`` means rounded to 4
    decimals, the empty-cluster ``coalesce`` (a centroid whose list goes
    empty keeps its position) and the per-iteration localCheckpoint, each freed
    through ``scope`` once the next one exists, so that choreography
    exists exactly once. The last checkpoint backs the returned
    centroids; a raise leaves ``scope`` to free the live one."""
    cent = seeds.select(*keys, "c")
    last_cp = seeds
    for _ in range(n_iter):
        asg = assign(cent)
        means = (
            asg.select(*keys, F.posexplode(vec_col).alias("pos", "val"))
            .groupBy(*keys, "pos")
            .agg(F.avg("val").alias("m"))
            .groupBy(*keys)
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    # + 0.0 folds IEEE negative zero to +0.0 (engines
                    # disagree on round(-0.00001, 4)'s sign bit)
                    lambda s: F.round(s["m"], 4) + F.lit(0.0),
                ).alias("c2")
            )
        )
        cent = scope.checkpoint(
            cent.join(means, keys, "left").select(
                *keys, F.coalesce("c2", "c").alias("c")
            )
        )
        scope.free(last_cp)
        last_cp = cent
    scope.keep(last_cp)
    return cent


def _served_probe(
    index: DataFrame,
    centroids: DataFrame,
    query: DataFrame,
    n_probe: int,
    caller: str,
    rerank,
) -> DataFrame:
    """The ONE probe-and-prune stage of the served single-query paths
    (:func:`ivf_topk_served`, :func:`quantized_ivf_topk_served`,
    ``pq.pq_ivf_topk_served``, ``rq.rq_ivf_topk_served``): score the
    query against the broadcast fold of the bounded ``(cid, c)``
    centroids and read its ``n_probe`` nearest cids — with the query
    vector itself, validated by :func:`_one_query`, in the same bounded
    job (n_probe ints and one vector, never list data). An empty query
    frame or centroid set answers :func:`_empty_topk` over ``index``;
    otherwise ``rerank`` scores the lists a literal ``cid IN (...)``
    predicate keeps, which against a cid-partitioned/bucketed layout is
    a partition/bucket PRUNE at the scan."""
    qv = query.select(F.col("q").cast("array<double>").alias("qv"))
    probes = F.transform(
        F.slice(_nearest_sorted(F.col("qv"), _norm("qv")), 1, n_probe),
        lambda s: s["cid"],
    )
    row = _one_query(
        _centroid_row(
            centroids.select("cid", F.col("c").cast("array<double>").alias("c"))
        )
        .crossJoin(qv)
        .select("qv", probes.alias("_probes")),
        caller,
    )
    if row is None or not row["_probes"]:
        return _empty_topk(index)
    return rerank(index.where(F.col("cid").isin(list(row["_probes"]))))


def ivf_topk_served(
    assigned: DataFrame,
    centroids: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_probe: int = 2,
) -> DataFrame:
    """Serve-path IVF probe against a MATERIALIZED index: ``assigned``
    is :func:`ivf_assign` output ``(id, vec, cid)`` written out once —
    partitioned or bucketed by ``cid`` (``bucketBy`` + ``saveAsTable``) —
    and ``centroids`` is the bounded ``(cid, c)`` frame it was built
    with. Per query: :func:`_served_probe` reads the ``n_probe`` probe
    cids (a BOUNDED driver read — n_probe ints from one row, the X6
    pattern, NOT a data collect) and prunes the lists with a literal
    ``cid IN (...)`` predicate, so a probe reads ~n_probe / n_centroids
    of the index instead of scanning the corpus — the difference
    between :func:`ivf_topk` (one full pass per query, right for
    one-shot jobs) and an index you probe many times. Empty centroid
    frame -> empty result (no crash), matching :func:`ivf_assign`'s
    NULL-cid contract.

    Fixed columns: id ``vec_id``, query vector ``q``, vector ``e``."""

    def rerank(lists: DataFrame) -> DataFrame:
        q = query.select(F.col("q").cast("array<double>").alias("q"))
        scored = lists.crossJoin(F.broadcast(q)).select(
            F.col("vec_id"), F.round(cosine("e", "q"), 4).alias("sim")
        )
        return scored.orderBy(F.col("sim").desc(), F.col("vec_id")).limit(k)

    return _served_probe(
        assigned, centroids, query, n_probe, "ivf_topk_served", rerank
    )


def _probe_many(
    q: DataFrame,
    centroids: DataFrame,
    n_probe: int,
    max_queries: int,
):
    """Shared batch-probe stage of the served paths: per-qid probe
    lists from the broadcast centroid fold, checkpointed, plus the
    sorted union of probed cids. ``q`` must carry ``(qid, q)`` with
    ``q`` already double-typed.

    localCheckpoint BEFORE deriving both consumers: the probe collect
    below and the (qid, cid, q) join frame in the returned plan must
    see the SAME materialization — a non-deterministic query source
    (sample, limit without order) re-executed per consumer could
    otherwise probe cids absent from the collected union, silently
    dropping those queries' candidates. The checkpoint is bounded by
    the max_queries cap applied first; it backs the result, so its
    blocks are GC-released by the ContextCleaner once the result frame
    is dropped (freed at once when the cap raises). The collect is
    bounded (X6): qids + probe cids only, capped by max_queries."""
    probes = F.transform(
        F.slice(_nearest_sorted(F.col("q"), _norm("q")), 1, n_probe),
        lambda s: s["cid"],
    )
    with CacheScope() as scope:
        qp = scope.checkpoint(
            q.crossJoin(F.broadcast(_centroid_row(centroids)))
            .select(F.col("qid"), F.col("q"), probes.alias("_probes"))
            .limit(max_queries + 1)
        )
        probe_rows = qp.select("qid", "_probes").collect()
        if len(probe_rows) > max_queries:
            raise ValueError(
                f"batch probe got more than max_queries={max_queries} "
                "query vectors — the per-query probe collect is bounded by "
                "contract; split the batch or raise max_queries explicitly"
            )
        union_cids = sorted({c for r in probe_rows for c in r["_probes"]})
        return scope.keep(qp), union_cids


def ivf_topk_served_many(
    assigned: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    max_queries: int = 100_000,
) -> DataFrame:
    """Batch probe of a MATERIALIZED IVF index: N query vectors against
    :func:`ivf_assign` output written partitioned/bucketed by ``cid``.
    Returns ``(qid, id, sim)`` with <= k rows per query — the served
    twin of :func:`lsh_bucketed_topk_many`, and the production shape
    :func:`ivf_topk_served` deliberately refuses (it raises on a
    multi-row query frame).

    Plan shape: every query scores against the broadcast centroid fold
    (one 1-row-per-query projection, no corpus access); the UNION of
    all probe cids is collected — a BOUNDED driver read of at most
    ``|queries| * n_probe`` ints (the X6 pattern, never vector data) —
    and becomes ONE literal ``cid IN (...)`` predicate, so the single
    scan of the index partition-prunes to the union of probed lists.
    The (qid, cid) probe pairs then equi-join the pruned lists
    (broadcast — the query side is bounded by construction), each query
    scoring exactly its own probed lists, and a per-qid window keeps
    the top k. Each corpus vector lives in exactly one list and the
    probe cids per query are distinct, so no candidate is scored twice
    and no distinct pass is needed.

    ``max_queries`` bounds the driver-side probe collect: a query frame
    larger than that raises loudly instead of degrading into an
    unbounded collect (split the batch, or fall back to scan-side
    assignment via :func:`ivf_topk` per shard).

    Fixed columns: id ``vec_id``, query id ``qid``, query vector ``q``,
    vector ``e``."""
    from pyspark.sql import Window

    q = queries.select(
        F.col("qid"),
        F.col("q").cast("array<double>").alias("q"),
    )
    qp, union_cids = _probe_many(q, centroids, n_probe, max_queries)
    if not union_cids:
        return assigned.where(F.lit(False)).crossJoin(
            qp.select("qid").where(F.lit(False))
        ).select(
            F.col("qid"), F.col("vec_id"), F.lit(None).cast("double").alias("sim")
        )
    pq = qp.select(F.col("qid"), F.col("q"), F.explode("_probes").alias("cid"))
    scored = (
        # literal IN: partition/bucket PRUNE at the scan (plan-asserted
        # by pytest), then the bounded (qid, cid, q) frame broadcasts
        assigned.where(F.col("cid").isin(union_cids))
        .join(F.broadcast(pq), "cid")
        .select(
            F.col("qid"),
            F.col("vec_id"),
            F.round(cosine("e", "q"), 4).alias("sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("qid", "vec_id", "sim")
    )


def quantized_ivf_topk_served_many(
    quantized: DataFrame,
    centroids: DataFrame,
    scales: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    max_queries: int = 100_000,
) -> DataFrame:
    """Batch probe of the MATERIALIZED int8 index — the last cell of
    the serve matrix ({float, int8} x {single, batch}): N query vectors
    against :func:`quantize_embeddings` lists written partitioned by
    ``cid``. Returns ``(qid, id, sim)`` with <= k rows per query,
    ``sim`` being the QUANTIZED cosine.

    Same plan shape as :func:`ivf_topk_served_many` (shared
    :func:`_probe_many` stage: per-qid probe lists from the broadcast
    FLOAT centroid fold, ONE bounded collect, ONE literal
    ``cid IN (...)`` partition-pruned scan of the int8 lists, broadcast
    (qid, cid, qq) join, per-qid window top-k) — the probe just reads
    ~5x fewer bytes (BENCH_SCALE.md r10). Queries are quantized with
    the CORPUS ``scales`` (clamped foreign-scales case), their integer
    norms computed once in the bounded probe frame.

    Fixed columns: id ``vec_id``, query id ``qid``, query vector ``q``,
    query vector ``qe``."""
    from pyspark.sql import Window

    q = queries.select(
        F.col("qid"),
        F.col("q").cast("array<double>").alias("q"),
    )
    qp, union_cids = _probe_many(q, centroids, n_probe, max_queries)
    if not union_cids:
        return quantized.where(F.lit(False)).crossJoin(
            qp.select("qid").where(F.lit(False))
        ).select(
            F.col("qid"), F.col("vec_id"), F.lit(None).cast("double").alias("sim")
        )
    # quantize each query once in the bounded frame (qid, cid, qq,
    # qnorm) — never per candidate row
    pq = (
        qp.crossJoin(F.broadcast(scales))
        .select(
            F.col("qid"),
            F.col("_probes"),
            F.zip_with("q", "scales", _q8).alias("qq"),
        )
        .withColumn("qnorm", F.sqrt(_int_dot("qq", "qq")))
        .select(
            F.col("qid"),
            F.explode("_probes").alias("cid"),
            F.col("qq"),
            F.col("qnorm"),
        )
    )
    sim = F.round(
        F.try_divide(
            _int_dot("qe", "qq"),
            F.sqrt(_int_dot("qe", "qe")) * F.col("qnorm"),
        ),
        4,
    )
    scored = (
        quantized.where(F.col("cid").isin(union_cids))
        .join(F.broadcast(pq), "cid")
        .select(F.col("qid"), F.col("vec_id"), sim.alias("sim"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("qid", "vec_id", "sim")
    )


def normalize_embeddings(df: DataFrame, dims: int | None = None) -> DataFrame:
    """Embedding prep for serving: optional Matryoshka-style truncation
    to the first ``dims`` components (Kusupati et al., NeurIPS 2022 —
    MRL-trained models pack coarse semantics into the prefix, so a
    truncated-then-renormalized vector is a cheaper index key), then
    L2 normalization. Returns ``(id, e)`` with ``e`` double-typed,
    components rounded to 6 decimals (cross-engine replay).
    Over NORMALIZED vectors cosine degenerates to the plain dot
    product, so a served index built on this output skips the per-row
    norm fold on every probe. Zero-norm vectors come back as NULL
    (there is no direction to keep — downstream try_divide would have
    NULL-ed every score anyway, and a silent zero vector in an index
    pollutes top-k with ties). Pure narrow projection: no shuffle, no
    UDF, scan-speed at 100 TB.

    Fixed columns: id ``vec_id``, vector ``embedding``."""
    e = F.col("embedding").cast("array<double>")
    if dims is not None:
        if dims < 1:
            raise ValueError(f"dims must be >= 1, got {dims}")
        e = F.slice(e, 1, dims)
    # two-step select binds the norm as an ATTRIBUTE before the
    # per-element lambda references it — inlined, the O(dims) fold
    # would re-evaluate per component (O(dims^2) per row, the
    # CollapseProject trap; plan-asserted single-fold by pytest)
    n = F.col("_n")
    out = F.when(
        n > 0,
        F.transform(
            F.col("_e"),
            lambda x: F.round(x / n, 6) + F.lit(0.0),
        ),
    )
    return (
        df.select(F.col("vec_id"), e.alias("_e"))
        .select(F.col("vec_id"), F.col("_e"), _norm("_e").alias("_n"))
        .select(F.col("vec_id"), out.alias("e"))
    )


def quantization_scales(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-dimension max-abs quantization scales as ONE 1-row frame
    ``(scales: array<double>)`` — the broadcast-able calibration half of
    int8 scalar quantization (:func:`quantize_embeddings`).

    Scale shape: posexplode → (pos, max(abs)) is partially aggregable,
    so the shuffle carries dims × map-partitions rows, never the corpus;
    the fold back to an array is a dims-sized ordered collect_list.
    Zero-variance dimensions clamp to 1e-12 so quantization never
    divides by zero (their quantized value is exactly 0 everywhere)."""
    e = F.col(vec_col).cast("array<double>")
    return (
        df.select(F.posexplode(e).alias("pos", "v"))
        .groupBy("pos")
        .agg(F.max(F.abs(F.col("v"))).alias("m"))
        .groupBy()
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: F.greatest(s["m"], F.lit(1e-12)),
            ).alias("scales")
        )
    )


def quantize_embeddings(
    df: DataFrame,
    scales: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 scalar quantization: ``q[i] = floor(v[i] /
    scales[i] * 127 + 0.5)`` stored as ``array<tinyint>`` — 1 byte per
    dimension vs 4-8 for floats, the 4-8x memory/scan-IO cut that makes
    a 100 TB embedding corpus servable. Returns ``(id, qe)``.

    floor(x + 0.5), not round(): round-half semantics differ between
    engines on negative halves, floor is bit-identical everywhere — the
    DuckDB oracle replays the exact quantized values. Values clamp to
    [-127, 127]: the calibration frame can't exceed its own max-abs,
    but a vector quantized with FOREIGN scales (a query against corpus
    calibration, a new shard against a frozen index) can — without the
    clamp that's a tinyint overflow, a mid-job crash under Spark 4's
    ANSI default. Pure projection over a broadcast 1-row scales frame:
    no shuffle, no UDF.

    Fixed columns: id ``vec_id``."""
    return df.crossJoin(F.broadcast(scales)).select(
        F.col("vec_id"),
        F.zip_with(
            F.col(vec_col).cast("array<double>"), F.col("scales"), _q8
        ).alias("qe"),
    )


def quantization_error_report(df: DataFrame) -> DataFrame:
    """Per-label int8 reconstruction-error audit (r15): how much
    cosine geometry the scalar quantization loses, BEFORE anyone
    trusts the int8 serve path on a new corpus — the calibration
    check an index rollout runs next to ann_recall_report (that one
    audits end-to-end recall; this one attributes loss to the
    quantizer itself). Per label::

        (label, n, n_scored, max_err, mean_err)

    where ``err = round(1 - cos(v, v_hat), 6)`` and ``v_hat[i] =
    q8(v[i]) * scales[i]`` (the uniform 1/127 cancels inside cosine
    and is omitted — the oracle replays the same formula). A
    zero-norm vector has NULL err: counted in ``n``, excluded from
    ``n_scored``/``max_err``/``mean_err`` (both engines' aggregates
    skip NULLs).

    Determinism: ``mean_err`` folds EXACT integers — each err is
    scaled to an e6 integer (``round(err * 1e6)``), summed as BIGINT,
    divided once, rounded 6 — so the mean is order-independent by
    construction (no float-sum ordering to replay); ``max_err`` is a
    max of round-6 doubles (order-independent). Scales/quantization
    are :func:`quantization_scales` / :func:`_q8` WHOLESALE — the
    report audits exactly the quantizer the serve path runs.

    100 TB shape: the scales ride ONE broadcast row, the error is a
    scan-fused projection, and the report is a partial-aggregable
    groupBy bounded by the label count. The e6 BIGINT sum holds to
    ~4.5e15 scored rows per label (err <= 2 -> 2e6/row vs int64).

    Fixed columns: id ``vec_id``, label ``label``, vector ``embedding``."""
    scales = quantization_scales(df, "embedding")
    dq = F.zip_with(
        F.col("_v"), F.col("scales"),
        lambda x, s: _q8(x, s).cast("double") * s,
    )
    per = (
        df.select(
            F.col("label").alias("_lab"),
            F.col("embedding").cast("array<double>").alias("_v"),
        )
        .crossJoin(F.broadcast(scales))
        .select("_lab", "_v", dq.alias("_vhat"))
    )
    return _recon_error_report(per)


def _recon_error_report(per: DataFrame) -> DataFrame:
    """ONE definition of the reconstruction-error fold shared by
    :func:`quantization_error_report` and the PQ twin
    (:func:`..pq.pq_reconstruction_error_report`): given a frame of
    ``(_lab, _v, _vhat)``, compute ``err = round(1 - cos(v, vhat),
    6)`` per row and the per-label ``(label, n, n_scored, max_err,
    mean_err)`` report. The mean folds exact e6 BIGINTs
    (order-independent by construction); zero-norm rows have NULL err
    (try_divide) and drop from ``n_scored``/``max_err``/``mean_err``
    on both engines."""
    cos = F.try_divide(
        _dot("_v", "_vhat"),
        F.sqrt(_dot("_v", "_v")) * F.sqrt(_dot("_vhat", "_vhat")),
    )
    err6 = F.round(F.lit(1.0) - cos, 6)
    return (
        per.select("_lab", err6.alias("_err"))
        .groupBy(F.col("_lab").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.count("_err").cast("long").alias("n_scored"),
            F.max("_err").alias("max_err"),
            F.round(
                F.try_divide(
                    F.sum(F.round(F.col("_err") * 1e6, 0).cast("long")),
                    F.count("_err").cast("double") * 1e6,
                ),
                6,
            ).alias("mean_err"),
        )
    )


def _q8(v: Column, s: Column) -> Column:
    """One int8 component: floor(v/s*127 + 0.5) clamped to [-127, 127]
    (see :func:`quantize_embeddings` for why both halves matter)."""
    return (
        F.greatest(
            F.least(F.floor(v / s * 127 + F.lit(0.5)), F.lit(127)), F.lit(-127)
        )
    ).cast("tinyint")


def _int_dot(a: Column | str, b: Column | str) -> Column:
    """Exact integer dot product of two quantized vectors (bigint
    accumulator: 127^2 * dims stays far inside int64 for any realistic
    dimensionality)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("bigint") * y.cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def quantized_cosine_topk(df: DataFrame, query: DataFrame, k: int = 10) -> DataFrame:
    """Brute-force cosine top-k over int8-quantized vectors: calibrate
    scales on the corpus, quantize corpus AND query with the same
    scales, rank by integer-dot cosine. Returns ``(id, sim)`` — ``sim``
    is the QUANTIZED cosine (the oracle replays it exactly; recall vs
    exact cosine is pinned by pytest, not assumed).

    The 100 TB story: the scan reads 1-byte components (4-8x less IO),
    the dot product is integer arithmetic, and the plan is the same
    single-scan TakeOrdered as :func:`cosine_topk` — one broadcast row
    carrying (scales, quantized query) and zero shuffles of the corpus.
    For repeated serving, materialize :func:`quantize_embeddings` once
    and probe that (compose with the IVF serve path). The query frame
    follows :func:`_one_query`'s contract.

    Fixed columns: id ``vec_id``, query vector ``q``, vector
    ``embedding``."""
    if _one_query(query.select("q"), "quantized_cosine_topk") is None:
        return _empty_topk(df)
    scales = quantization_scales(df, "embedding")
    # query norm computed ONCE in the broadcast 1-row frame — inside
    # the per-row projection it would fold the query vector again for
    # every corpus row
    qq = (
        query.select(F.col("q").cast("array<double>").alias("qv"))
        .crossJoin(F.broadcast(scales))
        .select(F.zip_with("qv", "scales", _q8).alias("qq"), F.col("scales"))
        .select(
            F.col("qq"),
            F.col("scales"),
            F.sqrt(_int_dot("qq", "qq")).alias("qnorm"),
        )
    )
    qe = df.crossJoin(F.broadcast(qq)).select(
        F.col("vec_id"),
        F.zip_with(
            F.col("embedding").cast("array<double>"), F.col("scales"), _q8
        ).alias("qe"),
        F.col("qq"),
        F.col("qnorm"),
    )
    sim = F.round(
        F.try_divide(
            _int_dot("qe", "qq"),
            F.sqrt(_int_dot("qe", "qe")) * F.col("qnorm"),
        ),
        4,
    )
    return (
        qe.select(F.col("vec_id"), sim.alias("sim"))
        .orderBy(F.col("sim").desc(), F.col("vec_id"))
        .limit(k)
    )


def quantized_ivf_topk_served(
    quantized: DataFrame,
    centroids: DataFrame,
    scales: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_probe: int = 2,
) -> DataFrame:
    """Serve-path ANN over a MATERIALIZED int8 index — the composition
    :func:`quantized_cosine_topk`'s docstring and the r9 quantization
    A/B both point at: quantization pays as a STORAGE/SCAN play, so
    materialize :func:`quantize_embeddings` output joined with its
    :func:`ivf_assign` cid ONCE, partitioned by ``cid`` (1 byte per
    dimension on disk instead of 8), and probe it like
    :func:`ivf_topk_served`.

    ``quantized`` is the materialized ``(id, qe, cid)`` frame;
    ``centroids`` the bounded FLOAT ``(cid, c)`` frame the assignment
    was built with; ``scales`` the 1-row calibration frame the corpus
    was quantized with (:func:`quantization_scales` — the query is
    quantized with the SAME scales, the clamped foreign-scales case).

    Per query: :func:`_served_probe` reads the probe cids (a BOUNDED
    driver read, n_probe ints — the X6 pattern) and ONE literal
    ``cid IN (...)`` predicate partition-prunes the int8 lists at
    the scan, then the integer-dot cosine re-rank inside the probed
    lists only. vs :func:`ivf_topk_served` the probe reads ~8x fewer
    bytes (measured in BENCH_SCALE.md r10); ``sim`` is the QUANTIZED
    cosine (recall vs exact pinned by pytest). Empty centroid frame ->
    empty result, matching the float twin's contract.

    Fixed columns: id ``vec_id``, query vector ``q``, query vector
    ``qe``."""

    def rerank(lists: DataFrame) -> DataFrame:
        # quantize the query with the CORPUS scales (one broadcast 1-row
        # frame carrying qq + its integer norm, computed once — the
        # quantized_cosine_topk pattern)
        qq = (
            query.select(F.col("q").cast("array<double>").alias("qv"))
            .crossJoin(F.broadcast(scales))
            .select(F.zip_with("qv", "scales", _q8).alias("qq"))
            .select(F.col("qq"), F.sqrt(_int_dot("qq", "qq")).alias("qnorm"))
        )
        sim = F.round(
            F.try_divide(
                _int_dot("qe", "qq"),
                F.sqrt(_int_dot("qe", "qe")) * F.col("qnorm"),
            ),
            4,
        )
        # ``lists`` is the literal-IN pruned int8 scan (plan-asserted
        # by pytest)
        scored = lists.crossJoin(F.broadcast(qq)).select(
            F.col("vec_id"), sim.alias("sim")
        )
        return scored.orderBy(F.col("sim").desc(), F.col("vec_id")).limit(k)

    return _served_probe(
        quantized, centroids, query, n_probe, "quantized_ivf_topk_served", rerank
    )


def cosine_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 8,
    dims: int = 64,
) -> DataFrame:
    """All pairs with cosine >= threshold, LSH-bucketed: only vectors in
    the same bucket are compared (high-cosine pairs land together with
    probability (1 - theta/pi)^n_planes). Returns ``(a, b, sim)``.

    Scale guidance (measured, tools/scale_textdedup.py at 200k docs):
    ``n_planes`` must grow with log2(n) to keep the bucket join
    sub-quadratic — 8 planes = 256 buckets makes the join carry ~n^2/256
    pair rows (343 s / recall 0.83 on planted twins), 16 planes cuts it
    4x (86 s / recall 0.725). The single-band generator trades recall
    for join size; for near-1.0 thresholds at larger n, use the
    OR-amplified banding (:func:`semantic_decontaminate`'s generator)
    or the cid equi-join (:func:`semantic_dedup_pairs`) instead —
    the cid shape measured on the same 200k harness (r13, ``cid``
    mode, k=512 adaptive centroids): 61 s / recall 1.0, strictly
    dominating both single-band points.

    The result carries its persisted sketch handle — release with
    :func:`dgraph_dbpedia_spark.operators.cachectl.release` after
    materializing (long-lived sessions would otherwise accumulate
    cached partitions)."""
    with CacheScope() as scope:
        # norms precomputed per VECTOR (n rows), not per pair (~n^2/buckets
        # rows): inside the bucket join only the dot product remains —
        # higher-order array aggregates run interpreted, so halving the
        # per-pair array passes matters
        # persisted: the sketch feeds both self-join sides — without it the
        # sign/norm computation runs twice (no cross-branch subplan sharing)
        sk = scope.persist(
            df.select(
                F.col(id_col),
                F.col(vec_col).cast("array<double>").alias("e"),
                _norm(F.col(vec_col).cast("array<double>")).alias("n"),
                hyperplane_signs_arrow(n_planes, dims)(
                    F.col(vec_col).cast("array<double>")
                ).alias("bucket"),
            )
        )
        a = sk.select(F.col(id_col).alias("a"), F.col("e").alias("ea"), F.col("n").alias("na"), "bucket")
        b = sk.select(F.col(id_col).alias("b"), F.col("e").alias("eb"), F.col("n").alias("nb"), "bucket")
        # pairs score with one einsum per Arrow batch (see
        # semantic_dedup_pairs)
        sim = pair_cosine_arrow(4)(
            F.col("ea"), F.col("eb"), F.col("na"), F.col("nb")
        )
        out = (
            a.join(b, "bucket")
            .where(F.col("a") < F.col("b"))
            .select("a", "b", sim.alias("sim"))
            .where(F.col("sim") >= threshold)
            # no distinct: each vector has exactly ONE bucket, so the
            # bucket self-join emits every (a, b) pair at most once — a
            # distinct here would be a full extra shuffle of the output
        )
        return scope.hand(out, sk)


def semantic_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    n_bands: int = 7,
    dims: int = 64,
) -> DataFrame:
    """Benchmark decontamination by EMBEDDING similarity — the
    semantic sibling of the n-gram :func:`..dedup.decontaminate`:
    drop every corpus row whose cosine against ANY benchmark row
    reaches ``threshold`` (paraphrased eval leakage that exact n-gram
    overlap misses — the contamination class reported by Yang et al.,
    arXiv:2311.04850). Returns the SURVIVING corpus rows, all
    original columns.

    Candidate recall is OR-AMPLIFIED banding (the minhash-LSH band
    construction over hyperplane sign bits): one ``n_bands x
    n_planes``-bit signature per vector, split into ``n_bands``
    independent ``n_planes``-bit band keys; a pair is a candidate if
    it agrees on ANY band. A pair at cosine ``theta`` agrees on one
    band with probability ``p^n_planes`` (``p = 1 - acos(theta)/pi``),
    so the miss probability is ``(1 - p^n_planes)^n_bands`` — at the
    defaults (8 planes x 7 bands, the largest 8-bit-band signature
    that fits the 60-bit bucket id) a pair at cosine exactly 0.95 is
    caught with probability ~0.98 (single-band 8-plane hashing, the
    first cut, missed ~57% of such pairs) and an exact duplicate
    always; tools/scale_decon.py measures it at 200k — single band
    dropped 76/62/36% of planted leaks at cosine ~0.995/0.98/0.957,
    the banded settings 100/100/82% (both independent band structures
    agree exactly on the third tier: its residue is genuinely
    below-threshold mixture noise, not recall loss). Only
    colliding pairs pay the exact round-4 cosine; a pair colliding in
    several bands is scored once per collision (bounded by
    ``n_bands``) — correctness is unaffected (hits are distinct ids).

    100 TB shape: the benchmark side is bounded by construction (eval
    suites are thousands of rows, not corpora) so its banded keys ride
    ONE broadcast and the band equi-join is broadcast-hash — the
    corpus never shuffles to FIND the hits. The hit list is
    corpus-sized in the worst case, so the final left-anti is left
    UNHINTED: AQE broadcasts it when it is small (the normal case)
    and falls back to a shuffle anti-join when it is not. Candidate
    count is ``n_bands x |corpus| x (benchmark rows per band key)``,
    never |corpus| x |benchmark|.

    Fixed columns: id ``vec_id``, vector ``embedding``."""
    total = n_planes * n_bands
    if n_planes < 1 or n_bands < 1 or total > 60:
        raise ValueError(
            f"need 1 <= n_planes ({n_planes}), 1 <= n_bands ({n_bands}) "
            f"and n_planes * n_bands <= 60 (got {total}) — the banded "
            "signature must fit the 60-bit bucket id"
        )
    mask = (1 << n_planes) - 1

    def banded(frame: DataFrame) -> DataFrame:
        # signature bound in its OWN select before the band split
        # references it n_bands times (the CollapseProject trap — the
        # full projection fold must run once per row, not per band)
        sig = frame.select(
            "*",
            hyperplane_signs_arrow(total, dims)(F.col("_v")).alias("_sig"),
        )
        return sig.select(
            *frame.columns,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("_band"),
                            F.shiftright(F.col("_sig"), b * n_planes)
                            .bitwiseAND(F.lit(mask))
                            .alias("_key"),
                        )
                        for b in range(n_bands)
                    ]
                )
            ).alias("_bk"),
        ).select(*frame.columns, "_bk._band", "_bk._key")

    ce = banded(
        corpus.select(
            F.col("vec_id"),
            F.col("embedding").cast("array<double>").alias("_v"),
            _norm(F.col("embedding").cast("array<double>")).alias("_n"),
        )
    )
    be = banded(
        benchmark.select(
            F.col("embedding").cast("array<double>").alias("_v"),
            _norm(F.col("embedding").cast("array<double>")).alias("_bn"),
        )
    ).withColumnRenamed("_v", "_bv")
    sim = pair_cosine_arrow(4)(
        F.col("_v"), F.col("_bv"), F.col("_n"), F.col("_bn")
    )
    hits = (
        ce.join(F.broadcast(be), ["_band", "_key"])
        .where(sim >= F.lit(threshold))
        .select("vec_id")
        .distinct()
    )
    return corpus.join(hits, "vec_id", "left_anti")


def semantic_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    centroids: DataFrame | None = None,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalized: bool = False,
) -> DataFrame:
    """Within-cluster semantic near-duplicate pairs — the SemDeDup
    scheme (Abbas et al., "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication", arXiv:2303.09540):
    every vector is assigned to its nearest centroid by cosine
    (:func:`ivf_assign` — a broadcast centroid fold, NO corpus
    shuffle), then cosine similarity is computed only INSIDE each
    cluster via an equi-join on ``cid``. Returns ``(a, b, sim)`` with
    ``round(sim, 6) >= threshold`` and ``a < b``.

    Never all-pairs: pair cost is bounded by the largest cluster
    (sum of cluster_size² vs corpus²). ``n_centroids`` is the
    quadratic dial — k ~ sqrt(n) keeps expected cluster size ~sqrt(n);
    a skewed hot centroid is split by AQE's skew-join handling of the
    sort-merge, and cluster balance improves by passing
    :func:`ivf_train`-ed ``centroids`` instead of the deterministic
    seed default (:func:`ivf_seed_centroids`). Cross-cluster near-dups
    are missed BY DESIGN — that is the paper's approximation; lower
    ``n_centroids`` trades pair cost for recall.

    The result carries a persisted assignment handle (it feeds both
    self-join sides) — release with
    :func:`dgraph_dbpedia_spark.operators.cachectl.release` after
    materializing.

    ``normalized=True`` declares the input unit-norm
    (:func:`normalize_embeddings` output): pair scoring becomes a
    plain dot — no norm columns through the cid shuffle, no divide on
    any of the ~n^2/k candidate pairs (see
    :func:`_semantic_sk_pairs`)."""
    with CacheScope() as scope:
        sk, out = _semantic_sk_pairs(
            scope, df, threshold, centroids, n_centroids, id_col, vec_col,
            normalized=normalized,
        )
        return scope.hand(out, sk)


def _semantic_sk_pairs(
    scope: CacheScope,
    df: DataFrame,
    threshold: float,
    centroids: DataFrame | None,
    n_centroids: int,
    id_col: str,
    vec_col: str,
    sim_col: str | None = None,
    normalized: bool = False,
):
    """(persisted assignment frame, within-cluster pair frame) — the
    shared core of :func:`semantic_dedup_pairs` and
    :func:`semantic_dedup`. ``sim_col`` additionally exposes each
    vector's rounded cosine to its assigned centroid on the assignment
    frame (the ``keep='low_centroid_sim'`` policy needs it — one
    assignment pass serves pairs AND representative selection). The
    assignment frame is persisted through the caller's ``scope``.

    ``normalized=True``: the input vectors are unit-norm
    (:func:`normalize_embeddings` output) — pair cosine degenerates to
    the plain dot, so the pair stage ships NO norm columns through the
    cid shuffle and skips the divide on every candidate pair (~n^2/k
    of them — the measured bottleneck stage). The centroid assignment
    still computes per-row norms internally (centroids need not be
    unit), so the precondition only touches pair SCORING: a
    non-normalized input silently yields dot products instead of
    cosines — the caller owns the contract, same as the served-index
    builders."""
    e = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_e")
    )
    if centroids is None:
        centroids = ivf_seed_centroids(
            e, n_centroids, id_col=id_col, vec_col="_e"
        )
    else:
        # all-double scoring for caller-supplied centroids too (the
        # ivf_topk contract): a float-typed c column would flip
        # near-tie assignments vs the oracle's DOUBLE[] math
        centroids = centroids.select(
            F.col("cid"), F.col("c").cast("array<double>").alias("c")
        )
    # persisted: assignment + norm feed both self-join sides — without
    # it the centroid scoring runs twice (no cross-branch sharing).
    # norm_col reuses the norm the assignment already computed.
    sk = scope.persist(
        ivf_assign(
            e, centroids, id_col=id_col, vec_col="_e",
            norm_col=None if normalized else "_n",
            sim_col=sim_col,
        )
    )
    a = sk.select(
        F.col(id_col).alias("a"),
        F.col("_e").alias("ea"),
        *([] if normalized else [F.col("_n").alias("na")]),
        "cid",
    )
    b = sk.select(
        F.col(id_col).alias("b"),
        F.col("_e").alias("eb"),
        *([] if normalized else [F.col("_n").alias("nb")]),
        "cid",
    )
    # pair scoring: one einsum per Arrow batch instead of an
    # interpreted O(dims) fold per candidate pair (pair counts are
    # ~n^2/k — the dominant stage cost at low k, BENCH_SCALE.md r10).
    # normalized: plain dot, no norm columns, no divide (see docstring
    # contract)
    if normalized:
        sim = pair_cosine_arrow(6, normalized=True)(
            F.col("ea"), F.col("eb")
        )
    else:
        sim = pair_cosine_arrow(6)(
            F.col("ea"), F.col("eb"), F.col("na"), F.col("nb")
        )
    out = (
        a.join(b, "cid")
        .where(F.col("a") < F.col("b"))
        .select("a", "b", sim.alias("sim"))
        .where(F.col("sim") >= threshold)
        # no distinct: each vector has exactly ONE nearest centroid, so
        # the cid self-join emits every (a, b) pair at most once
    )
    return sk, out


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.9,
    centroids: DataFrame | None = None,
    n_centroids: int = 16,
    keep: str = "min_id",
) -> DataFrame:
    """End-to-end semantic dedup: keep ONE representative per connected
    component of the within-cluster near-dup pair graph, all original
    columns preserved. Singletons and sub-threshold vectors always
    survive. Components come from
    :func:`dgraph_dbpedia_spark.operators.dedup.dedup_clusters_star`
    under both ``keep`` policies.

    ``keep`` selects the representative:

    - ``'min_id'`` (default) — the lowest-id member, via
      :func:`dgraph_dbpedia_spark.operators.dedup.dedup_corpus`.
      Deterministic and oracle-stable.
    - ``'low_centroid_sim'`` — the member with the LOWEST cosine to its
      assigned centroid (ties: lowest id), the policy of the SemDeDup
      paper (Abbas et al., arXiv:2303.09540 §2: keep the low-similarity
      example, prune toward the centroid — farthest-from-centroid
      members are the least semantically redundant with the cluster).
      Pairs only form within one centroid cluster, so every component
      lies inside one cluster and the member sims are comparable. Costs
      nothing extra at scale: the sim is exposed from the SAME
      assignment pass that builds the pairs, and representative
      selection is one partially-aggregable ``min(struct(sim, id))``
      per component.

    Fixed columns: id ``vec_id``, vector ``embedding``."""
    from dgraph_dbpedia_spark.operators.dedup import (
        dedup_clusters_star,
        dedup_corpus,
    )

    if keep not in ("min_id", "low_centroid_sim"):
        raise ValueError(
            f"keep must be 'min_id' or 'low_centroid_sim', got {keep!r}"
        )
    # the star contraction eagerly materializes the component labels
    # into a checkpoint-rooted frame, so the scope frees the assignment
    # cache as soon as the representative set is pinned
    with CacheScope() as scope:
        sk, pairs = _semantic_sk_pairs(
            scope, df, threshold, centroids, n_centroids, "vec_id", "embedding",
            sim_col="_csim" if keep == "low_centroid_sim" else None,
        )
        if keep == "min_id":
            return dedup_corpus(df, pairs.select("a", "b"), id_col="vec_id")
        clusters = dedup_clusters_star(
            df.select(F.col("vec_id")), pairs.select("a", "b"), id_col="vec_id"
        )
        # one id per component; localCheckpoint pins the selection
        # (bounded by #components — the same scale class as the star
        # contraction's own checkpoints) so the assignment cache can be
        # dropped before the result is consumed
        reps = scope.checkpoint(
            clusters.join(sk.select(F.col("vec_id"), "_csim"), "vec_id")
            .groupBy("cluster_id")
            .agg(F.min(F.struct(F.col("_csim"), F.col("vec_id"))).alias("_m"))
            .select(F.col("_m")["vec_id"].alias("vec_id"))
        )
        return df.join(scope.keep(reps), "vec_id", "left_semi")


def ann_join(
    df_a: DataFrame,
    df_b: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dims: int = 64,
    min_sim: float | None = None,
    broadcast_a: bool = False,
    max_sim: float | None = None,
    exclude_same: str | None = None,
) -> DataFrame:
    """Cross-corpus approximate-nearest-neighbor JOIN: for every vector
    of ``df_a``, the top-``k`` most-cosine-similar vectors of ``df_b``
    among those sharing its hyperplane bucket — the bulk retrieval
    shape (link every new document to its nearest existing neighbors,
    match queries to corpus passages). The PLAN is
    :func:`lsh_bucketed_topk_many`'s (sketch both sides, bucket
    equi-join, per-query window top-k); this is its corpus-x-corpus
    form with the pair-stage upgrades that operator predates:
    per-VECTOR norm precompute, the Arrow pair-scoring lane, a
    ``min_sim`` pre-rank filter, and an explicit rank column (the batch
    operator is now an adapter over THIS core — one definition of the
    bucket-join-rank plan; ``broadcast_a=True`` is its
    small-query-side regime, broadcasting the a-sketch so the only
    shuffle is the final window). Returns ``(a, b, sim, rnk)``, ``rnk``
    1-based by
    ``(sim desc, b asc)``; ``min_sim`` drops weak candidates before
    ranking. a-rows whose bucket has no b-occupant produce no rows
    (recall follows the bucket-collision bound — raise recall by
    lowering ``n_planes``, exactly the LSH dial).

    ``max_sim`` (strict ``sim < max_sim``, pre-rank) and
    ``exclude_same`` (a column present in BOTH frames; pairs whose
    values are null-safe-equal are dropped pre-rank) carve the
    hard-negative band out of the candidate set BEFORE the top-k
    window — the :func:`hard_negatives` contract: rank among the
    eligible, never post-filter a ranked list.

    100 TB shape: both sides sketch in one narrow projection (signs on
    the Arrow lane by default, bit-equal pinned), candidates ride ONE
    bucket equi-join (never |A|x|B|), and the per-a top-k is a window
    over candidates only. No persist: each sketch feeds exactly one
    branch (the conditional-persist rule). Norms are precomputed per
    VECTOR, not per pair — the cosine_near_dup_pairs argument."""
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")

    def sketch(df: DataFrame, out: str, e: str, n: str) -> DataFrame:
        v = F.col(vec_col).cast("array<double>")
        cols = [
            F.col(id_col).alias(out),
            v.alias(e),
            _norm(v).alias(n),
            hyperplane_signs_arrow(n_planes, dims)(v).alias("bucket"),
        ]
        if exclude_same is not None:
            cols.append(F.col(exclude_same).alias(f"_x{out}"))
        return df.select(*cols)

    sim = pair_cosine_arrow(4)(
        F.col("ea"), F.col("eb"), F.col("na"), F.col("nb")
    )
    a_sk = sketch(df_a, "a", "ea", "na")
    if broadcast_a:
        # the batch-probe regime: a small a-side (queries) rides a
        # broadcast so the only shuffle is the final per-a window
        a_sk = F.broadcast(a_sk)
    joined = a_sk.join(sketch(df_b, "b", "eb", "nb"), "bucket")
    if exclude_same is not None:
        # null-safe inequality: a NULL group must not silently match
        # (or miss) — two NULL-group rows ARE the same family
        joined = joined.where(~F.col("_xa").eqNullSafe(F.col("_xb")))
    cand = (
        joined.select("a", "b", sim.alias("sim"))
        # zero-norm vectors score NULL (the pair-cosine null contract);
        # without this a sparse bucket would hand a NULL-sim row a rank
        .where(F.col("sim").isNotNull())
    )
    if min_sim is not None:
        cand = cand.where(F.col("sim") >= min_sim)
    if max_sim is not None:
        cand = cand.where(F.col("sim") < max_sim)
    w = Window.partitionBy("a").orderBy(F.col("sim").desc(), F.col("b").asc())
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("a", "b", "sim", "rnk")
    )


def hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    lo: float = 0.0,
    hi: float = 0.98,
    exclude_same: str | None = None,
    n_planes: int = 8,
    dims: int = 64,
) -> DataFrame:
    """Hard-negative mining for embedding-model training (the
    DPR/Contriever data-prep step): for every query vector, the
    top-``k`` corpus vectors that are SIMILAR-BUT-NOT-THE-SAME —
    cosine in ``[lo, hi)``, optionally from a different
    ``exclude_same`` family (source/domain/label; a positive from the
    same document family is a false negative that poisons contrastive
    training). The upper cut excludes near-duplicates (those are
    positives or dedup targets, not negatives), the lower cut
    excludes easy negatives random sampling already supplies.

    Pure composition over :func:`ann_join` — the band and family
    filters apply PRE-RANK (rank among eligible, never post-filter a
    ranked list), so the result really is the k hardest eligible
    negatives the bucket recall surfaces. Returns ``(query_id,
    neg_id, sim, rnk)``.

    100 TB shape: inherits ann_join's (one narrow sketch projection
    per side, ONE bucket equi-join — never |Q| x |C| — and a per-query
    window over candidates only); the query side is broadcast (the
    usual regime: queries are a training batch, the corpus is the
    lake), so the bucket join itself is a broadcast and the only
    shuffle is the final window.

    Fixed columns: id ``vec_id``, vector ``embedding``."""
    if not lo < hi:
        raise ValueError(f"need lo < hi, got lo={lo} hi={hi}")
    out = ann_join(
        queries,
        corpus,
        k=k,
        id_col="vec_id",
        vec_col="embedding",
        n_planes=n_planes,
        dims=dims,
        min_sim=lo,
        max_sim=hi,
        exclude_same=exclude_same,
        broadcast_a=True,
    )
    return out.select(
        F.col("a").alias("query_id"),
        F.col("b").alias("neg_id"),
        "sim",
        "rnk",
    )


def _group_centroids(
    scope: CacheScope, df: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Shared centroid pipeline for :func:`embedding_drift` and
    :func:`embedding_outliers` (r12 review: ONE definition of the
    Lloyd-rule rounding / -0.0 fold / persist discipline): returns
    ``(per, gm)`` where ``per`` is the partial-aggregable ``(_g, pos,
    s, c)`` frame, persisted through ``scope`` (the caller hands it to
    its result), and ``gm`` the bounded ``(_g, _gm)`` per-group
    centroid frame with round-6 -0.0-folded components.

    Fixed columns: group ``label``, vector ``embedding``."""
    ex = df.select(
        F.col("label").alias("_g"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "v"
        ),
    )
    per = scope.persist(
        ex.groupBy("_g", "pos").agg(
            F.sum("v").alias("s"), F.count(F.lit(1)).alias("c")
        )
    )
    gm = per.groupBy("_g").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct("pos", (F.col("s") / F.col("c")).alias("m"))
                )
            ),
            lambda st: F.round(st["m"], 6) + F.lit(0.0),
        ).alias("_gm")
    )
    return per, gm


def ivf_update_report(
    existing: DataFrame,
    new: DataFrame,
    n_centroids: int = 8,
    split_factor: float = 2.0,
) -> DataFrame:
    """Index-maintenance audit for an IVF index absorbing a new vector
    batch WITHOUT retraining: assign the incoming vectors to the
    EXISTING centroids (:func:`ivf_assign`'s round-6 cosine / cid-asc
    rule — exactly what an online ingest does between rebuilds) and
    report, per inverted list, ``(cid, n_old, n_new, n_total,
    needs_split)``. ``needs_split`` = 1 when the list's post-ingest
    size exceeds ``split_factor`` x the mean list size — the rebalance
    signal that schedules a re-train/split before one hot list turns
    every probe into a scan of half the corpus.

    Determinism: counts are exact; the split test is evaluated in
    pure INTEGER arithmetic (``n_total * den * k > num * total`` with
    ``split_factor`` as an exact ``Fraction``) so the oracle replays
    it without float-threshold edge risk; ``needs_split`` ships as
    0/1 long, not boolean.

    100 TB shape: two shuffle-free assignment projections (the
    centroid set is a bounded X6 collect), two map-side-combinable count
    aggregations over cid (k-row outputs), and a k-row spine join —
    the corpus is scanned once per side, nothing corpus-sized
    shuffles or collects. The centroids are seeded from ``existing``
    (:func:`ivf_seed_centroids`'s lowest-id rule).

    Fixed columns: id ``vec_id``, vector ``embedding``."""
    from fractions import Fraction

    if n_centroids < 1:
        raise ValueError(f"n_centroids must be >= 1, got {n_centroids}")
    if not split_factor > 0:
        raise ValueError(
            f"split_factor must be > 0, got {split_factor}"
        )
    fr = Fraction(str(split_factor))
    cents = ivf_seed_centroids(
        existing, n_centroids, id_col="vec_id", vec_col="embedding"
    )

    def _sizes(df: DataFrame, out: str) -> DataFrame:
        return (
            ivf_assign(df, cents, id_col="vec_id", vec_col="embedding")
            .groupBy("cid")
            .agg(F.count(F.lit(1)).alias(out))
        )

    spine = (
        cents.select("cid")
        .join(_sizes(existing, "n_old"), "cid", "left")
        .join(_sizes(new, "n_new"), "cid", "left")
        .select(
            "cid",
            F.coalesce("n_old", F.lit(0)).alias("n_old"),
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
        )
        .withColumn("n_total", F.col("n_old") + F.col("n_new"))
    )
    # k comes from the SPINE, not the n_centroids argument: when
    # `existing` holds fewer than n_centroids vectors the seed
    # limit() yields fewer lists, and a literal k would compare
    # against the wrong mean and over-fire the split signal (r13
    # review). Counting in the same 1-row agg keeps it lazy.
    total = spine.agg(
        F.sum("n_total").alias("__total"),
        F.count(F.lit(1)).alias("__k"),
    )
    return (
        spine.crossJoin(F.broadcast(total))
        .select(
            "cid",
            "n_old",
            "n_new",
            "n_total",
            F.when(
                F.col("n_total") * F.lit(fr.denominator) * F.col("__k")
                > F.lit(fr.numerator) * F.col("__total"),
                1,
            )
            .otherwise(0)
            .cast("long")
            .alias("needs_split"),
        )
    )


def embedding_drift(df: DataFrame) -> DataFrame:
    """Embedding-space distribution-shift monitor — the vector sibling
    of the token-level ``corpus_divergence``: per group (a crawl
    snapshot, a source domain, a classifier label), the centroid of
    the group's embeddings compared to the GLOBAL centroid by cosine.
    A slice whose centroid swings away from the corpus mean is the
    standard first alarm that an upstream embedding model, crawler
    mix, or dedup stage changed behavior between snapshots. Returns
    ``(group, n, mean_norm, cos_to_global)`` — ``n`` the group's
    usable-vector count, ``mean_norm`` the centroid's L2 norm (a
    collapsing-embeddings alarm on its own: near-0 means the group's
    directions cancel), ``cos_to_global`` the round-4
    cosine between group and global centroids.

    Determinism (oracle-replayable): per-position means are rounded to
    6 decimals with the -0.0 fold (the Lloyd-means rule —
    partition-order float drift cannot reach the compared digits), and
    the global centroid derives FROM the bounded per-group sums (one
    corpus pass; the re-aggregation is groups x dims rows). Cosines
    run the package's sequential fold on the ROUNDED arrays.

    100 TB shape: ONE posexplode -> (group, pos) partial-aggregable
    sum/count shuffle bounded by groups x dims rows per map partition;
    everything after operates on the bounded per-group frame (the
    global centroid is a broadcast 1-row crossJoin, X6). Rows with
    NULL/empty vectors count toward nothing; ragged widths contribute
    to the positions they have (mean per (group, pos) divides by that
    position's own count).

    Fixed columns: group ``label``, vector ``embedding``."""
    with CacheScope() as scope:
        per, gm = _group_centroids(scope, df)
        rnd = lambda col: F.round(col, 6) + F.lit(0.0)  # noqa: E731
        glob = (
            per.groupBy("pos")
            .agg((F.sum("s") / F.sum("c")).alias("m"))
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda st: rnd(st["m"]),
                ).alias("_glob")
            )
        )
        # n = the pos-0 count already sitting in the persisted per-group
        # frame (every non-empty vector emits pos 0) — a separate count
        # scan would double the operator's one corpus pass (r12 review)
        counts = per.where(F.col("pos") == 0).select(
            "_g", F.col("c").alias("n")
        )
        out = (
            gm.join(counts, "_g")
            .crossJoin(F.broadcast(glob))
            .select(
                F.col("_g").alias("label"),
                "n",
                F.round(_norm("_gm"), 4).alias("mean_norm"),
                F.round(cosine("_gm", "_glob"), 4).alias(
                    "cos_to_global"
                ),
            )
        )
        return scope.hand(out, per)


def jl_project(
    df: DataFrame,
    out_dims: int,
    dims: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: map each ``dims``-wide
    vector to ``out_dims`` components ``round(sqrt(3 / out_dims) *
    (v . p_i), 6)`` against the deterministic pseudo-random
    hyperplanes of :func:`plane_values` (the LSH family — same
    cross-engine md5 derivation, so oracles recompute the matrix
    bit-identically; no RNG state). The ``sqrt(3 / out_dims)`` scale
    makes the projection norm-preserving in expectation for our
    uniform[-1, 1) entries (variance 1/3), so L2 consumers see
    calibrated magnitudes; cosine consumers are scale-invariant either
    way. JL lemma: pairwise distances distort by at most ``1 +/- eps``
    with ``out_dims = O(log n / eps^2)`` — the cheap pre-ANN
    dimensionality cut when no trained MRL prefix exists
    (:func:`normalize_embeddings`'s ``dims=`` truncation is the
    trained-model alternative).

    Returns ``(id, e)`` with ``e`` an ``out_dims``-wide double array;
    a NULL or non-``dims``-wide input yields NULL ``e`` (the
    :func:`normalize_embeddings` degenerate-row convention — dropped
    by downstream try_divide scoring, never silently mis-projected).

    100 TB shape: pure narrow projection — no shuffle, no UDF,
    scan-speed; downstream ANN index build / probe shuffles shrink by
    ``dims / out_dims``. The plane matrix rides the PLAN as a foldable
    literal (``out_dims * dims`` doubles — 1k doubles at 64->16; keep
    shapes modest or hoist to a broadcast join at e.g. 768->256).
    Components round to 6 decimals and fold -0.0 so both
    engines serve bit-equal projections."""
    if out_dims < 1:
        raise ValueError(f"out_dims must be >= 1, got {out_dims}")
    if dims < 1:
        raise ValueError(f"dims must be >= 1, got {dims}")
    scale = float(math.sqrt(3.0 / out_dims))
    planes = _plane_literal(out_dims, dims)
    v = F.col("_v")
    comps = F.array(
        *[
            F.round(
                F.lit(scale)
                * F.aggregate(
                    F.zip_with(
                        F.slice(F.col("_p"), j * dims + 1, dims),
                        v,
                        lambda x, y: x * y,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            )
            + F.lit(0.0)
            for j in range(out_dims)
        ]
    )
    return (
        df.select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
        )
        # planes bound as an attribute so each of the out_dims folds
        # slices ONE shared array value, not out_dims copies of the
        # full literal re-materialized per component
        .select(F.col(id_col), v, planes.alias("_p"))
        .select(
            F.col(id_col),
            F.when(F.size(v) == dims, comps).alias("e"),
        )
    )


def jl_topk(
    df: DataFrame,
    query: DataFrame,
    k: int = 10,
    out_dims: int = 16,
    dims: int = 64,
) -> DataFrame:
    """Approximate cosine top-k in the :func:`jl_project` space: project
    corpus and query with the SAME deterministic plane matrix, then
    exact top-k over the ``out_dims``-wide projections
    (:func:`cosine_topk` semantics — round-4 sims, id tie-break).
    Returns ``(id, sim)`` where ``sim`` is the PROJECTED-space cosine:
    an unbiased-angle shortlist scorer, not the exact similarity — a
    deployment re-ranks the shortlist against the float vectors
    (:func:`pq.pq_rerank_topk`'s two-stage contract). The query frame
    follows :func:`_one_query`'s contract.

    100 TB shape: the corpus-sized work is one narrow projection +
    the ``out_dims``-wide scoring scan — ``dims / out_dims`` fewer
    bytes through the top-k than brute :func:`cosine_topk`; the query
    projects via the same broadcast literal.

    Fixed columns: id ``vec_id``, query vector ``q``, vector
    ``embedding``."""
    # the query row is read ONCE (:func:`_one_query`) and reused: qproj
    # below is built from the collected vector, not a second scan of
    # the query frame
    row = _one_query(query.select(F.col("q").alias("__qv")), "jl_topk")
    if row is None:
        return _empty_topk(df)
    proj = jl_project(df, out_dims, dims, id_col="vec_id", vec_col="embedding")
    qdf = df.sparkSession.createDataFrame(
        [(0, [float(x) for x in row[0]])],
        schema="__qid bigint, __qv array<double>",
    )
    qproj = jl_project(
        qdf, out_dims, dims, id_col="__qid", vec_col="__qv"
    ).select(F.col("e").alias("q"))
    return _cosine_topk(proj, qproj, k, "e")


def jl_rerank_topk(
    df: DataFrame,
    query: DataFrame,
    k: int = 10,
    shortlist_n: int = 100,
    out_dims: int = 16,
    dims: int = 64,
) -> DataFrame:
    """The two-stage contract :func:`jl_topk` deploys under (the
    :func:`..pq.pq_rerank_topk` shape): the JL-projected space
    produces a ``shortlist_n`` candidate list, then ONLY those rows'
    float vectors pay the exact round-4 cosine top-``k``
    (:func:`cosine_topk`'s sim desc / id asc tie rule). The projected
    space's job is never final ranking — it is shrinking the
    full-width scoring from the corpus to ``shortlist_n`` rows while
    reading ``out_dims / dims`` of the bytes in stage 1.

    100 TB shape: stage 1 is :func:`jl_topk`'s narrow projection +
    ``out_dims``-wide scan; stage 2 broadcast-semi-joins the bounded
    shortlist back into the float table (:func:`..pq._exact_rerank`,
    the PQ/RQ serve paths' stage 2 — no corpus-sized shuffle, the
    semi-join prunes the float scan to shortlist rows).

    Fixed columns: id ``vec_id``, query vector ``q``, vector
    ``embedding``."""
    from dgraph_dbpedia_spark.operators.pq import (
        _exact_rerank,
        _validate_shortlist,
    )

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    _validate_shortlist(shortlist_n, k)
    shortlist = jl_topk(
        df,
        query,
        k=shortlist_n,
        out_dims=out_dims,
        dims=dims,
    )
    return _exact_rerank(shortlist, df, query, k)


def embedding_outliers(df: DataFrame) -> DataFrame:
    """Per-ROW outlier scoring against the row's own group centroid —
    the row-level companion of :func:`embedding_drift` (SemDeDup /
    SSL-prototype data-cleaning staple: a document whose embedding
    sits far from its cluster/source/label centroid is mislabelled,
    off-topic, or embedding-model garbage). Returns ``(id, group,
    sim_to_centroid)`` with the round-4 cosine
    between the row's vector and its group's centroid; LOW sims are
    the outliers. Consumers threshold or window-rank per group — the
    operator itself adds no corpus-wide sort. EVERY input row comes
    back: a NULL/empty vector scores NULL (no direction to compare),
    and a row whose group has NO centroid at all (every vector in the
    group NULL/empty — e.g. one source's embedding batch failed, the
    exact population an outlier monitor exists to surface — or a NULL
    group key) also scores NULL via the left join, instead of
    silently vanishing from the report (r12 review).

    Determinism (oracle-replayable): centroids are per-position means
    rounded to 6 decimals with the -0.0 fold (the
    :func:`embedding_drift` / Lloyd rule); the per-row cosine is the
    package's sequential fold over the ROUNDED centroid.

    100 TB shape: centroid build is ONE posexplode ->
    partial-aggregable (group, pos) shuffle bounded by groups x dims
    rows per map partition; the bounded groups x dims centroid frame
    broadcast-joins back, so scoring is a second NARROW corpus pass —
    no corpus-sized shuffle anywhere.

    Fixed columns: group ``label``, id ``vec_id``, vector ``embedding``."""
    with CacheScope() as scope:
        per, gm = _group_centroids(scope, df)
        out = (
            df.select(
                F.col("vec_id"),
                F.col("label").alias("_g"),
                F.col("embedding").cast("array<double>").alias("_v"),
            )
            .join(F.broadcast(gm), "_g", "left")
            .select(
                F.col("vec_id"),
                F.col("_g").alias("label"),
                F.round(cosine("_v", "_gm"), 4).alias(
                    "sim_to_centroid"
                ),
            )
        )
        return scope.hand(out, per)


def _knn_majority(
    a: DataFrame,
    b: DataFrame,
    k: int,
    candidate_pairs: DataFrame | None,
    carry: list[str],
) -> DataFrame:
    """ONE definition of the k-NN vote chain shared by
    :func:`knn_label_noise_report` and :func:`knn_classify` (the
    rank/vote rules cannot silently desynchronize): score the
    candidate pairs (round-6 cosine through the :func:`pair_cosine_arrow`
    einsum kernel), keep each query's
    top-``k`` (sim desc, nid asc; NULL sims excluded — a zero-norm/
    NULL vector must not claim a rank slot, and Spark/DuckDB disagree
    on where NULLs sort under DESC), then the per-query majority vote
    (count desc, label asc).

    ``a`` carries ``(_qid, _qv, _qn, *carry)``; ``b`` carries
    ``(_nid, _nv, _nn, _nlab)``. Returns one row per query:
    ``(_qid, *carry, _nlab, _c, _tot)`` — the winning label, its vote
    count, and the total top-k votes cast."""
    from pyspark.sql import Window

    if candidate_pairs is None:
        pairs = a.crossJoin(b)
    else:
        # a candidate pair is a SET member, not a multiplicity: band
        # joins emit one row per shared band, and a duplicated
        # (qid, nid) pair would occupy multiple top-k rank slots and
        # vote multiple times (ADVICE r14). The dedup is one extra
        # shuffle of the narrow two-key frame before the vector joins
        # — a no-op for the in-repo cid equi-join callers, a
        # correctness guard for any band-join source.
        pairs = (
            candidate_pairs.select(
                F.col("qid").alias("_qid"), F.col("nid").alias("_nid")
            )
            .dropDuplicates(["_qid", "_nid"])
            .join(a, "_qid")
            .join(b, "_nid")
        )
    sim = pair_cosine_arrow(6)(
        F.col("_qv"), F.col("_nv"), F.col("_qn"), F.col("_nn")
    )
    w_rank = Window.partitionBy("_qid").orderBy(
        F.col("_sim").desc(), F.col("_nid").asc()
    )
    top = (
        pairs.where(F.col("_qid") != F.col("_nid"))
        .select(
            "_qid",
            *carry,
            "_nid",
            "_nlab",
            sim.alias("_sim"),
        )
        .where(F.col("_sim").isNotNull())
        .withColumn("_rn", F.row_number().over(w_rank))
        .where(F.col("_rn") <= k)
    )
    w_maj = Window.partitionBy("_qid").orderBy(
        F.col("_c").desc(), F.col("_nlab").asc()
    )
    w_all = Window.partitionBy("_qid")
    return (
        top.groupBy("_qid", *carry, "_nlab")
        .agg(F.count(F.lit(1)).alias("_c"))
        .withColumn("_tot", F.sum("_c").over(w_all))
        .withColumn("_mr", F.row_number().over(w_maj))
        .where(F.col("_mr") == 1)
        .drop("_mr")
    )


#: blocks above this many rows raise in the block-kernel k-NN lane: the
#: kernel holds one m x m sims matrix per block (m=32768 -> 8 GiB of
#: doubles) — a bigger block means the blocking is too coarse, and the
#: right fix is more centroids, not a bigger matrix
KNN_MAX_BLOCK_ROWS = 32_768


def _knn_block_majority(
    lab: DataFrame,
    block_assign: DataFrame,
    k: int,
) -> DataFrame:
    """Block-kernel twin of :func:`_knn_majority` for the
    SAME-BLOCK candidate structure: instead of expanding every
    candidate pair into a row that carries BOTH full vectors (the
    pair lane ships ~n^2/n_blocks * 2 * dims doubles through Arrow —
    measured 324 s at the 50k/256-centroid point), group the corpus
    by block and run ONE ``applyInPandas`` kernel per block: one
    ``X @ X.T`` per block over vectors shipped ONCE, then the
    identical rank (round-6 sim desc, id asc via a stable argsort
    over id-sorted rows) and vote (count desc, label
    asc via dense ``np.unique`` codes + first-argmax) rules. Norms
    are computed SPARK-SIDE with the native fold and shipped in (the
    pair-lane rule — the kernel never re-associates the norm sum);
    ``sim = round(dot / (n_i * n_j), 6)`` HALF_UP, NULL/zero-norm
    rows neither vote nor query. Returns the :func:`_knn_majority`
    shape ``(_qid, _qlab, _nlab, _c, _tot)``.

    Bit-equality with the pair lane is pinned in
    tests/test_similarity.py (same matmul-vs-fold damping argument as
    :func:`pair_cosine_arrow`). Restrictions (loud, not silent):
    uniform vector width within a block, and at most
    ``KNN_MAX_BLOCK_ROWS`` rows per block — both raise.

    Fixed columns: id ``vec_id``, label ``label``, vector ``embedding``."""
    joined = lab.select(
        F.col("vec_id").alias("_id"),
        F.col("embedding").cast("array<double>").alias("_v"),
        F.col("label").alias("_lab"),
    ).withColumn("_n", _norm(F.col("_v"))).join(
        block_assign.select(
            F.col("vec_id").alias("_id"), F.col("cid").alias("_blk")
        ),
        "_id",
    )
    lab_type = lab.schema["label"].dataType.simpleString()
    id_type = lab.schema["vec_id"].dataType.simpleString()
    out_schema = (
        f"_qid {id_type}, _qlab {lab_type}, _nlab {lab_type}, "
        "_c long, _tot long"
    )

    def vote_block(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np  # noqa: F811 — resolve inside the worker

        pdf = pdf.sort_values("_id").reset_index(drop=True)
        m = len(pdf)
        if m > KNN_MAX_BLOCK_ROWS:
            raise ValueError(
                f"k-NN block of {m} rows exceeds KNN_MAX_BLOCK_ROWS="
                f"{KNN_MAX_BLOCK_ROWS} — use more centroids in the "
                "blocking, not a bigger in-kernel matrix"
            )
        vs = pdf["_v"].tolist()
        widths = {len(v) for v in vs if v is not None}
        if len(widths) > 1:
            raise ValueError(
                f"k-NN block mixes vector widths {sorted(widths)} — "
                "the block kernel requires a uniform width per block "
                "(the pair lane handles ragged corpora)"
            )
        dim = widths.pop() if widths else 0
        valid = np.fromiter(
            (v is not None for v in vs), dtype=bool, count=m
        )
        ns = pdf["_n"].to_numpy(dtype=np.float64, na_value=np.nan)
        valid &= np.isfinite(ns) & (ns > 0.0)
        if dim == 0 or not valid.any() or m < 2:
            return pd.DataFrame(
                {c: [] for c in ("_qid", "_qlab", "_nlab", "_c", "_tot")}
            )
        X = np.zeros((m, dim), dtype=np.float64)
        for i in np.nonzero(valid)[0]:
            X[i] = vs[i]
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = (X @ X.T) / np.outer(ns, ns)
        sims = _round_half_up_np(sims, 6)
        sims = np.where(np.isnan(sims), -np.inf, sims)
        sims[:, ~valid] = -np.inf
        sims[~valid, :] = -np.inf
        np.fill_diagonal(sims, -np.inf)
        order = np.argsort(-sims, axis=1, kind="stable")[:, :k]
        top_ok = np.take_along_axis(sims, order, axis=1) > -np.inf
        labs = pdf["_lab"].to_numpy()
        uniq, codes = np.unique(labs, return_inverse=True)
        counts = np.zeros((m, len(uniq)), dtype=np.int64)
        rows = np.repeat(np.arange(m), order.shape[1])
        flat_ok = top_ok.ravel()
        np.add.at(
            counts,
            (rows[flat_ok], codes[order.ravel()[flat_ok]]),
            1,
        )
        tot = counts.sum(axis=1)
        keep = tot > 0
        win = counts.argmax(axis=1)  # first max = lowest label code
        return pd.DataFrame(
            {
                "_qid": pdf["_id"].to_numpy()[keep],
                "_qlab": labs[keep],
                "_nlab": uniq[win][keep],
                "_c": counts[np.arange(m), win][keep],
                "_tot": tot[keep],
            }
        )

    return joined.groupBy("_blk").applyInPandas(vote_block, out_schema)


def knn_label_noise_report(
    df: DataFrame,
    k: int = 5,
    candidate_pairs: DataFrame | None = None,
    block_assign: DataFrame | None = None,
) -> DataFrame:
    """Per-label k-NN label-noise audit (the confident-learning /
    cleanlab screen, Northcutt et al. 2021): each labeled vector's
    ``k`` nearest neighbors vote, and a majority label disagreeing
    with the row's own label marks it SUSPECT — the mislabeled-data
    detector a classifier-training pipeline runs before fitting.
    Returns one row per label: ``(label, n, n_suspect, noise_rate)``
    with ``noise_rate = round(n_suspect / n, 4)``.

    Determinism (oracle-replayable): neighbor rank is the package's
    standard (round-6 cosine DESC, neighbor id ASC);
    the vote is (count DESC, label ASC) — ties always resolve to the
    lowest label. NULL-labeled rows are excluded from BOTH sides
    (they can neither be audited nor vote).

    100 TB shape: exact mode is the O(n^2) audit you run on a sample
    or a label-stratified slice. At corpus scale pass
    ``candidate_pairs`` — a ``(qid, nid)`` frame from any blocked
    pair source (the IVF cid equi-join, :func:`ann_join` buckets, an
    LSH band join); the identical rank/vote then runs over the
    restricted candidate set (n^2 / n_lists work), and the report is
    exact over those candidates. Everything downstream of the pair
    set is windows over per-query k-row groups plus two
    partial-aggregable label-key counts — nothing corpus-sized
    shuffles beyond the pair set itself.

    Pairs score through the pinned :func:`pair_cosine_arrow` kernel
    (one einsum per Arrow batch — the interpreted per-pair fold
    measured 117 s on the 4M exact pairs at the 2k-vector bench
    point, the package's slow-path class):
    ``round(try_divide(dot, na * nb), 6)`` with norms
    precomputed per side.

    ``block_assign`` (an ``(id, cid)`` frame, mutually exclusive with
    ``candidate_pairs``) is the same-block candidate structure in its
    EFFICIENT form: equivalent to passing the cid equi-join pairs,
    but executed as one :func:`_knn_block_majority` kernel per block
    — vectors cross Arrow once per block instead of twice per pair
    (50k/256-centroid point: 324 s pair lane -> see BENCH_SCALE r14
    for the block lane), identical results (pinned).

    Fixed columns: id ``vec_id``, label ``label``, vector ``embedding``."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if candidate_pairs is not None and block_assign is not None:
        raise ValueError(
            "candidate_pairs and block_assign are mutually exclusive "
            "candidate structures"
        )
    lab = df.where(F.col("label").isNotNull())
    if block_assign is not None:
        maj = _knn_block_majority(lab, block_assign, k)
    else:
        a = lab.select(
            F.col("vec_id").alias("_qid"),
            F.col("embedding").cast("array<double>").alias("_qv"),
            F.col("label").alias("_qlab"),
        ).withColumn("_qn", _norm(F.col("_qv")))
        b = lab.select(
            F.col("vec_id").alias("_nid"),
            F.col("embedding").cast("array<double>").alias("_nv"),
            F.col("label").alias("_nlab"),
        ).withColumn("_nn", _norm(F.col("_nv")))
        maj = _knn_majority(a, b, k, candidate_pairs, carry=["_qlab"])
    return maj.groupBy(F.col("_qlab").alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.when(F.col("_nlab") != F.col("_qlab"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_suspect"),
    ).select(
        "label",
        "n",
        "n_suspect",
        F.round(F.col("n_suspect") / F.col("n"), 4).alias("noise_rate"),
    )


def knn_classify(
    unlabeled: DataFrame,
    labeled: DataFrame,
    k: int = 5,
    candidate_pairs: DataFrame | None = None,
) -> DataFrame:
    """Semi-supervised k-NN labeling: each unlabeled vector takes the
    majority label of its ``k`` nearest LABELED neighbors — the
    label-propagation step a weak-supervision pipeline runs to extend
    a small gold set over a large corpus (the transductive 1-hop
    form). Returns one row per classifiable query: ``(id,
    predicted_label, n_votes, vote_frac)`` with ``vote_frac =
    round(n_votes / total_topk_votes, 4)`` as the confidence proxy.
    A query with NO scoreable labeled neighbor (empty labeled side,
    all-NULL sims) is ABSENT — no vote, no guess.

    Rank/vote/NULL rules are byte-identical to
    :func:`knn_label_noise_report` (ONE definition,
    :func:`_knn_majority`); NULL-labeled rows on the labeled side are
    excluded (they cannot vote). Queries and voters may share ids —
    a self-pair (same id both sides) is excluded like the audit's.

    100 TB shape: same as the audit — exact mode crossJoins (the
    small-gold-set x corpus case where ONE side is bounded is its
    sweet spot: Catalyst broadcasts the small side); at corpus x
    corpus scale pass ``candidate_pairs`` from a blocked source and
    the vote runs over n^2 / n_lists work.

    Fixed columns: id ``vec_id``, label ``label``, vector ``embedding``."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    a = unlabeled.select(
        F.col("vec_id").alias("_qid"),
        F.col("embedding").cast("array<double>").alias("_qv"),
    ).withColumn("_qn", _norm(F.col("_qv")))
    b = labeled.where(F.col("label").isNotNull()).select(
        F.col("vec_id").alias("_nid"),
        F.col("embedding").cast("array<double>").alias("_nv"),
        F.col("label").alias("_nlab"),
    ).withColumn("_nn", _norm(F.col("_nv")))
    maj = _knn_majority(a, b, k, candidate_pairs, carry=[])
    return maj.select(
        F.col("_qid").alias("vec_id"),
        F.col("_nlab").alias("predicted_label"),
        F.col("_c").cast("long").alias("n_votes"),
        F.round(F.col("_c") / F.col("_tot"), 4).alias("vote_frac"),
    )
