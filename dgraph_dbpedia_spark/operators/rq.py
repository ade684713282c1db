"""Residual quantization (RQ) — the ADDITIVE compression sibling of
product quantization.

Chen, Guan & Wang, "Approximate Nearest Neighbor Search by Residual
Vector Quantization" (Sensors 2010; the FAISS ``ResidualQuantizer`` /
RQ-VAE layout): quantize the FULL vector with a first k-means
codebook, then quantize the RESIDUAL ``x - c1`` with a second, and so
on — the reconstruction is the SUM ``c1 + c2 + ...`` rather than PQ's
concatenation of subspace centroids. Where PQ splits dimensions, RQ
splits MAGNITUDE: each stage spends its codebook on whatever error the
previous stages left anywhere in the vector, which wins when variance
is concentrated in a few directions rather than spread evenly across
subspaces.

Engine mapping (all JVM-native, oracle-replayable — no SVD, no
randomness, unlike OPQ):

- each stage trains with the package's ONE deterministic L2 Lloyd
  (:func:`..pq.pq_train` with ``m=1``: lowest-id seeds, round-6
  squared-L2 assignment with dense-cid-asc ties, per-iteration
  rounded means, empty clusters keep their previous centroid);
- residuals between stages are exact double subtractions of the
  ROUNDED centroids (both engines compute identical values);
- encoding is a greedy per-stage nearest — a pure projection against
  ONE broadcast codebook row, shuffle-free over the corpus;
- ADC scoring folds TWO bounded broadcast tables: per (stage, cid)
  dot/norm terms, plus the k1 x k2 cross-dot table the additive
  reconstruction norm needs (``|c1 + c2|^2 = |c1|^2 + |c2|^2 +
  2 c1.c2`` — separable per stage EXCEPT the cross term, which PQ's
  orthogonal subspaces make zero by construction and RQ must carry).

Approximation contract mirrors :func:`..pq.pq_topk`: ``sim`` is the
round-4 ADC cosine of the reconstruction; recall is pinned by pytest,
never assumed; the deployed contract is shortlist-for-exact-re-rank
(:func:`..pq._exact_rerank` composes unchanged).
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints must resolve
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dgraph_dbpedia_spark.operators.cachectl import CacheScope
from dgraph_dbpedia_spark.operators.pq import (
    _exact_rerank,
    _nearest_l2,
    _read_codebooks,
    _validate_shortlist,
    encode_codes_arrow,
    pq_train,
)
from dgraph_dbpedia_spark.operators.similarity import (
    _dot,
    _empty_topk,
    _one_query,
    _served_probe,
)


def _rq_validate(dims: int, k_sub: int, n_levels: int) -> None:
    if dims < 1:
        raise ValueError(f"dims must be >= 1, got {dims}")
    if k_sub < 1:
        raise ValueError(f"k_sub must be >= 1, got {k_sub}")
    if n_levels < 1:
        raise ValueError(f"n_levels must be >= 1, got {n_levels}")


def _stage_row(codebooks: DataFrame, lvl: int) -> DataFrame:
    """One stage's bounded ``(cid, c)`` rows folded to ONE broadcast
    row ``_cent`` (the shape :func:`..pq._nearest_l2` consumes)."""
    return (
        codebooks.where(F.col("lvl") == lvl)
        .agg(
            F.collect_list(F.struct(F.col("cid"), F.col("c"))).alias(
                "_cent"
            )
        )
    )


def _winning_c():
    """The winning centroid's vector, picked from the bound ``_cent``
    broadcast list by the bound ``_b`` struct's cid (both must already
    be generated attributes of the current select — see the
    CollapseProject notes at the call sites)."""
    return F.get(
        F.filter(
            F.col("_cent"), lambda s: s["cid"] == F.col("_b")["cid"]
        ),
        0,
    )["c"]


def _stage_code(cb: DataFrame, dims: int, vec: Column) -> Column:
    """``vec``'s nearest centroid id in the stage codebook ``cb``
    (``cid, c`` rows): rq_train's between-stage residual assignment.

    A single-stage Arrow encode against the just-trained (checkpointed,
    bounded) codebook: one bounded driver read + one matmul kernel
    instead of the full-dim ``n x k_sub`` HOF fold. Width mask: the
    residual is a zip_with over the FULL vector (no slicing), whose
    native nearest-centroid fold NULL-pads a vector LONGER than dims
    -> d NULL -> cid 0, while the encode kernel would prefix-encode
    it. Masking non-dims-width vectors to NULL reproduces the fold's
    code-0 class for them (shorter/NULL rows already land there).
    Pinned equal to the first code of :func:`_rq_encode_native`."""
    enc = encode_codes_arrow(
        _read_codebooks(
            cb.select(F.lit(0).alias("lvl"), "cid", "c"), "lvl", 1, dims,
            "stage",
        )
    )
    masked = F.when(F.size(vec) == F.lit(dims), vec)
    return F.get(enc(masked), 0)


def rq_train(
    df: DataFrame,
    dims: int,
    k_sub: int = 16,
    n_levels: int = 2,
    n_iter: int = 2,
    vec_col: str = "embedding",
) -> DataFrame:
    """Train the ``n_levels`` stage codebooks greedily (the standard
    RQ recipe: stage ``l`` k-means the residuals stage ``l-1`` left).
    Returns ``(lvl, cid, c)`` — ``n_levels * k_sub`` bounded rows,
    cids DENSE in 0..k_sub-1 per stage, components rounded to
    4 decimals (bit-reproducible across engines and
    partitionings — the ivf_train/pq_train contract).

    100 TB shape: each stage is one :func:`..pq.pq_train` ``m=1`` run
    (fused corpus pass per iteration) plus, between stages, ONE
    shuffle-free assignment projection producing the residual frame
    (localCheckpoint-ed so stage ``l+1``'s iterations re-read a
    materialized frame instead of re-deriving ``l`` stages of
    residuals per pass).

    BOTH per-row L2 assignments run the pinned
    :func:`..pq.encode_codes_arrow` kernel: the stage Lloyd iterations
    (via :func:`..pq.pq_train`) and the between-stage residual
    assignment (an ``m=1`` single-stage encode against the
    just-trained codebook; the winning centroid is picked natively
    from the broadcast stage row by the returned cid, and the residual
    subtraction stays the exact native ``zip_with``). RQ's native
    full-dim fold is the package's worst interpreted assignment —
    ``n x k_sub x dims`` HOF multiply-adds per pass made k_sub=256
    training unrunnable at 200k vectors (BENCH_SCALE r12) — while the
    kernel's assignments stay bit-equal to it (pinned against
    :func:`..pq._pq_encode_native`), so trained values and the DuckDB
    replay match the fold's.

    Fixed columns: id ``vec_id``."""
    _rq_validate(dims, k_sub, n_levels)
    cur = df.select(
        F.col("vec_id"), F.col(vec_col).cast("array<double>").alias("_rv")
    )
    out: DataFrame | None = None
    # stage residual checkpoints are only read while the NEXT stage
    # trains, and `out` is built solely from pq_train's own
    # checkpointed (lineage-free) frames — so the scope frees EVERY
    # residual checkpoint when training ends
    with CacheScope() as scope:
        for lvl in range(n_levels):
            cb = pq_train(
                cur,
                dims,
                m=1,
                k_sub=k_sub,
                n_iter=n_iter,
                vec_col="_rv",
            ).select(F.lit(lvl).alias("lvl"), "cid", "c")
            out = cb if out is None else out.unionByName(cb)
            if lvl < n_levels - 1:
                stage = _stage_row(cb, lvl)
                # the cid binds in its OWN select (CollapseProject) and the
                # winning centroid/residual stay native
                asg = cur.select(
                    F.col("vec_id"),
                    F.col("_rv"),
                    _stage_code(cb, dims, F.col("_rv")).alias("_c0"),
                ).crossJoin(F.broadcast(stage))
                win = F.get(
                    F.filter(
                        F.col("_cent"), lambda s: s["cid"] == F.col("_c0")
                    ),
                    0,
                )["c"]
                cur = scope.checkpoint(
                    asg.select(
                        F.col("vec_id"),
                        F.zip_with("_rv", win, lambda a, b: a - b).alias("_rv"),
                    )
                )
        return out


def rq_codes_arrow(cmats):
    """Vectorized twin of the native greedy encode for ``n_levels``
    stages: per Arrow batch and stage, ONE norm-expansion matmul
    ``||x||^2 - 2 x.C^T + ||c||^2`` (the :func:`..pq.encode_codes_arrow`
    memory shape — ``(batch, k_sub)``, never a broadcast tensor) +
    round-6 HALF_UP + first-min ``argmin`` (the native L2-asc/cid-asc
    tie rule), then the residual ``x - C[code]`` feeds the next stage.
    Bit-equality posture matches the PQ kernel (pinned on real data by
    pytest; cancellation negatives clamped to 0 so a self-match can't
    round to -0.0). Degenerate rows match the native lane: a NULL or
    width-mismatched vector takes code 0 at EVERY stage (native:
    NULL-padded distances against every centroid tie to the lowest
    dense cid), and a non-finite vector — or a non-finite CENTROID —
    ranks by the native finite < inf < NaN tier rule via
    :func:`..pq._l2_codes_np` (code 0 against a finite codebook; RQ
    uses the FULL vector, so one bad component degrades the whole
    row, unlike PQ's per-subspace containment). Native reference:
    :func:`_rq_encode_native`."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    from dgraph_dbpedia_spark.operators.pq import _l2_codes_np

    n_levels = len(cmats)
    dims = int(cmats[0].shape[1])
    cnorms = [(C * C).sum(axis=1) for C in cmats]

    def enc(emb: pd.Series) -> pd.Series:
        import numpy as np  # noqa: F811 — resolve inside the worker

        n = len(emb)
        if n == 0:
            return pd.Series([], dtype=object)
        vals = emb.tolist()
        bad = np.fromiter(
            (v is None or len(v) != dims for v in vals),
            dtype=bool,
            count=n,
        )
        X = np.zeros((n, dims), dtype=np.float64)
        for i, v in enumerate(vals):
            if not bad[i]:
                X[i] = v
        # non-finite rows are NOT zeroed: _l2_codes_np recomputes
        # their distance rows elementwise to the native inf/NaN class
        # and ranks finite < inf < NaN, so their codes — and their
        # propagated non-finite residuals — match the native lane
        # even against a codebook that itself carries non-finite
        # centroids (the r12 training-lane finding)
        codes = np.zeros((n, n_levels), dtype=np.int64)
        R = X
        for lvl, C in enumerate(cmats):
            cl = _l2_codes_np(R, C, cnorms[lvl])
            cl[bad] = 0
            codes[:, lvl] = cl
            if lvl < n_levels - 1:
                R = R - C[cl]
        return pd.Series([[int(c) for c in row] for row in codes])

    return pandas_udf(enc, ArrayType(IntegerType()))


def rq_encode(
    df: DataFrame,
    codebooks: DataFrame,
    dims: int,
    n_levels: int = 2,
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy RQ encoding: per stage, the nearest centroid of the
    running residual (round-6 L2 asc, cid asc). Returns ``(id, codes:
    array<int>)`` with ``codes[l]`` the stage-``l`` dense cid —
    SHUFFLE-FREE over the corpus (the pq_encode posture): the
    validated bounded codebook frame is collected driver-side and
    both stages encode as one norm-expansion matmul per Arrow batch
    (:func:`rq_codes_arrow`) — the interpreted full-dim
    ``k_sub``-centroid fold per row per stage is the measured encode
    cost at the 200k/k_sub=256 scale point. Pinned bit-equal to
    :func:`_rq_encode_native` by pytest.

    Fixed columns: id ``vec_id``."""
    _rq_validate(dims, k_sub=1, n_levels=n_levels)
    # the reader validates (ONE bounded collect, not
    # validate-then-collect — r12 review)
    enc = rq_codes_arrow(
        _read_codebooks(codebooks, "lvl", n_levels, dims, "stage")
    )
    return df.select(
        F.col("vec_id"),
        enc(F.col(vec_col).cast("array<double>")).alias("codes"),
    )


def _rq_encode_native(
    df: DataFrame,
    codebooks: DataFrame,
    dims: int,
    n_levels: int = 2,
) -> DataFrame:
    """Native reference of :func:`rq_encode` (same contract), kept so
    tests can pin :func:`rq_codes_arrow` against it: one projection
    per stage against ONE broadcast codebook row, residuals carried as
    generated columns between binds (each stage's nearest bound in its
    own select — the CollapseProject trap).

    Fixed columns: id ``vec_id``, vector ``embedding``."""
    _rq_validate(dims, k_sub=1, n_levels=n_levels)
    _read_codebooks(codebooks, "lvl", n_levels, dims, "stage")
    cur = df.select(
        F.col("vec_id"), F.col("embedding").cast("array<double>").alias("_rv")
    )
    code_cols: list[str] = []
    for lvl in range(n_levels):
        stage = _stage_row(codebooks, lvl)
        bound = cur.crossJoin(F.broadcast(stage)).select(
            "*",
            _nearest_l2(F.col("_rv"), F.col("_cent")).alias("_b"),
        )
        ccol = f"_c{lvl}"
        sel = [F.col("vec_id")] + [F.col(c) for c in code_cols]
        sel.append(F.col("_b")["cid"].alias(ccol))
        if lvl < n_levels - 1:
            sel.append(
                F.zip_with("_rv", _winning_c(), lambda a, b: a - b).alias(
                    "_rv"
                )
            )
        cur = bound.select(*sel)
        code_cols.append(ccol)
    return cur.select(
        F.col("vec_id"),
        F.array(*[F.col(c) for c in code_cols]).alias("codes"),
    )


def rq_topk(
    codes_df: DataFrame,
    codebooks: DataFrame,
    query: DataFrame,
    dims: int,
    k: int = 10,
) -> DataFrame:
    """ADC top-k over an RQ-encoded corpus (2-stage layout): per
    corpus row, the approximate cosine of the ADDITIVE reconstruction
    ``c1 + c2`` against the query —

        sim = (q.c1 + q.c2) /
              (sqrt(|c1|^2 + |c2|^2 + 2 c1.c2) * |q|)

    — via O(1) positional lookups into TWO bounded broadcast tables:
    the per-(stage, cid) ``(dq, cc)`` table (2 k_sub entries) and the
    ``k_sub^2`` cross-dot table for the one term additivity does not
    separate. A code outside the codebook yields NULL sim (the
    foreign-codebook contract); top-k is TakeOrdered (sim desc, id
    asc). Only the 2-stage form is served — deeper chains compose as
    shortlist + :func:`rq_rerank_topk`'s exact stage anyway. The query
    frame follows :func:`..similarity._one_query`'s contract, and its
    width must be ``dims``.

    Fixed columns: codes ``codes``, id ``vec_id``, query vector ``q``."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    # shared bounded validation (coverage, density, centroid width):
    # rq_topk serves the 2-stage layout — deeper chains compose as
    # shortlist + exact re-rank anyway
    k_sub = len(_read_codebooks(codebooks, "lvl", 2, dims, "stage")[0])
    q = query.select(F.col("q").cast("array<double>").alias("qv"))
    row = _one_query(q, "rq_topk")
    if row is None:
        return _empty_topk(codes_df)
    if len(row["qv"]) != dims:
        raise ValueError(
            f"query width {len(row['qv'])} != dims {dims} — a "
            "mismatched zip_with dot would NULL-pad into silently "
            "all-NULL sims"
        )
    # table 1: per (lvl, cid) -> (dq = q.c, cc = |c|^2), flat at
    # position lvl * k_sub + cid; plus |q| — ONE broadcast row
    tab = (
        codebooks.crossJoin(F.broadcast(q))
        .select(
            (F.col("lvl") * k_sub + F.col("cid")).alias("_idx"),
            _dot("c", "qv").alias("dq"),
            _dot("c", "c").alias("cc"),
            F.sqrt(_dot("qv", "qv")).alias("_qn"),
        )
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("_idx", "dq", "cc"))
                ),
                lambda s: F.struct(s["dq"].alias("dq"), s["cc"].alias("cc")),
            ).alias("_tab"),
            F.max("_qn").alias("_qn"),
        )
    )
    # table 2: the k_sub^2 cross dots c1.c2, flat at cid1 * k_sub +
    # cid2 — the additive reconstruction's non-separable term
    c0 = codebooks.where(F.col("lvl") == 0).select(
        F.col("cid").alias("_c1"), F.col("c").alias("_ca")
    )
    c1 = codebooks.where(F.col("lvl") == 1).select(
        F.col("cid").alias("_c2"), F.col("c").alias("_cb")
    )
    cross = (
        c0.crossJoin(c1)
        .select(
            (F.col("_c1") * k_sub + F.col("_c2")).alias("_idx"),
            _dot("_ca", "_cb").alias("x"),
        )
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_idx", "x"))),
                lambda s: s["x"],
            ).alias("_xs")
        )
    )
    code0 = F.get(F.col("codes"), 0)
    code1 = F.get(F.col("codes"), 1)
    # every lookup bound in ONE select before the sim expression
    # references them (CollapseProject)
    with_lk = (
        codes_df.select(F.col("vec_id"), F.col("codes"))
        .crossJoin(F.broadcast(tab))
        .crossJoin(F.broadcast(cross))
        .select(
            F.col("vec_id"),
            F.get(F.col("_tab"), code0).alias("_t0"),
            F.get(F.col("_tab"), F.lit(k_sub) + code1).alias("_t1"),
            F.get(F.col("_xs"), code0 * k_sub + code1).alias("_x"),
            F.col("_qn"),
        )
    )
    # clamp: unlike PQ's recon (a sum of non-negative cc terms), the
    # additive |c1 + c2|^2 is computed by CANCELLATION (cc0 + cc1 +
    # 2x with x possibly ~ -(cc0+cc1)/2) and can round to a tiny
    # NEGATIVE — sqrt would then yield NaN, which sorts FIRST under
    # desc ordering and would TOP the k instead of ranking last
    recon_sq = F.greatest(
        with_lk["_t0"]["cc"] + with_lk["_t1"]["cc"] + 2.0 * F.col("_x"),
        F.lit(0.0),
    )
    sim = F.round(
        F.try_divide(
            with_lk["_t0"]["dq"] + with_lk["_t1"]["dq"],
            F.sqrt(recon_sq) * F.col("_qn"),
        ),
        4,
    )
    return (
        with_lk.select(F.col("vec_id"), sim.alias("sim"))
        .orderBy(F.col("sim").desc(), F.col("vec_id"))
        .limit(k)
    )


def rq_rerank_topk(
    codes_df: DataFrame,
    codebooks: DataFrame,
    vectors_df: DataFrame,
    query: DataFrame,
    dims: int,
    k: int = 10,
    shortlist_n: int = 100,
) -> DataFrame:
    """The two-stage RQ deployment contract: ADC shortlist over the
    additive codes, exact round-4 cosine over the shortlisted ids'
    float vectors — the same :func:`..pq._exact_rerank` stage the PQ
    paths share (one definition, serve paths cannot diverge).

    Fixed columns: codes ``codes``, id ``vec_id``, query vector ``q``,
    vector ``embedding``."""
    _validate_shortlist(shortlist_n, k)
    shortlist = rq_topk(
        codes_df,
        codebooks,
        query,
        dims=dims,
        k=shortlist_n,
    )
    return _exact_rerank(shortlist, vectors_df, query, k)


def rq_ivf_topk_served(
    codes_df: DataFrame,
    codebooks: DataFrame,
    coarse_centroids: DataFrame,
    query: DataFrame,
    k: int = 10,
) -> DataFrame:
    """The IVF-RQ serve path (the residual-quantization twin of
    :func:`..pq.pq_ivf_topk_served`): coarse IVF probe over the
    bounded float centroids (cosine, the package's standard probe
    rule) -> ONE literal ``cid IN (...)`` predicate that
    partition-prunes the RQ code lists at the scan -> additive-ADC
    re-rank inside the probed lists only (:func:`rq_topk`).

    ``codes_df`` is the materialized ``(id, codes, cid)`` frame —
    encode with :func:`rq_encode`, attach the coarse cid from
    :func:`..similarity.ivf_assign`, write partitioned by ``cid``
    (the served-index v5 ``rq_codes/`` layout). At 100 TB a probe
    reads 2 of ``k_coarse`` lists at ``n_levels`` code
    ints per vector — the two pruning levers multiply. Empty
    centroid frame or empty query -> empty result (the float twin's
    contract).

    Fixed: 64-d vectors; columns codes ``codes``, id ``vec_id``, query
    vector ``q``."""
    return _served_probe(
        codes_df,
        coarse_centroids,
        query,
        2,
        "rq_ivf_topk_served",
        lambda lists: rq_topk(lists, codebooks, query, dims=64, k=k),
    )
