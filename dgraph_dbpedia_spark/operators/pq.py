"""Product quantization (PQ) — the billion-scale ANN compression step.

Jegou, Douze & Schmid, "Product Quantization for Nearest Neighbor
Search" (TPAMI 2011): split each vector into ``m`` contiguous
subvectors, k-means each subspace independently (``k_sub`` centroids),
and store a vector as ``m`` small codes. With m=8, k_sub=256 a 768-dim
float32 vector compresses 384x (8 bytes vs 3 KB); queries score
against codes via Asymmetric Distance Computation (ADC): precompute
the per-subspace (query . centroid) table once per query, then every
corpus vector's approximate dot is ``m`` table lookups — no float
vector is ever read at serve time. This is the FAISS IVF-PQ layout's
quantization half; composing with the package's IVF serve path
(partition-pruned code lists by coarse cid) is the full index.

Engine mapping (all JVM-native, oracle-replayable):

- training runs the package's ONE deterministic Lloyd loop
  (:func:`..similarity._lloyd_refine`, which ``ivf_train`` also runs):
  lowest-id seeds, per-iteration round-``nd`` means, empty clusters
  keep their previous centroid — but assigns by ROUND-6 L2 DISTANCE
  (PQ reconstructs magnitudes; cosine assignment would collapse every
  scaled copy of a direction into one code);
- encoding is a pure projection against ONE broadcast codebook row;
- ADC scoring is a pure projection against ONE broadcast per-query
  table row — the only shuffle anywhere is training's bounded
  ``(cid, pos)`` means aggregate, and the serve top-k is TakeOrdered.

Approximation contract: ``sim`` is the ADC cosine of the RECONSTRUCTED
vector — ``adc_dot / (||reconstruction|| * ||q||)`` — rounded to 4;
recall vs exact cosine is pinned by pytest, not assumed.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints must resolve
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dgraph_dbpedia_spark.operators.cachectl import CacheScope
from dgraph_dbpedia_spark.operators.similarity import (
    _capped_collect,
    _dot,
    _lloyd_refine,
)


def _l2_sq(a: Column | str, b: Column | str) -> Column:
    """Sequential-fold squared L2 distance (the ``_dot`` discipline:
    deterministic fold order, replayed by the oracle's list_zip
    transform)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _nearest_l2(vec: Column, cents: Column) -> Column:
    """Nearest centroid struct by round-6 squared L2 asc, cid asc —
    the deterministic tie rule every assignment in the package uses,
    in distance form."""
    return F.get(
        F.array_sort(
            F.transform(
                cents,
                lambda c: F.struct(
                    F.round(_l2_sq(vec, c["c"]), 6).alias("d"),
                    c["cid"].alias("cid"),
                ),
            )
        ),
        0,
    )


def _validate_pq(dims: int, m: int, k_sub: int) -> int:
    if m < 1:
        raise ValueError(f"m must be >= 1, got {m}")
    if k_sub < 1:
        raise ValueError(f"k_sub must be >= 1, got {k_sub}")
    if dims < 1 or dims % m:
        raise ValueError(
            f"dims must be a positive multiple of m, got dims={dims} m={m}"
        )
    return dims // m


def pq_train(
    df: DataFrame,
    dims: int,
    m: int = 4,
    k_sub: int = 16,
    n_iter: int = 2,
    vec_col: str = "embedding",
) -> DataFrame:
    """Train the ``m`` per-subspace codebooks. Returns ``(j, cid, c)``
    — ``m * k_sub`` bounded rows (subspace ``j`` in 0..m-1, sub-
    centroid id ``cid`` DENSE in 0..k_sub-1 (the seed rows' id-rank —
    codes fit a uint8 at k_sub <= 256, the production layout), ``c`` the
    ``dims/m``-dim centroid, components rounded to 4 decimals
    so the whole training run is bit-reproducible across engines and
    partitionings — the ivf_train contract).

    100 TB shape: the ``m`` subspace Lloyds run FUSED — all ``m``
    assignments are independent per-row computations over slices of
    the SAME vector, so each iteration is ONE corpus pass emitting
    ``(j, cid, slice)`` for every subspace (an ``inline`` projection
    over the scan, all ``m`` round-6 L2 broadcast folds in one task),
    and the means are ONE partially aggregable ``(j, cid, pos)``
    shuffle bounded by ``m x k_sub x dims/m`` rows per map partition.
    The iteration is the package's ONE Lloyd loop
    (:func:`..similarity._lloyd_refine`, keyed by ``(j, cid)``: rounded
    means, empty-cluster coalesce, per-iteration localCheckpoint and
    release), with the fused assignment passed in. Seeds and their
    width validation stay here; training runs on DENSE cids from the
    start (dense rank preserves seed-id order, so every L2-asc/cid-asc
    tie-break — and therefore every trained value — is bit-identical
    to the per-subspace form the DuckDB oracle replays).

    Each iteration's assignment runs :func:`encode_codes_arrow` — the
    SAME pinned kernel the encode path runs, fed from a bounded
    per-iteration driver read of the just-checkpointed ``m x k_sub``
    codebook frame (the ivf_train pattern). The interpreted per-row
    HOF fold is ``n x m x k_sub x dims/m`` multiply-adds per iteration
    — the measured training wall at production codebook widths
    (BENCH_SCALE r12: RQ's full-dim fold at k_sub=256 made no progress
    in 20 minutes at 200k vectors; the kernel's matmul form is the
    difference between "trainable on a sample" and "not").
    Assignments are bit-equal to the native reference fold
    (:func:`_pq_encode_native`, pinned in tests), so trained values —
    and the DuckDB replay — match the fold's.

    Fixed columns: id ``vec_id``."""
    from pyspark.sql import Window

    sub = _validate_pq(dims, m, k_sub)
    e = df.select(
        F.col("vec_id"), F.col(vec_col).cast("array<double>").alias("_v")
    )
    with CacheScope() as scope:
        # fused seeds: ONE lowest-k_sub-ids scan (the ivf_seed_centroids
        # rule applied once, not per subspace); dense cid = seed-id rank.
        # The Window is over the k_sub-row limit, not the corpus.
        seeds = scope.checkpoint(
            e.orderBy("vec_id")
            .limit(k_sub)
            .select(
                (
                    F.row_number().over(Window.orderBy("vec_id")) - F.lit(1)
                ).alias("cid"),
                "_v",
            )
            .select(
                "cid",
                # w = the SOURCE vector's full width, carried beside every
                # slice: a slice-only check cannot tell a 2*dims-wide
                # vector (whose every slice is still sub-wide) from a
                # complete one (r12 review — the guard must reject BOTH
                # directions of width mismatch)
                F.inline(
                    F.array(
                        *[
                            F.struct(
                                F.lit(j).alias("j"),
                                F.slice("_v", j * sub + 1, sub).alias("c"),
                                F.size("_v").alias("w"),
                            )
                            for j in range(m)
                        ]
                    )
                ),
            )
            .select("j", "cid", "c", "w")
        )
        # loud seed validation (one bounded m x k_sub read of the frame
        # just checkpointed — each iteration re-reads it anyway): a NULL,
        # short, or over-long vector among the k_sub lowest ids would
        # otherwise train a DEGENERATE codebook — an opaque width error
        # inside _read_codebooks, or a dims-prefix of a wider vector
        # (r12 review: a poisoned seed is caller error)
        seed_rows = seeds.collect()
        if not seed_rows:
            raise ValueError(
                "pq_train: empty corpus — no vectors to seed centroids"
            )
        for r in seed_rows:
            if r["c"] is None or len(r["c"]) != sub or r["w"] != dims:
                raise ValueError(
                    f"pq_train: seed (j={r['j']}, cid={r['cid']}) comes "
                    f"from a NULL or non-{dims}-wide vector (width "
                    f"{r['w']}) — the lowest-id seed vectors must be "
                    f"complete {dims}-dim vectors"
                )

        def assign(cent: DataFrame) -> DataFrame:
            # ONE corpus pass for all m subspace assignments, emitted
            # through the inline(array(struct)) barrier. Per-iteration
            # bounded collect of the m x k_sub frame just checkpointed (an
            # X6 read, never a corpus job); the codes column binds in its
            # OWN select so the m get()s below reference ONE Arrow eval,
            # not m CollapseProject-duplicated kernel runs
            enc = encode_codes_arrow(
                _read_codebooks(cent, "j", m, sub, "subspace")
            )
            return e.select("_v", enc(F.col("_v")).alias("_codes")).select(
                F.inline(
                    F.array(
                        *[
                            F.struct(
                                F.lit(j).alias("j"),
                                F.get("_codes", j).alias("cid"),
                                F.slice("_v", j * sub + 1, sub).alias("sv"),
                            )
                            for j in range(m)
                        ]
                    )
                )
            )

        return _lloyd_refine(
            scope, seeds, ["j", "cid"], n_iter, 4, "sv", assign
        )


def _codebook_row(codebooks: DataFrame) -> DataFrame:
    """``(j, cid, c)`` folded to ONE broadcast row ``_cb``."""
    return codebooks.agg(
        F.collect_list(
            F.struct(F.col("j"), F.col("cid"), F.col("c"))
        ).alias("_cb")
    )


def _read_codebooks(
    codebooks: DataFrame, key: str, n_keys: int, width: int, noun: str
):
    """THE codebook reader of the PQ/RQ quantizers: ONE capped driver
    read (:func:`..similarity._capped_collect`) of a ``(key, cid, c)``
    frame — ``key`` is ``j`` (PQ subspace) or ``lvl`` (RQ stage),
    ``noun`` names it in errors — then the contract the positional ADC
    tables and the Arrow kernels rely on, checked on the collected rows
    so a mismatched frame raises LOUDLY instead of emitting silent NULL
    codes or sims: keys cover exactly ``0..n_keys-1``, cids are dense
    ``0..k_sub-1`` with the same ``k_sub`` for every key, and every
    centroid is ``width`` wide. Returns per key a ``(k_sub, width)``
    float64 matrix with rows in dense cid order (``argmin``'s first-min
    tie equals the native L2-asc/cid-asc rule; ``.tolist()`` gives the
    collected doubles back for literal decodes)."""
    import numpy as np

    rows = _capped_collect(
        codebooks.select(
            key, "cid", F.col("c").cast("array<double>").alias("c")
        ),
        "codebooks",
    )
    per: dict[int, list] = {}
    for r in rows:
        per.setdefault(r[key], []).append((r["cid"], r["c"]))
    if sorted(per) != list(range(n_keys)):
        raise ValueError(
            f"codebooks must cover {noun}s 0..{n_keys - 1}, got "
            f"{sorted(per)}"
        )
    k_sub = len(per[0])
    out = []
    for k in range(n_keys):
        ent = sorted(per[k], key=lambda t: t[0])
        if [cid for cid, _ in ent] != list(range(k_sub)):
            raise ValueError(
                f"{noun} {k} cids must be dense 0..{k_sub - 1} (the "
                "trainers emit dense cids)"
            )
        for cid, c in ent:
            w = None if c is None else len(c)
            if w != width:
                raise ValueError(
                    f"{noun} {k} cid {cid} centroid width {w} != {width}"
                )
        out.append(np.asarray([c for _, c in ent], dtype=np.float64))
    return out


def _l2_codes_np(Xj, C, cnorm):
    """Round-6 first-min argmin over squared L2 distances computed by
    the norm-expansion matmul — reproducing the NATIVE fold's ordering
    even when centroids (or rows) carry non-finite components. The
    expansion alone is wrong there: ``inf * 0`` inside ``Xj @ C.T``
    yields NaN columns and ``np.argmin`` returns the first NaN index,
    silently assigning normal rows to whatever cid holds the bad
    centroid (found r12: training at n_iter >= 2 over a corpus with an
    inf vector — iteration 1's cid-0 mean goes inf, iteration 2's
    assignment then diverges between lanes). The native fold's terms
    ``(x - c)^2`` are all >= 0 or NaN, so a bad centroid/row yields
    d = inf (or NaN if any NaN appears) — never a finite value — and
    Spark's ascending sort ranks finite < inf < NaN with ties to the
    lowest cid. Bad columns/rows are recomputed elementwise (bounded:
    only the bad slices) to the native inf/NaN class, then ranked by
    that three-tier rule."""
    import numpy as np

    from dgraph_dbpedia_spark.operators.similarity import (
        _round_half_up_np,
    )

    D = (
        (Xj * Xj).sum(axis=1)[:, None]
        - 2.0 * (Xj @ C.T)
        + cnorm[None, :]
    )
    # cancellation can produce tiny negatives for (near-)self matches;
    # clamp so the rounded distance is 0.0 like the exact fold's
    np.maximum(D, 0.0, out=D)
    val = _round_half_up_np(D, 6)
    badc = ~np.isfinite(C).all(axis=1)
    badr = ~np.isfinite(Xj).all(axis=1)
    if badc.any():
        for j in np.nonzero(badc)[0]:
            # native class exactly: nonneg terms + inf -> inf, any NaN
            # -> NaN (order-independent — no cancellation possible)
            val[:, j] = ((Xj - C[j][None, :]) ** 2).sum(axis=1)
    if badr.any():
        # chunked so an adversarial mostly-non-finite batch can't
        # resurrect the (batch, k, sub) tensor this module removed
        idx = np.nonzero(badr)[0]
        step = max(1, 10_000_000 // (C.shape[0] * C.shape[1]))
        for s in range(0, len(idx), step):
            rows = idx[s:s + step]
            val[rows] = (
                (Xj[rows][:, None, :] - C[None, :, :]) ** 2
            ).sum(axis=2)
    isnan = np.isnan(val)
    if not (isnan.any() or badc.any() or badr.any()):
        return np.argmin(val, axis=1)
    # tier rank: finite by value first (NaN knocked above any finite
    # via +inf), then true-inf columns, then all-NaN -> lowest cid
    key = np.where(isnan, np.inf, val)
    best = np.argmin(key, axis=1)
    rowmin = key[np.arange(key.shape[0]), best]
    fix = np.isinf(rowmin)
    if fix.any():
        infmask = np.isinf(val[fix])
        hasinf = infmask.any(axis=1)
        best[fix] = np.where(hasinf, infmask.argmax(axis=1), 0)
    return best


def encode_codes_arrow(cmats):
    """Vectorized twin of the native per-row encode fold: per Arrow
    batch and subspace, the norm-expansion matmul
    ``||x||^2 - 2 x.C^T + ||c||^2`` (ONE ``(batch, sub) @ (sub,
    k_sub)`` product, a ``(batch, k_sub)`` result) + round-6 +
    first-min ``argmin`` (ties land on the lowest dense cid, the
    native L2-asc/cid-asc rule). The expansion replaces the r11
    broadcasted ``(batch, k_sub, sub)`` squared-difference tensor,
    which at the production shape this module's header advertises
    (m=8, k_sub=256, 768-dim -> sub=96) allocated ~2 GB of float64
    per 10k-row Arrow batch PER TASK — an OOM cliff at exactly the
    scale PQ exists for (VERDICT r11 #2). Same memory shape and
    pattern as ``nearest_centroid_arrow``
    (``operators/similarity.py``), and the same bit-equality posture
    (pinned equal to the native reference :func:`_pq_encode_native` on
    real data by pytest; the FP
    summation path differs from the JVM fold only in the negligible
    round-6 boundary regime its docstring documents — tiny negative
    distances from cancellation are clamped to 0.0 so a self-match
    can't round to -0.0). Degenerate widths match the native lane
    PER SUBSPACE: a subspace whose slice is complete encodes
    normally, one whose slice is short/empty/NULL gets code 0 (the
    native NULL-distance tie lands on the lowest dense cid) — so a
    NULL vector is all-zero codes while a truncated vector keeps its
    leading subspaces' real codes, exactly like ``F.slice`` +
    ``zip_with`` NULL-padding."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    m = len(cmats)
    dims = int(sum(c.shape[1] for c in cmats))
    # hoisted to closure creation (the nearest_centroid_arrow
    # discipline): per-codebook squared norms ship in the closure
    # once, not rebuilt per Arrow batch
    cnorms = [(C * C).sum(axis=1) for C in cmats]

    def enc(emb: pd.Series) -> pd.Series:
        import numpy as np  # noqa: F811 — resolve inside the worker

        n = len(emb)
        if n == 0:
            return pd.Series([], dtype=object)
        vals = emb.tolist()
        lens = np.fromiter(
            (len(v) if v is not None else -1 for v in vals),
            dtype=np.int64,
            count=n,
        )
        X = np.zeros((n, dims), dtype=np.float64)
        for i, v in enumerate(vals):
            if v is not None and len(v):
                w = min(len(v), dims)
                X[i, :w] = v[:w]
        codes = np.zeros((n, m), dtype=np.int64)
        off = 0
        for j, C in enumerate(cmats):
            sub_j = C.shape[1]
            Xj = X[:, off:off + sub_j]
            off += sub_j
            # ||x||^2 - 2 x.c + ||c||^2: (batch, k_sub) — never the
            # (batch, k_sub, sub) broadcast tensor. _l2_codes_np owns
            # the clamp, round-6 first-min rule AND the non-finite
            # centroid/row tiers (finite < inf < NaN, native order).
            cj = _l2_codes_np(Xj, C, cnorms[j])
            # subspace complete only when the vector covers the whole
            # slice — short/NULL slices take code 0 (native NULL tie).
            # Non-finite slices need NO mask here: _l2_codes_np's
            # bad-row path recomputes them elementwise to the native
            # inf/NaN class (code 0 against a finite codebook; the
            # native inf-beats-NaN pick if the codebook itself is bad)
            cj[lens < off] = 0
            codes[:, j] = cj
        return pd.Series([[int(c) for c in row] for row in codes])

    return pandas_udf(enc, ArrayType(IntegerType()))


def pq_encode(
    df: DataFrame,
    codebooks: DataFrame,
    dims: int,
    m: int = 4,
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector as its ``m`` nearest sub-centroid ids.
    Returns ``(id, codes: array<int>)`` (dense 0..k_sub-1 values —
    cast to ``array<tinyint>``/``array<smallint>`` at the sink for the
    byte-tight layout) — the PQ-compressed corpus
    a serve path materializes (compose with an
    :func:`..similarity.ivf_assign` cid and partition by it for the
    full IVF-PQ layout).

    SHUFFLE-FREE over the corpus — a single projection between scan
    and output (the :func:`..similarity.ivf_assign` posture): the
    bounded codebook frame is collected driver-side (an X6 read, m x
    k_sub rows) and each subspace encodes as one norm-expansion matmul
    per Arrow batch (:func:`encode_codes_arrow`, ``(batch, k_sub)``
    working set) — the interpreted ``m x k_sub x dims/m`` higher-order
    fold per row is the measured encode cost at 200k vectors
    (BENCH_SCALE r11). Pinned equal to :func:`_pq_encode_native` by
    pytest.

    Fixed columns: id ``vec_id``."""
    sub = _validate_pq(dims, m, 1)
    enc = encode_codes_arrow(
        _read_codebooks(codebooks, "j", m, sub, "subspace")
    )
    return df.select(
        F.col("vec_id"),
        enc(F.col(vec_col).cast("array<double>")).alias("codes"),
    )


def _pq_encode_native(
    df: DataFrame,
    codebooks: DataFrame,
    dims: int,
    m: int = 4,
) -> DataFrame:
    """Native reference of :func:`pq_encode` (same contract), kept so
    tests can pin :func:`encode_codes_arrow` against it: the broadcast
    codebook row + per-subspace ``_nearest_l2`` fold.

    Fixed columns: id ``vec_id``, vector ``embedding``."""
    sub = _validate_pq(dims, m, 1)
    v = F.col("_v")

    # closure factory, NOT `lambda s, jj=j`: a two-parameter lambda is
    # bound by Spark's higher-order-function arity check as the
    # (element, index) form, silently feeding the ARRAY INDEX into jj
    def match_j(jj: int):
        return lambda s: s["j"] == jj

    nearest = [
        _nearest_l2(
            F.slice(v, j * sub + 1, sub),
            F.filter(F.col("_cb"), match_j(j)),
        )["cid"]
        for j in range(m)
    ]
    return (
        df.select(
            F.col("vec_id"), F.col("embedding").cast("array<double>").alias("_v")
        )
        .crossJoin(F.broadcast(_codebook_row(codebooks)))
        .select(F.col("vec_id"), F.array(*nearest).alias("codes"))
    )


def pq_topk(
    codes_df: DataFrame,
    codebooks: DataFrame,
    query: DataFrame,
    dims: int,
    m: int = 4,
    k: int = 10,
) -> DataFrame:
    """ADC top-k over a PQ-encoded corpus: ONE broadcast row carries
    the per-(subspace, centroid) table ``(q_j . c, ||c||^2)`` plus the
    query norm — each corpus row's score is ``m`` array lookups and a
    fixed-order fold, never a float-vector read. Returns ``(id, sim)``
    with ``sim`` the round-4 ADC cosine
    (reconstruction dot over reconstruction norm x query norm; a code
    missing from the codebook — a foreign-codebook probe — yields NULL
    sim, never a crash). Top-k is TakeOrdered (sim desc, id asc).

    This is the serve half of IVF-PQ: at 100 TB the ``codes_df`` scan
    reads ``m`` bytes-ish per vector instead of ``4 x dims``, and
    pre-filtering it by an IVF cid list (the
    ``quantized_ivf_topk_served`` pattern) partition-prunes before
    even that.

    Fixed columns: codes ``codes``, id ``vec_id``, query vector ``q``."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    sub = _validate_pq(dims, m, 1)
    q = query.select(F.col("q").cast("array<double>").alias("qv"))
    # one-row validation BEFORE anything runs (the _probe_single
    # discipline): a multi-row query frame would interleave every
    # query's (j, cid, dq) entries into ONE collect_list table in
    # task-dependent order — silently mixed, run-to-run
    # nondeterministic sims instead of a loud error. limit(2) bounds
    # the check so a corpus frame passed by mistake never reaches the
    # driver.
    probe = q.limit(2).collect()
    if len(probe) > 1:
        raise ValueError(
            "pq_topk expects exactly one query vector, got a multi-row "
            "query frame — issue one call per query"
        )
    if not probe:
        return codes_df.where(F.lit(False)).select(
            F.col("vec_id"), F.lit(None).cast("double").alias("sim")
        )
    # the per-query ADC table as ONE broadcast row, laid out FLAT and
    # SORTED by (j, cid) so entry (j, code) sits at position
    # j * k_sub + code: for every (j, cid), dq = q_j . c and
    # cc = ||c||^2; plus ||q|| — computed once, not per corpus row.
    # The positional layout assumes DENSE cids 0..k_sub-1 of width sub
    # per subspace — a hand-built codebook frame would otherwise yield
    # silently wrong/NULL sims, so the shared capped reader validates
    # it (and yields k_sub) before anything runs.
    k_sub = len(_read_codebooks(codebooks, "j", m, sub, "subspace")[0])
    tab = (
        codebooks.crossJoin(F.broadcast(q))
        .select(
            (F.col("j") * k_sub + F.col("cid")).alias("_idx"),
            _dot(
                F.col("c"),
                F.slice(F.col("qv"), F.col("j") * sub + 1, sub),
            ).alias("dq"),
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
    # O(1) positional lookup per subspace: F.get (NULL on any
    # out-of-range index — a foreign-codebook code yields NULL sim,
    # never an ANSI element_at crash). Dense cids make in-range codes
    # always valid, so "missing" == out-of-range exactly.
    lookups = [
        F.get(
            F.col("_tab"),
            F.lit(j * k_sub) + F.get(F.col("codes"), j),
        )
        for j in range(m)
    ]
    # _lk bound as an attribute in its OWN select before the two folds
    # reference it — inlined, every lookup's array filter would run
    # twice (the CollapseProject duplicate-eval trap)
    with_lk = (
        codes_df.select(F.col("vec_id"), F.col("codes"))
        .crossJoin(F.broadcast(tab))
        .select(
            F.col("vec_id"),
            F.array(*lookups).alias("_lk"),
            F.col("_qn"),
        )
    )
    adc = F.aggregate(
        F.col("_lk"), F.lit(0.0), lambda acc, s: acc + s["dq"]
    )
    recon = F.aggregate(
        F.col("_lk"), F.lit(0.0), lambda acc, s: acc + s["cc"]
    )
    sim = F.round(
        F.try_divide(adc, F.sqrt(recon) * F.col("_qn")), 4
    )
    return (
        with_lk.select(F.col("vec_id"), sim.alias("sim"))
        .orderBy(F.col("sim").desc(), F.col("vec_id"))
        .limit(k)
    )


def _validate_shortlist(shortlist_n: int, k: int) -> None:
    """Shared fail-fast guard for the two-stage serve paths — runs
    BEFORE stage 1's eager probe work in both callers."""
    if shortlist_n < k:
        raise ValueError(
            f"shortlist_n must be >= k (got shortlist_n={shortlist_n}, "
            f"k={k}) — the exact re-rank can only return rows the ADC "
            "shortlist admitted"
        )


def _exact_rerank(
    shortlist: DataFrame,
    vectors_df: DataFrame,
    query: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    query_col: str,
) -> DataFrame:
    """Stage 2 of the two-stage serve contract, shared by
    :func:`pq_rerank_topk` and :func:`pq_ivf_rerank_topk_served`: the
    bounded ADC shortlist broadcast-semi-joins back into the float
    table and ONLY those rows pay the exact round-4 cosine top-``k``
    (``cosine_topk``'s sim desc / id asc tie rule). One definition so
    the two 'same contract' serve paths cannot silently diverge."""
    from dgraph_dbpedia_spark.operators.similarity import cosine_topk

    cand = vectors_df.join(
        F.broadcast(shortlist.select(id_col)), id_col, "left_semi"
    )
    return cosine_topk(
        cand, query, k=k, id_col=id_col, vec_col=vec_col,
        query_col=query_col,
    )


def pq_rerank_topk(
    codes_df: DataFrame,
    codebooks: DataFrame,
    vectors_df: DataFrame,
    query: DataFrame,
    dims: int,
    m: int = 4,
    k: int = 10,
    shortlist_n: int = 100,
) -> DataFrame:
    """The two-stage contract PQ actually deploys (VERDICT r11 #3 —
    Jegou et al.'s IVFADC + re-ranking refinement): ADC over the
    compressed codes produces a ``shortlist_n`` candidate list, then
    ONLY those rows' float vectors are read back for an exact cosine
    top-``k``. The coarse codes' job is never final ranking — it is
    shrinking the float-vector reads from the corpus to ``shortlist_n``
    rows; recall through THIS composition (not raw ADC rank) is the
    deployable metric, pinned by pytest at the 200k scale point via
    tools/scale_pq.py.

    100 TB shape: stage 1 scans ``m`` bytes-ish per vector
    (:func:`pq_topk`); the shortlist is a bounded ``shortlist_n``-row
    frame, so the read-back is ONE broadcast left-semi join into the
    float table — the corpus-side float scan prunes on the broadcast
    hash, and with the float table partitioned/bucketed by id it is a
    partition-pruned point read, never a full scan shuffle. Stage 2's
    exact scoring runs on ``shortlist_n`` rows (:func:`_exact_rerank`
    — round-4 + id tie-break). Empty query frame degenerates to an
    empty result through both stages (each stage's own contract).

    Fixed columns: codes ``codes``, id ``vec_id``, query vector ``q``,
    vector ``embedding``."""
    _validate_shortlist(shortlist_n, k)
    shortlist = pq_topk(
        codes_df,
        codebooks,
        query,
        dims=dims,
        m=m,
        k=shortlist_n,
    )
    return _exact_rerank(
        shortlist, vectors_df, query, k, "vec_id", "embedding", "q"
    )


def pq_ivf_rerank_topk_served(
    codes: DataFrame,
    codebooks: DataFrame,
    coarse_centroids: DataFrame,
    vectors_df: DataFrame,
    query: DataFrame,
    dims: int,
    k: int = 10,
    shortlist_n: int = 100,
) -> DataFrame:
    """The COMPLETE production ANN serve path — all three pruning
    levers composed: coarse IVF probe partition-prunes the code lists
    (2 of ``k_coarse`` lists), ADC scores only 4
    code bytes per surviving vector (:func:`pq_ivf_topk_served` as the
    shortlist stage), and ONLY the ``shortlist_n`` shortlisted ids'
    float vectors are read back for the exact cosine top-``k``
    (:func:`pq_rerank_topk`'s stage 2). This is FAISS's
    IVFADC-with-refinement serve loop expressed as three Spark scans,
    each touching strictly less data than the one before.

    ``vectors_df`` is the float (or int8-dequantized) vector table the
    re-rank reads back from — at scale, partitioned/bucketed by
    ``vec_id`` so the broadcast semi-join on the bounded shortlist is
    a point read. Empty query/centroids degenerate to an empty result
    through every stage.

    Fixed columns: codes ``codes``, id ``vec_id``, query vector ``q``,
    vector ``embedding``."""
    _validate_shortlist(shortlist_n, k)
    shortlist = pq_ivf_topk_served(
        codes,
        codebooks,
        coarse_centroids,
        query,
        dims=dims,
        k=shortlist_n,
    )
    return _exact_rerank(
        shortlist, vectors_df, query, k, "vec_id", "embedding", "q"
    )


def pq_ivf_topk_served(
    codes: DataFrame,
    codebooks: DataFrame,
    coarse_centroids: DataFrame,
    query: DataFrame,
    dims: int,
    k: int = 10,
) -> DataFrame:
    """The full FAISS-style IVF-PQ serve path: coarse IVF probe over
    the bounded float centroids (cosine, the package's standard probe
    rule) -> ONE literal ``cid IN (...)`` predicate that
    partition-prunes the PQ code lists at the scan -> ADC re-rank
    inside the probed lists only (:func:`pq_topk`).

    ``codes`` is the materialized ``(id, codes, cid)`` frame — encode
    with :func:`pq_encode`, attach the coarse cid from
    :func:`..similarity.ivf_assign`, write partitioned by ``cid``
    (the ``quantized_ivf_topk_served`` v3 layout with 4 code
    bytes per vector instead of ``dims`` int8s). At 100 TB a probe
    reads 2 of ``k_coarse`` lists at 4 code bytes per
    vector — the two pruning levers multiply. Empty centroid frame or
    empty query -> empty result (the float twin's contract).

    Fixed columns: codes ``codes``, id ``vec_id``, query vector ``q``."""
    from dgraph_dbpedia_spark.operators.similarity import _probe_single

    q = query.select(F.col("q").cast("array<double>").alias("qv"))
    probes = _probe_single(
        coarse_centroids.select(
            "cid", F.col("c").cast("array<double>").alias("c")
        ),
        q.select(F.col("qv")),
        2,
        "pq_ivf_topk_served",
    )
    if not probes:
        return codes.where(F.lit(False)).select(
            F.col("vec_id"), F.lit(None).cast("double").alias("sim")
        )
    pruned = codes.where(F.col("cid").isin(probes))
    return pq_topk(
        pruned,
        codebooks,
        query,
        dims=dims,
        m=4,
        k=k,
    )


def pq_reconstruction_error_report(
    df: DataFrame,
    codebooks: DataFrame,
    dims: int,
    m: int = 4,
) -> DataFrame:
    """Per-label PQ reconstruction-error audit (r15): the round-6
    cosine loss between each vector and its PQ decode — the
    codebook-quality check an IVF-PQ rollout runs next to the int8
    twin (:func:`..similarity.quantization_error_report`; that one
    audits the scalar quantizer, this one the trained codebooks —
    together they attribute serve-path recall loss BEFORE
    ann_recall_report measures it end to end). Returns the shared
    report shape ``(label, n, n_scored, max_err, mean_err)``
    (:func:`..similarity._recon_error_report`, ONE definition of the
    error fold).

    Codes come from the SAME encode kernel the serve path materializes
    (:func:`encode_codes_arrow`, pinned bit-equal to the native fold
    by the pq test suite), and the decode is a LITERAL codebook
    lookup: the bounded ``m x k_sub`` codebook frame is collected once
    (an X6 read, shared with the encode matrices) and each subspace's reconstruction is
    ``element_at(<literal centroid array>, code + 1)`` — a scan-fused
    projection, so the corpus is never joined or shuffled; the only
    shuffle is the bounded per-label aggregate.

    100 TB shape: encode + decode + error are one projection between
    scan and aggregate; the label agg partial-aggregates. The e6
    BIGINT mean holds to ~4.5e15 scored rows per label.

    Fixed columns: id ``vec_id``, label ``label``, vector ``embedding``."""
    sub = _validate_pq(dims, m, 1)
    base = df.select(
        F.col("vec_id"),
        F.col("embedding").cast("array<double>").alias("_v"),
        F.col("label").alias("_lab"),
    )
    # ONE bounded collect serves the encode matrices AND the decode
    # literals (ADVICE r15: previously collected twice); the reader
    # asserts the dense-cid contract BEFORE the literal decode below
    # could silently mis-index a sparse codebook
    cmats = _read_codebooks(codebooks, "j", m, sub, "subspace")
    coded = base.withColumn("_codes", encode_codes_arrow(cmats)(F.col("_v")))

    # literal decode: dense cids 0..k_sub-1 index the centroid literals
    # directly — reuses the one collected codebook, no second driver job
    def cb_lit(j: int):
        return F.array(
            *[F.array(*[F.lit(x) for x in c]) for c in cmats[j].tolist()]
        )

    vhat = F.concat(
        *[
            F.element_at(cb_lit(j), F.element_at("_codes", j + 1) + 1)
            for j in range(m)
        ]
    )
    from dgraph_dbpedia_spark.operators.similarity import (
        _recon_error_report,
    )

    return _recon_error_report(
        coded.select("_lab", "_v", vhat.alias("_vhat")), "label"
    )
