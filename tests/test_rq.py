"""Residual quantization (operators/rq.py)."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def test_rq_train_shape_and_determinism(spark, emb):
    """n_levels * k_sub rows, dense cids per stage, full-dim
    centroids, bit-identical across runs."""
    from dgraph_dbpedia_spark.operators.rq import rq_train

    cb = rq_train(emb, dims=64, k_sub=8, n_levels=2, n_iter=2)
    rows = cb.collect()
    assert len(rows) == 2 * 8
    per = {}
    for r in rows:
        per.setdefault(r["lvl"], []).append(r["cid"])
        assert len(r["c"]) == 64
    assert sorted(per) == [0, 1]
    assert sorted(per[0]) == sorted(per[1]) == list(range(8))
    rows2 = rq_train(emb, dims=64, k_sub=8, n_levels=2, n_iter=2).collect()
    key = lambda t: (t[0], t[1])  # noqa: E731
    assert sorted(map(tuple, rows), key=key) == sorted(
        map(tuple, rows2), key=key
    )


def test_rq_residual_training_reduces_error(spark, emb):
    """The point of the second stage: mean squared reconstruction
    error of c1 + c2 must be strictly below stage 1 alone."""
    from dgraph_dbpedia_spark.operators.rq import rq_encode, rq_train

    cb = rq_train(emb, dims=64, k_sub=16, n_levels=2, n_iter=2)
    codes = rq_encode(emb, cb, dims=64, n_levels=2)
    cents = {(r["lvl"], r["cid"]): list(r["c"]) for r in cb.collect()}
    vecs = {
        r["vec_id"]: list(r["embedding"])
        for r in emb.select("vec_id", "embedding").collect()
    }
    e1 = e2 = 0.0
    for r in codes.collect():
        v = vecs[r["vec_id"]]
        c1 = cents[(0, r["codes"][0])]
        c2 = cents[(1, r["codes"][1])]
        e1 += sum((a - b) ** 2 for a, b in zip(v, c1))
        e2 += sum(
            (a - b - c) ** 2 for a, b, c in zip(v, c1, c2)
        )
    assert e2 < e1 * 0.98


def test_rq_topk_planted_twin_and_rerank(spark, emb):
    """An identical twin shares both codes with the query's own
    encoding and ranks #1 by ADC; the exact re-rank returns it at
    sim 1.0; shortlist guard raises."""
    from dgraph_dbpedia_spark.operators.rq import (
        rq_encode,
        rq_rerank_topk,
        rq_topk,
        rq_train,
    )

    cb = rq_train(emb, dims=64, k_sub=16, n_levels=2, n_iter=1)
    twin = emb.where(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    )
    corpus = (
        emb.where(F.col("vec_id") > 0)
        .select("vec_id", "embedding")
        .unionByName(twin)
    )
    codes = rq_encode(corpus, cb, dims=64, n_levels=2)
    q = emb.orderBy("vec_id").limit(1).select(
        F.col("embedding").alias("q")
    )
    rows = rq_topk(codes, cb, q, dims=64, k=3).collect()
    assert rows[0]["vec_id"] == 10_000
    rr = rq_rerank_topk(
        codes, cb, corpus, q, dims=64, k=3, shortlist_n=30
    ).collect()
    assert rr[0]["vec_id"] == 10_000 and rr[0]["sim"] == 1.0
    with pytest.raises(ValueError, match="shortlist_n"):
        rq_rerank_topk(codes, cb, corpus, q, dims=64, k=5, shortlist_n=2)


def test_rq_validates_and_degenerates(spark, emb):
    from dgraph_dbpedia_spark.operators.rq import (
        rq_encode,
        rq_topk,
        rq_train,
    )

    with pytest.raises(ValueError):
        rq_train(emb, dims=0)
    with pytest.raises(ValueError):
        rq_train(emb, dims=64, k_sub=0)
    with pytest.raises(ValueError):
        rq_train(emb, dims=64, n_levels=0)
    cb = rq_train(emb, dims=64, k_sub=4, n_levels=2, n_iter=0)
    codes = rq_encode(emb, cb, dims=64, n_levels=2)
    q = emb.limit(1).select(F.col("embedding").alias("q"))
    with pytest.raises(ValueError, match="k must be"):
        rq_topk(codes, cb, q, dims=64, k=0)
    # multi-row query raises; empty query -> typed empty result
    multi = emb.limit(2).select(F.col("embedding").alias("q"))
    with pytest.raises(ValueError, match="one query vector"):
        rq_topk(codes, cb, multi, dims=64, k=5)
    empty = emb.where(F.lit(False)).select(F.col("embedding").alias("q"))
    out = rq_topk(codes, cb, empty, dims=64, k=5)
    assert out.columns == ["vec_id", "sim"] and out.count() == 0
    # non-dense / wrong-stage / wrong-width codebooks raise loudly on
    # BOTH the serve and the encode side (silent NULL codes were the
    # review-flagged mode)
    with pytest.raises(ValueError, match="dense"):
        rq_topk(codes, cb.withColumn("cid", F.col("cid") + 1), q,
                dims=64, k=5)
    with pytest.raises(ValueError, match="stages"):
        rq_topk(codes, cb.where(F.col("lvl") == 0), q, dims=64, k=5)
    with pytest.raises(ValueError, match="stages"):
        rq_encode(emb, cb, dims=64, n_levels=3)
    with pytest.raises(ValueError, match="width"):
        rq_topk(codes, cb, q, dims=32, k=5)
    with pytest.raises(ValueError, match="width"):
        wide_q = emb.limit(1).select(
            F.slice(F.col("embedding").cast("array<double>"), 1, 32)
            .alias("q")
        )
        rq_topk(codes, cb, wide_q, dims=64, k=5)
    # foreign codes -> NULL sim, never a crash
    bogus = spark.createDataFrame(
        [(1, [999, 999])], "vec_id long, codes array<int>"
    )
    rows = rq_topk(bogus, cb, q, dims=64, k=5).collect()
    assert len(rows) == 1 and rows[0]["sim"] is None


def test_rq_encode_arrow_pinned_equal_to_native(spark, emb):
    """The Arrow greedy-encode kernel must reproduce the native
    two-stage reference fold's codes exactly on real data; NULL and
    width-mismatched vectors take code 0 at every stage on both
    (RQ uses the FULL vector, so unlike PQ an over-long vector is a
    mismatch, not a truncation)."""
    from dgraph_dbpedia_spark.operators.rq import (
        _rq_encode_native,
        rq_encode,
        rq_train,
    )

    cb = rq_train(emb, dims=64, k_sub=16, n_levels=2, n_iter=1)
    nat = {
        r["vec_id"]: r["codes"]
        for r in _rq_encode_native(emb, cb, dims=64, n_levels=2).collect()
    }
    arr = {
        r["vec_id"]: r["codes"]
        for r in rq_encode(emb, cb, dims=64, n_levels=2).collect()
    }
    assert nat == arr and len(nat) == emb.count()
    first = emb.orderBy("vec_id").first()["embedding"]
    deg = spark.createDataFrame(
        [
            (1, None),
            (2, []),
            (3, [float(x) for x in first[:32]]),
            (4, [float(x) for x in first] + [9.9]),
        ],
        "vec_id long, embedding array<double>",
    )
    dn = {
        r["vec_id"]: r["codes"]
        for r in _rq_encode_native(deg, cb, dims=64, n_levels=2).collect()
    }
    da = {
        r["vec_id"]: r["codes"]
        for r in rq_encode(deg, cb, dims=64, n_levels=2).collect()
    }
    assert dn == da
    assert dn[1] == dn[2] == dn[3] == dn[4] == [0, 0]


def test_rq_encode_nonfinite_takes_code_zero_both_lanes(spark, emb):
    """inf/NaN components: the native fold yields inf/NaN distances
    against every centroid and ties to cid 0; the Arrow kernel's
    norm expansion would produce inf - inf = NaN and let argmin pick
    an arbitrary column — kernel and native reference must both emit
    [0, 0]."""
    from dgraph_dbpedia_spark.operators.rq import (
        _rq_encode_native,
        rq_encode,
        rq_train,
    )

    cb = rq_train(emb, dims=64, k_sub=8, n_levels=2, n_iter=1)
    first = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    inf_v = list(first)
    inf_v[0] = float("inf")
    nan_v = list(first)
    nan_v[7] = float("nan")
    deg = spark.createDataFrame(
        [(1, inf_v), (2, nan_v)],
        "vec_id long, embedding array<double>",
    )
    for encode in (_rq_encode_native, rq_encode):
        got = {
            r["vec_id"]: r["codes"]
            for r in encode(deg, cb, dims=64, n_levels=2).collect()
        }
        assert got[1] == [0, 0] and got[2] == [0, 0], encode.__name__


def test_rq_train_arrow_pinned_equal_to_native(spark, emb):
    """rq_train assigns through encode_codes_arrow (the stage Lloyds
    and the width-masked between-stage residual assignment), so its
    stage codebooks equal the native full-dim fold's when the kernels
    encode the training corpus exactly like their native references
    against the trained stage codebooks — pinned here with degenerate
    rows (NULL / short / LONGER-than-dims / non-finite) mixed in. The
    NaN row drives the cid-0 mean to NaN, so every check runs against
    a poisoned codebook: the Lloyd assignment (m=1 pq encode), the
    residual assignment rq_train itself runs (``_stage_code``, whose
    width mask sends the over-wide row to the fold's cid 0 instead of
    prefix-encoding it) and the greedy two-stage encode."""
    import math

    from dgraph_dbpedia_spark.operators.pq import (
        _pq_encode_native,
        pq_encode,
    )
    from dgraph_dbpedia_spark.operators.rq import (
        _rq_encode_native,
        _stage_code,
        rq_encode,
        rq_train,
    )

    deg = spark.createDataFrame(
        [
            (90_001, None),
            (90_002, [1.0, 2.0]),
            (90_003, [0.5] * 70),
            (90_004, [float("nan")] * 64),
        ],
        "vec_id long, embedding array<double>",
    )
    corpus = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).unionByName(deg)
    cb = rq_train(
        corpus, dims=64, k_sub=8, n_levels=2, n_iter=2
    ).localCheckpoint()
    assert any(not math.isfinite(x) for r in cb.collect() for x in r["c"])

    def codes(frame):
        return {r["vec_id"]: r["codes"] for r in frame.collect()}

    stage0 = cb.where("lvl = 0").select(F.lit(0).alias("j"), "cid", "c")
    assert codes(_pq_encode_native(corpus, stage0, dims=64, m=1)) == codes(
        pq_encode(corpus, stage0, dims=64, m=1)
    )
    residual_asg = {
        r["vec_id"]: r["c0"]
        for r in corpus.select(
            "vec_id",
            _stage_code(cb.where("lvl = 0"), 64, F.col("embedding")).alias(
                "c0"
            ),
        ).collect()
    }
    first = codes(
        _rq_encode_native(corpus, cb.where("lvl = 0"), dims=64, n_levels=1)
    )
    assert residual_asg == {k: v[0] for k, v in first.items()}
    assert residual_asg[90_003] == 0
    nat = codes(_rq_encode_native(corpus, cb, dims=64, n_levels=2))
    assert nat == codes(rq_encode(corpus, cb, dims=64, n_levels=2))
    assert nat[90_001] == nat[90_002] == nat[90_003] == [0, 0]


def test_rq_ivf_served_prunes_and_finds_twin(spark, emb, tmp_path):
    """The IVF-RQ serve path over a cid-partitioned code table (the
    v5 rq_codes layout): the probe's literal cid IN predicate must
    partition-prune the scan (PartitionFilters in the plan), and a
    planted identical twin of the query must come back rank 1 — its
    coarse cid IS the query's nearest centroid, so the first probe
    always covers it (the pq_ivf_topk_served contract, RQ twin)."""
    from pyspark.sql import functions as F

    from dgraph_dbpedia_spark.operators.rq import (
        rq_encode,
        rq_ivf_topk_served,
        rq_train,
    )
    from dgraph_dbpedia_spark.operators.similarity import (
        ivf_assign,
        ivf_seed_centroids,
    )

    cb = rq_train(emb, dims=64, k_sub=16, n_levels=2, n_iter=1)
    twin = emb.where(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    )
    corpus = (
        emb.where(F.col("vec_id") > 0)
        .select("vec_id", "embedding")
        .unionByName(twin)
    )
    e = corpus.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    coarse = ivf_seed_centroids(e, 8, vec_col="e")
    asg = ivf_assign(e, coarse, vec_col="e").select("vec_id", "cid")
    codes = rq_encode(corpus, cb, dims=64, n_levels=2).join(asg, "vec_id")
    root = str(tmp_path / "rqidx")
    codes.write.partitionBy("cid").parquet(root)
    served = spark.read.parquet(root)
    q = emb.orderBy("vec_id").limit(1).select(
        F.col("embedding").alias("q")
    )
    out = rq_ivf_topk_served(served, cb, coarse, q, dims=64, k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert (
        "PartitionFilters: [" in plan
        and "cid" in plan.split("PartitionFilters:")[1][:120]
    )
    rows = out.collect()
    # the twin carries vec 0's exact codes, so its additive ADC sim is
    # the maximum achievable for this query — it must surface in the
    # top-k AT the top sim (rank 1 unless a corpus vector happens to
    # share both codes and a lower id, which the tie rule prefers)
    twin_rows = [r for r in rows if r["vec_id"] == 10_000]
    assert twin_rows, f"planted twin missing from top-5: {rows}"
    assert twin_rows[0]["sim"] == rows[0]["sim"]


def test_rq_ivf_served_empty_centroids_empty_result(spark, emb):
    from pyspark.sql import functions as F

    from dgraph_dbpedia_spark.operators.rq import (
        rq_encode,
        rq_ivf_topk_served,
        rq_train,
    )

    cb = rq_train(emb, dims=64, k_sub=8, n_levels=2, n_iter=1)
    codes = rq_encode(emb, cb, dims=64, n_levels=2).withColumn(
        "cid", F.lit(0)
    )
    empty_cent = spark.createDataFrame(
        [], "cid long, c array<double>"
    )
    q = emb.orderBy("vec_id").limit(1).select(F.col("embedding").alias("q"))
    out = rq_ivf_topk_served(codes, cb, empty_cent, q, dims=64, k=3)
    assert out.columns == ["vec_id", "sim"]
    assert out.count() == 0
