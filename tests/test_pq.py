"""Product quantization (operators/pq.py)."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def test_pq_train_shape_and_determinism(spark, emb):
    """m * k_sub codebook rows, sub-dim centroids, bit-identical
    across runs (the rounded-means / deterministic-seed contract)."""
    from dgraph_dbpedia_spark.operators.pq import pq_train

    cb = pq_train(emb, dims=64, m=4, k_sub=8, n_iter=2)
    rows = cb.collect()
    assert len(rows) == 4 * 8
    assert {r["j"] for r in rows} == {0, 1, 2, 3}
    assert all(len(r["c"]) == 16 for r in rows)
    rows2 = pq_train(emb, dims=64, m=4, k_sub=8, n_iter=2).collect()
    key = lambda r: (r["j"], r["cid"])  # noqa: E731
    assert sorted(map(tuple, rows), key=lambda t: (t[0], t[1])) == sorted(
        map(tuple, rows2), key=lambda t: (t[0], t[1])
    )


def test_pq_encode_codes_are_codebook_ids(spark, emb):
    """Every code is a cid from its own subspace's codebook; codes
    arrays have exactly m entries."""
    from dgraph_dbpedia_spark.operators.pq import pq_encode, pq_train

    cb = pq_train(emb, dims=64, m=4, k_sub=8, n_iter=1)
    valid = {
        (r["j"], r["cid"]) for r in cb.select("j", "cid").collect()
    }
    codes = pq_encode(emb, cb, dims=64, m=4).collect()
    assert len(codes) == emb.count()
    for r in codes:
        assert len(r["codes"]) == 4
        for j, c in enumerate(r["codes"]):
            assert (j, c) in valid


def test_pq_encode_arrow_pinned_equal_to_native(spark, emb):
    """The Arrow encode kernel must reproduce the native per-subspace
    reference fold's codes exactly on real data, and match its
    degenerate-width contract per subspace: complete slices encode
    normally, short or NULL slices take code 0."""
    from dgraph_dbpedia_spark.operators.pq import (
        _pq_encode_native,
        pq_encode,
        pq_train,
    )

    cb = pq_train(emb, dims=64, m=4, k_sub=16, n_iter=1)
    nat = {
        r["vec_id"]: r["codes"]
        for r in _pq_encode_native(emb, cb, dims=64, m=4).collect()
    }
    arr = {
        r["vec_id"]: r["codes"]
        for r in pq_encode(emb, cb, dims=64, m=4).collect()
    }
    assert nat == arr and len(nat) == emb.count()
    # degenerate widths: NULL vector, empty, half-width (2 complete
    # subspaces + 2 short), over-long (extra components ignored)
    first_row = emb.orderBy("vec_id").first()
    first = first_row["embedding"]
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
        for r in _pq_encode_native(deg, cb, dims=64, m=4).collect()
    }
    da = {
        r["vec_id"]: r["codes"]
        for r in pq_encode(deg, cb, dims=64, m=4).collect()
    }
    assert dn == da
    assert dn[1] == [0, 0, 0, 0] and dn[2] == [0, 0, 0, 0]
    assert dn[3][2:] == [0, 0]  # short slices -> native NULL tie
    # over-long vector: the first dims components drive every code
    assert dn[4] == nat[first_row["vec_id"]]


def test_pq_topk_planted_twin_ranks_first(spark, emb):
    """The honest PQ property at coarse settings: an identical twin of
    the query shares every code with the query's own encoding and must
    rank #1 by ADC with a clear margin (random vectors are PQ's worst
    case for general recall — duplicates are what coarse codes still
    find)."""
    from dgraph_dbpedia_spark.operators.pq import (
        pq_encode,
        pq_topk,
        pq_train,
    )

    cb = pq_train(emb, dims=64, m=4, k_sub=16, n_iter=2)
    twin = emb.where(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    )
    corpus = (
        emb.where(F.col("vec_id") > 0)
        .select("vec_id", "embedding")
        .unionByName(twin)
    )
    codes = pq_encode(corpus, cb, dims=64, m=4)
    q = emb.orderBy("vec_id").limit(1).select(
        F.col("embedding").alias("q")
    )
    rows = pq_topk(codes, cb, q, dims=64, m=4, k=3).collect()
    assert rows[0]["vec_id"] == 10_000
    assert rows[0]["sim"] > rows[1]["sim"] + 0.1


def test_pq_validates_knobs(spark, emb):
    from dgraph_dbpedia_spark.operators.pq import (
        pq_encode,
        pq_topk,
        pq_train,
    )

    with pytest.raises(ValueError):
        pq_train(emb, dims=64, m=0)
    with pytest.raises(ValueError):
        pq_train(emb, dims=63, m=4)
    with pytest.raises(ValueError):
        pq_train(emb, dims=64, m=4, k_sub=0)
    cb = pq_train(emb, dims=64, m=4, k_sub=4, n_iter=0)
    with pytest.raises(ValueError):
        pq_encode(emb, cb, dims=63, m=4)
    codes = pq_encode(emb, cb, dims=64, m=4)
    q = emb.limit(1).select(F.col("embedding").alias("q"))
    with pytest.raises(ValueError):
        pq_topk(codes, cb, q, dims=64, m=4, k=0)
    # non-dense cids must raise loudly BEFORE the positional flat-table
    # layout silently mislooks them up (ADVICE r11): shifting every cid
    # by +1 keeps the m * k_sub row count valid but breaks density
    sparse_cb = cb.withColumn("cid", F.col("cid") + F.lit(1))
    with pytest.raises(ValueError, match="dense"):
        pq_topk(codes, sparse_cb, q, dims=64, m=4, k=5)
    # and a codebook frame missing a whole subspace raises on coverage
    with pytest.raises(ValueError, match="subspaces"):
        pq_topk(codes, cb.where(F.col("j") < 3), q, dims=64, m=4, k=5)


def test_pq_topk_query_row_contract(spark, emb):
    """Multi-row query frame raises loudly (a collect_list table over
    interleaved queries would be silently nondeterministic); an empty
    query frame returns an empty, correctly-typed result."""
    from dgraph_dbpedia_spark.operators.pq import (
        pq_encode,
        pq_topk,
        pq_train,
    )

    cb = pq_train(emb, dims=64, m=4, k_sub=4, n_iter=0)
    codes = pq_encode(emb, cb, dims=64, m=4)
    multi = emb.limit(2).select(F.col("embedding").alias("q"))
    with pytest.raises(ValueError, match="one query vector"):
        pq_topk(codes, cb, multi, dims=64, m=4, k=5)
    empty = emb.where(F.lit(False)).select(F.col("embedding").alias("q"))
    out = pq_topk(codes, cb, empty, dims=64, m=4, k=5)
    assert out.columns == ["vec_id", "sim"]
    assert out.count() == 0


def test_pq_ivf_served_prunes_and_finds_twin(spark, emb, tmp_path):
    """The full IVF-PQ serve path over a cid-partitioned code table:
    the probe's literal cid IN predicate must partition-prune the scan
    (PartitionFilters in the plan), and a planted identical twin of
    the query must come back rank 1 — its coarse cid IS the query's
    nearest centroid, so the first probe always covers it."""
    from dgraph_dbpedia_spark.operators.pq import (
        pq_encode,
        pq_ivf_topk_served,
        pq_train,
    )
    from dgraph_dbpedia_spark.operators.similarity import (
        ivf_assign,
        ivf_seed_centroids,
    )

    cb = pq_train(emb, dims=64, m=4, k_sub=16, n_iter=1)
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
    codes = pq_encode(corpus, cb, dims=64, m=4).join(asg, "vec_id")
    root = str(tmp_path / "pqidx")
    codes.write.partitionBy("cid").parquet(root)
    served = spark.read.parquet(root)
    q = emb.orderBy("vec_id").limit(1).select(
        F.col("embedding").alias("q")
    )
    out = pq_ivf_topk_served(
        served, cb, coarse, q, k=3
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert (
        "PartitionFilters: [" in plan
        and "cid" in plan.split("PartitionFilters:")[1][:120]
    )
    rows = out.collect()
    assert rows[0]["vec_id"] == 10_000


def test_pq_rerank_exact_topk_over_shortlist(spark, emb):
    """The two-stage deployment contract (VERDICT r11 #3): the ADC
    shortlist feeds an EXACT cosine re-rank, so (a) a planted twin is
    rank 1 with sim 1.0 — exact, not ADC-approximate; (b) every
    returned sim equals the brute-force cosine for that id (the
    re-rank stage is exact by construction); (c) shortlist_n < k
    raises loudly."""
    from dgraph_dbpedia_spark.operators.pq import (
        pq_encode,
        pq_rerank_topk,
        pq_train,
    )
    from dgraph_dbpedia_spark.operators.similarity import cosine_topk

    cb = pq_train(emb, dims=64, m=4, k_sub=16, n_iter=1)
    twin = emb.where(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    )
    corpus = (
        emb.where(F.col("vec_id") > 0)
        .select("vec_id", "embedding")
        .unionByName(twin)
    )
    codes = pq_encode(corpus, cb, dims=64, m=4)
    q = emb.orderBy("vec_id").limit(1).select(
        F.col("embedding").alias("q")
    )
    rows = pq_rerank_topk(
        codes, cb, corpus, q, dims=64, m=4, k=5, shortlist_n=50
    ).collect()
    assert rows[0]["vec_id"] == 10_000 and rows[0]["sim"] == 1.0
    # exactness: each returned sim is the brute-force cosine for its id
    brute = {
        r["vec_id"]: r["sim"]
        for r in cosine_topk(corpus, q, k=corpus.count()).collect()
    }
    for r in rows:
        assert r["sim"] == brute[r["vec_id"]]
    with pytest.raises(ValueError, match="shortlist_n"):
        pq_rerank_topk(codes, cb, corpus, q, dims=64, m=4, k=5,
                       shortlist_n=3)


def test_pq_ivf_rerank_served_full_path(spark, emb, tmp_path):
    """The complete three-lever serve composition: the probe's cid IN
    predicate must still partition-prune the code-list scan, the
    planted twin must come back rank 1, and its sim must be the EXACT
    1.0 (re-rank reads the float vector), not an ADC estimate."""
    from dgraph_dbpedia_spark.operators.pq import (
        pq_encode,
        pq_ivf_rerank_topk_served,
        pq_train,
    )
    from dgraph_dbpedia_spark.operators.similarity import (
        ivf_assign,
        ivf_seed_centroids,
    )

    cb = pq_train(emb, dims=64, m=4, k_sub=16, n_iter=1)
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
    codes = pq_encode(corpus, cb, dims=64, m=4).join(asg, "vec_id")
    root = str(tmp_path / "pqidx")
    codes.write.partitionBy("cid").parquet(root)
    served = spark.read.parquet(root)
    q = emb.orderBy("vec_id").limit(1).select(
        F.col("embedding").alias("q")
    )
    out = pq_ivf_rerank_topk_served(
        served, cb, coarse, corpus, q,
        k=3, shortlist_n=30,
    )
    # the pruned code-list scan sits in the SHORTLIST subtree — the
    # re-rank's own float scan (no cid column) also reports an empty
    # PartitionFilters section, so check every scan's section
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert any(
        "cid" in seg[:120]
        for seg in plan.split("PartitionFilters: [")[1:]
    ), "no partition-pruned cid scan found in the composed plan"
    rows = out.collect()
    assert rows[0]["vec_id"] == 10_000 and rows[0]["sim"] == 1.0
    with pytest.raises(ValueError, match="shortlist_n"):
        pq_ivf_rerank_topk_served(
            served, cb, coarse, corpus, q,
            k=5, shortlist_n=2,
        )


def test_pq_foreign_code_yields_null_sim(spark, emb):
    """A code absent from the codebook (foreign-codebook probe) must
    yield NULL sim — never a lookup crash mid-job."""
    from dgraph_dbpedia_spark.operators.pq import pq_topk, pq_train

    cb = pq_train(emb, dims=64, m=4, k_sub=4, n_iter=0)
    bogus = spark.createDataFrame(
        [(1, [999_999] * 4)], "vec_id long, codes array<int>"
    )
    q = emb.limit(1).select(F.col("embedding").alias("q"))
    rows = pq_topk(bogus, cb, q, dims=64, m=4, k=5).collect()
    assert len(rows) == 1 and rows[0]["sim"] is None


def test_pq_encode_nonfinite_subspace_takes_code_zero_both_lanes(spark, emb):
    """A non-finite component zeroes ONLY its own subspace's code on
    both the kernel and its native reference (PQ's per-subspace
    containment): the native fold's inf/NaN distances tie to cid 0
    there, while the other subspaces keep their real codes."""
    from dgraph_dbpedia_spark.operators.pq import (
        _pq_encode_native,
        pq_encode,
        pq_train,
    )

    cb = pq_train(emb, dims=64, m=4, k_sub=8, n_iter=1)
    first_row = emb.orderBy("vec_id").first()
    first = [float(x) for x in first_row["embedding"]]
    inf_v = list(first)
    inf_v[20] = float("inf")  # subspace 1 (dims 16..31)
    deg = spark.createDataFrame(
        [(1, inf_v)], "vec_id long, embedding array<double>"
    )
    clean = {
        r["vec_id"]: r["codes"]
        for r in _pq_encode_native(emb, cb, dims=64, m=4).collect()
    }
    for encode in (_pq_encode_native, pq_encode):
        got = encode(deg, cb, dims=64, m=4).collect()[0]["codes"]
        assert got[1] == 0, encode.__name__
        ref = clean[first_row["vec_id"]]
        assert got[0] == ref[0] and got[2:] == ref[2:], encode.__name__


def test_pq_train_arrow_pinned_equal_to_native(spark, emb):
    """Training assigns through encode_codes_arrow (r12), so its
    codebooks equal the native fold's exactly when the kernel encodes
    the TRAINING CORPUS identically to the native reference against
    every codebook an iteration assigns with — pinned here for the
    seeds and the iteration-1 codebook, with degenerate rows (NULL /
    short / long / non-finite vectors) mixed into the corpus. The inf
    row drives the cid-0 mean non-finite after iteration 1, so the
    second check runs against a poisoned codebook."""
    import math

    from dgraph_dbpedia_spark.operators.pq import (
        _pq_encode_native,
        pq_encode,
        pq_train,
    )

    deg = spark.createDataFrame(
        [
            (90_001, None),
            (90_002, [1.0, 2.0]),
            (90_003, [0.5] * 70),
            (90_004, [float("inf")] * 64),
        ],
        "vec_id long, embedding array<double>",
    )
    corpus = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).unionByName(deg)
    poisoned = False
    for n_iter in (0, 1):
        cb = pq_train(
            corpus, dims=64, m=4, k_sub=8, n_iter=n_iter
        ).localCheckpoint()
        poisoned |= any(
            not math.isfinite(x) for r in cb.collect() for x in r["c"]
        )
        nat = {
            r["vec_id"]: r["codes"]
            for r in _pq_encode_native(corpus, cb, dims=64, m=4).collect()
        }
        arr = {
            r["vec_id"]: r["codes"]
            for r in pq_encode(corpus, cb, dims=64, m=4).collect()
        }
        assert nat == arr and len(nat) == corpus.count(), n_iter
    assert poisoned


def test_pq_encode_nonfinite_codebook_never_wins_both_lanes(spark, emb):
    """A codebook carrying a non-finite centroid (training over a
    corpus with inf/NaN vectors produces these: the bad row's mean
    poisons its cluster) must encode finite rows identically on both
    lanes — the native fold gives d = inf/NaN for the bad centroid so
    it never beats a finite distance, while the raw norm-expansion's
    inf * 0 = NaN columns would send np.argmin to the bad cid."""
    from dgraph_dbpedia_spark.operators.pq import (
        _pq_encode_native,
        pq_encode,
        pq_train,
    )

    cb = pq_train(emb, dims=64, m=4, k_sub=8, n_iter=1)
    poisoned = cb.withColumn(
        "c",
        F.when(
            (F.col("j") == 1) & (F.col("cid") == 2),
            F.array(*[F.lit(float("inf"))] * 16),
        ).otherwise(F.col("c")),
    )
    nat = {
        r["vec_id"]: r["codes"]
        for r in _pq_encode_native(emb, poisoned, dims=64, m=4).collect()
    }
    arr = {
        r["vec_id"]: r["codes"]
        for r in pq_encode(emb, poisoned, dims=64, m=4).collect()
    }
    assert nat == arr and len(nat) == emb.count()
    assert all(c[1] != 2 for c in arr.values())


def test_pq_train_rejects_degenerate_seeds_both_lanes(spark, emb):
    """A NULL or short vector among the k_sub lowest ids (the seed
    set) raises LOUDLY — training would otherwise crash inside the
    codebook gather with an opaque width error (r12 review)."""
    from dgraph_dbpedia_spark.operators.pq import pq_train

    bad = spark.createDataFrame(
        [(-1, None)], "vec_id long, embedding array<double>"
    )
    corpus = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).unionByName(bad)
    with pytest.raises(ValueError, match="seed"):
        pq_train(corpus, dims=64, m=4, k_sub=8, n_iter=1)
    empty = emb.where(F.lit(False))
    with pytest.raises(ValueError, match="empty corpus"):
        pq_train(empty, dims=64, m=4, k_sub=8, n_iter=1)
    # over-long vectors: every slice is still sub-wide, so only the
    # carried source-width check can catch the silent dims-prefix
    # truncation (r12 review)
    wide = emb.select(
        "vec_id",
        F.concat(
            F.col("embedding").cast("array<double>"),
            F.col("embedding").cast("array<double>"),
        ).alias("embedding"),
    )
    with pytest.raises(ValueError, match="non-64-wide"):
        pq_train(wide, dims=64, m=4, k_sub=8, n_iter=1)


# ---------------------------------------------------------------------------
# r15: pq_reconstruction_error_report


def test_pq_recon_error_lanes_equal_and_exact_on_grid(spark):
    """The report is well-formed on real data (its encode kernel is
    pinned to the native fold by the encode tests above), and vectors
    that ARE sub-centroid concatenations reconstruct with zero
    error."""
    from dgraph_dbpedia_spark.operators.pq import (
        pq_reconstruction_error_report,
        pq_train,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cb = pq_train(emb, dims=64, m=4, k_sub=16, n_iter=1).localCheckpoint()
    corpus = emb.where("vec_id > 0")
    a = {
        tuple(r)
        for r in pq_reconstruction_error_report(
            corpus, cb, dims=64, m=4
        ).collect()
    }
    assert len(a) > 0
    # every row: 0 <= mean_err <= max_err <= 2, all scored (no
    # zero-norm vectors in the fixture)
    for _lab, n, n_scored, max_err, mean_err in a:
        assert n == n_scored
        assert 0.0 <= mean_err <= max_err <= 2.0

    # on-grid corpus: vectors BUILT from the trained sub-centroids
    # reconstruct exactly (err 0 for every label)
    rows = cb.collect()
    by_j = {}
    for r in rows:
        by_j.setdefault(r["j"], {})[r["cid"]] = list(r["c"])
    grid = [
        (i, by_j[0][i] + by_j[1][i] + by_j[2][i] + by_j[3][i], f"l{i % 3}")
        for i in range(4)
    ]
    gdf = spark.createDataFrame(grid, ["vec_id", "embedding", "label"])
    rep = pq_reconstruction_error_report(gdf, cb, dims=64, m=4).collect()
    assert rep and all(
        r["max_err"] == 0.0 and r["mean_err"] == 0.0 for r in rep
    )


# ---------------------------------------------------------------------------
# one row cap for every centroid and codebook read


def test_every_centroid_and_codebook_read_is_capped(spark, monkeypatch):
    """Every IVF/PQ/RQ driver read of a centroid or codebook frame goes
    through the one capped collect: with the cap at 8, a 9-row frame
    raises ValueError in each public reader instead of reaching the
    driver whole — the trainers' per-iteration and between-stage reads
    included."""
    from dgraph_dbpedia_spark.operators import similarity
    from dgraph_dbpedia_spark.operators.pq import (
        pq_encode,
        pq_reconstruction_error_report,
        pq_topk,
        pq_train,
    )
    from dgraph_dbpedia_spark.operators.rq import rq_encode, rq_topk, rq_train
    from dgraph_dbpedia_spark.operators.similarity import (
        ivf_assign,
        ivf_topk,
        ivf_train,
    )

    monkeypatch.setattr(similarity, "CENTROID_ROW_CAP", 8)
    vecs = [[float(i), float(i % 3), 1.0, float(-i)] for i in range(12)]
    corpus = spark.createDataFrame(
        [(i, v, f"l{i % 2}") for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>, label string",
    )
    q = corpus.where("vec_id = 1").select(F.col("embedding").alias("q"))
    codes = spark.createDataFrame(
        [(1, [0, 0])], "vec_id long, codes array<int>"
    )
    nine = [(cid, vecs[cid]) for cid in range(9)]
    pq_cb = spark.createDataFrame(
        [(0, cid, v) for cid, v in nine], "j int, cid int, c array<double>"
    )
    rq_cb = spark.createDataFrame(
        [(cid // 3, cid % 3, v) for cid, v in nine],
        "lvl int, cid int, c array<double>",
    )
    cent = spark.createDataFrame(nine, "cid long, c array<double>")
    readers = {
        "pq_encode": lambda: pq_encode(corpus, pq_cb, dims=4, m=1),
        "pq_topk": lambda: pq_topk(codes, pq_cb, q, dims=4, m=1),
        "pq_reconstruction_error_report": (
            lambda: pq_reconstruction_error_report(corpus, pq_cb, dims=4, m=1)
        ),
        "pq_train": lambda: pq_train(corpus, dims=4, m=1, k_sub=9, n_iter=1),
        "rq_encode": lambda: rq_encode(corpus, rq_cb, dims=4, n_levels=3),
        "rq_topk": lambda: rq_topk(codes, rq_cb, q, dims=4),
        "rq_train": lambda: rq_train(corpus, dims=4, k_sub=9, n_iter=0),
        "ivf_assign": lambda: ivf_assign(corpus, cent, vec_col="embedding"),
        "ivf_topk": lambda: ivf_topk(corpus, q, centroids=cent),
        "ivf_train": lambda: ivf_train(corpus, n_centroids=9, n_iter=1),
    }
    for name, read in readers.items():
        with pytest.raises(ValueError, match="exceeds 8 rows"):
            read()
            pytest.fail(f"{name} read a 9-row frame past the cap")
