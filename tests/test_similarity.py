from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from dgraph_dbpedia_spark.operators.similarity import (
    cosine_near_dup_pairs,
    cosine_topk,
    lsh_bucketed_topk,
)


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0, 0.0]),   # near 0
        (2, [0.0, 1.0, 0.0, 0.0]),    # orthogonal
        (3, [-1.0, 0.0, 0.0, 0.0]),   # opposite
        (4, [0.7, 0.7, 0.0, 0.0]),    # 45 degrees
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"]).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )


@pytest.fixture(scope="module")
def query(spark):
    return spark.createDataFrame([([1.0, 0.0, 0.0, 0.0],)], ["q"])


def test_cosine_topk_exact(spark, vectors, query):
    out = cosine_topk(vectors, query, k=3)
    rows = out.collect()
    assert [r["vec_id"] for r in rows] == [0, 1, 4]
    assert rows[0]["sim"] == 1.0
    assert abs(rows[2]["sim"] - math.cos(math.pi / 4)) < 1e-3


def test_lsh_topk_finds_same_bucket_neighbor(spark, vectors, query):
    out = lsh_bucketed_topk(vectors, query, k=3, dims=4, n_planes=4)
    ids = [r["vec_id"] for r in out.collect()]
    # exact match 0 must share the query's bucket by construction
    assert 0 in ids
    # the opposite vector can never share all sign bits
    assert 3 not in ids


@pytest.mark.parametrize(
    "rows, error",
    [
        ([], None),
        ([([1.0, 0.0, 0.0, 0.0],), ([0.0, 1.0, 0.0, 0.0],)], "exactly one query vector"),
        ([(None,)], "NULL"),
        ([([1.0, None, 0.0, 0.0],)], "NULL"),
        ([([1.0, float("nan"), 0.0, 0.0],)], "non-finite"),
        ([([float("inf"), 0.0, 0.0, 0.0],)], "non-finite"),
    ],
    ids=["empty", "multi_row", "null_vector", "null_component", "nan", "inf"],
)
def test_lsh_topk_degenerate_query(spark, vectors, rows, error):
    """The sibling serve paths' contract: an empty query frame returns a
    typed empty ``(vec_id, sim)`` frame; a multi-row frame, a NULL
    vector and a NULL or non-finite component raise ``ValueError``."""
    query = spark.createDataFrame(rows, "q array<double>")
    if error is None:
        out = lsh_bucketed_topk(vectors, query, k=3, dims=4, n_planes=4)
        assert out.collect() == []
        assert out.dtypes == [("vec_id", "bigint"), ("sim", "double")]
    else:
        with pytest.raises(ValueError, match=error):
            lsh_bucketed_topk(vectors, query, k=3, dims=4, n_planes=4)


def test_near_dup_pairs(spark, vectors):
    pairs = {(r["a"], r["b"]): r["sim"] for r in
             cosine_near_dup_pairs(vectors, threshold=0.95, dims=4, n_planes=4).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] >= 0.99
    assert all(s >= 0.95 for s in pairs.values())


def test_ivf_topk_exact_within_probed_lists(spark, vectors, query):
    from dgraph_dbpedia_spark.operators.similarity import ivf_topk

    # 2 centroids (ids 0, 1 — both near the query), probe 1: every vector
    # assigns to one of the two near-identical centroids, so probing the
    # nearest list must surface the exact match first
    out = ivf_topk(vectors, query, k=3, n_centroids=2, n_probe=1)
    rows = out.collect()
    assert rows[0]["vec_id"] == 0
    assert rows[0]["sim"] == 1.0
    # ids come from the probed inverted list only
    assert len(rows) <= 3


def test_ivf_full_probe_equals_brute_force(spark, vectors, query):
    from dgraph_dbpedia_spark.operators.similarity import cosine_topk, ivf_topk

    # probing every list makes IVF exhaustive == brute force
    ivf = ivf_topk(vectors, query, k=5, n_centroids=2, n_probe=2)
    brute = cosine_topk(vectors, query, k=5)
    assert [r["vec_id"] for r in ivf.collect()] == [
        r["vec_id"] for r in brute.collect()
    ]


def test_hyperplane_signs_arrow_pinned_equal_to_native(spark):
    """The vectorized numpy sketch must reproduce the native fold's
    bucket ids bit-for-bit (a sign flip needs a projection within
    ~1e-13 of zero — asserting zero mismatches pins it)."""
    from dgraph_dbpedia_spark.operators.similarity import (
        hyperplane_signs,
        hyperplane_signs_arrow,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    nat = e.select("vec_id", hyperplane_signs(F.col("e"), 8, 64).alias("b"))
    arr = e.select("vec_id", hyperplane_signs_arrow(8, 64)(F.col("e")).alias("b"))
    mismatches = (
        nat.alias("n")
        .join(arr.alias("a"), "vec_id")
        .where(F.col("n.b") != F.col("a.b"))
        .count()
    )
    assert mismatches == 0


def test_ivf_assign_no_shuffle(spark, vectors):
    """The assignment is a pure projection over a broadcast 1-row
    centroid fold — no hash/range repartitioning of the corpus may
    appear (the old crossJoin+window shape shuffled |df| x |centroids|
    rows). A BroadcastExchange and the bounded centroid fold's
    SinglePartition exchange are the point, not a violation."""
    from dgraph_dbpedia_spark.operators.similarity import ivf_assign

    e = vectors.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    cent = (
        e.orderBy("vec_id")
        .limit(2)
        .select(F.col("vec_id").alias("cid"), F.col("e").alias("c"))
    )
    asg = ivf_assign(e, cent)
    plan = asg._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    got = {r["vec_id"]: r["cid"] for r in asg.collect()}
    # 0 and its near-duplicate 1 are the centroids; orthogonal 2 and
    # 45-degree 4 are nearer to 1's direction than... verify argmax is
    # self-assignment for the centroids themselves at minimum
    assert got[0] == 0 and got[1] == 1


def test_ivf_served_partition_prunes_and_matches_inline(spark, vectors, query, tmp_path):
    """Serve path: inverted lists written partitionBy(cid) + literal
    cid IN (...) probe filter => the scan reads ONLY the probed list
    partitions (partition pruning visible in the physical plan), and
    the result equals the inline ivf_topk with the same centroids."""
    from dgraph_dbpedia_spark.operators.similarity import (
        ivf_assign,
        ivf_topk,
        ivf_topk_served,
    )

    e = vectors.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    cent = (
        e.orderBy("vec_id")
        .limit(2)
        .select(F.col("vec_id").alias("cid"), F.col("e").alias("c"))
    )
    root = str(tmp_path / "ivf")
    cent.write.parquet(f"{root}/centroids")
    ivf_assign(e, cent).write.partitionBy("cid").parquet(f"{root}/assigned")
    assigned = spark.read.parquet(f"{root}/assigned")
    centroids = spark.read.parquet(f"{root}/centroids")
    out = ivf_topk_served(assigned, centroids, query, k=3, n_probe=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the cid predicate must be a partition filter at the scan, not a
    # post-scan Filter over the full corpus
    assert "PartitionFilters: [" in plan and "cid" in plan.split("PartitionFilters:")[1][:120]
    inline = ivf_topk(vectors, query, k=3, n_centroids=2, n_probe=1)
    assert [
        (r["vec_id"], r["sim"]) for r in out.collect()
    ] == [(r["vec_id"], r["sim"]) for r in inline.collect()]


def test_ivf_topk_accepts_precomputed_centroids(spark, vectors, query):
    """ivf_topk(centroids=...) must reproduce the default seed path when
    handed the same frame ivf_seed_centroids builds — the build-once
    half of the serve path."""
    from dgraph_dbpedia_spark.operators.similarity import (
        ivf_seed_centroids,
        ivf_topk,
    )

    e = vectors.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    cent = ivf_seed_centroids(e, 2)
    got = ivf_topk(vectors, query, k=3, n_centroids=2, n_probe=1, centroids=cent)
    want = ivf_topk(vectors, query, k=3, n_centroids=2, n_probe=1)
    assert [(r["vec_id"], r["sim"]) for r in got.collect()] == [
        (r["vec_id"], r["sim"]) for r in want.collect()
    ]


def test_ivf_train_refines_and_feeds_topk(spark, vectors, query):
    """Lloyd refinement: cid identities preserved, components rounded,
    each trained centroid is the mean of its assigned vectors, and the
    trained frame plugs into ivf_topk's centroids parameter (full probe
    == brute force ordering)."""
    from dgraph_dbpedia_spark.operators.similarity import (
        cosine_topk,
        ivf_assign,
        ivf_train,
        ivf_topk,
    )

    cent = ivf_train(vectors, n_centroids=2, n_iter=2, vec_col="embedding")
    rows = {r["cid"]: r["c"] for r in cent.collect()}
    assert set(rows) == {0, 1}
    assert all(len(c) == 4 for c in rows.values())
    # verify the k-means invariant: each centroid == rounded mean of its
    # assigned vectors under the returned centroids' OWN assignment of
    # the previous iteration; cheap exact re-check on 5 vectors
    e = vectors.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    asg = {r["vec_id"]: r["cid"] for r in ivf_assign(e, cent).collect()}
    assert set(asg.values()) <= {0, 1}
    ivf = ivf_topk(vectors, query, k=5, n_centroids=2, n_probe=2, centroids=cent)
    brute = cosine_topk(vectors, query, k=5)
    assert [r["vec_id"] for r in ivf.collect()] == [
        r["vec_id"] for r in brute.collect()
    ]


def test_ivf_train_empty_input_empty_centroids(spark, vectors):
    from dgraph_dbpedia_spark.operators.similarity import ivf_train

    empty = vectors.where(F.lit(False))
    assert ivf_train(empty, n_centroids=2, n_iter=2).count() == 0


def test_ivf_served_rejects_multi_row_query(spark, vectors):
    """A multi-row query frame must raise loudly — each query probes a
    different list set, so mixing them into one unlabeled top-k would
    silently return garbage."""
    from dgraph_dbpedia_spark.operators.similarity import (
        ivf_seed_centroids,
        ivf_topk_served,
    )

    e = vectors.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    cent = ivf_seed_centroids(e, 2)
    assigned = e.withColumn("cid", F.lit(0).cast("long"))
    two_queries = vectors.limit(2).select(F.col("embedding").alias("q"))
    with pytest.raises(ValueError, match="exactly one query vector"):
        ivf_topk_served(assigned, cent, two_queries, k=3)


def test_ivf_served_empty_centroids_empty_result(spark, vectors, query):
    from dgraph_dbpedia_spark.operators.similarity import ivf_topk_served

    e = vectors.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    cent = e.where(F.lit(False)).select(
        F.col("vec_id").alias("cid"), F.col("e").alias("c")
    )
    assigned = e.withColumn("cid", F.lit(None).cast("long"))
    out = ivf_topk_served(assigned, cent, query, k=3)
    assert out.count() == 0
    assert out.columns == ["vec_id", "sim"]


def test_ivf_assign_empty_centroids_yields_null_cids(spark, vectors):
    """Docstring contract: an empty centroid frame yields NULL cids,
    never a crash. Regression: element_at(arr, 1) on the empty
    collect_list array raised INVALID_ARRAY_INDEX_IN_ELEMENT_AT under
    Spark 4's default ANSI mode — exactly the mid-job crash the
    single-pass rewrite claimed to eliminate."""
    from dgraph_dbpedia_spark.operators.similarity import ivf_assign

    e = vectors.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    cent = (
        e.where(F.lit(False))
        .select(F.col("vec_id").alias("cid"), F.col("e").alias("c"))
    )
    rows = ivf_assign(e, cent).collect()
    assert len(rows) == vectors.count()
    assert all(r["cid"] is None for r in rows)


def test_lsh_topk_many_per_query_k_and_exclusions(spark, vectors):
    """Batch ANN: <=k rows per query, candidates only from shared
    buckets, descending sim within each query."""
    from dgraph_dbpedia_spark.operators.similarity import lsh_bucketed_topk_many

    qs = vectors.where(F.col("vec_id").isin(0, 2)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("q")
    )
    corpus = vectors.where(~F.col("vec_id").isin(0, 2))
    out = lsh_bucketed_topk_many(corpus, qs, k=2, dims=4, n_planes=4)
    rows = out.collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["qid"], []).append(r)
    for qid, rs in by_q.items():
        assert len(rs) <= 2
        sims = [r["sim"] for r in rs]
        assert sims == sorted(sims, reverse=True)
    # query 0's near-duplicate (vector 1) shares all sign bits
    assert any(r["vec_id"] == 1 for r in by_q.get(0, []))
    # the opposite vector never lands in query 0's bucket
    assert not any(r["vec_id"] == 3 for r in by_q.get(0, []))


def test_near_dup_pairs_release_unpersists(spark, vectors):
    """Operators that persist self-join intermediates expose the handle;
    release() frees the cached partitions (ADVICE: long-session leak)."""
    from dgraph_dbpedia_spark.operators.cachectl import persisted_frames, release

    out = cosine_near_dup_pairs(vectors, threshold=0.95, dims=4, n_planes=4)
    out.collect()
    frames = persisted_frames(out)
    assert frames, "result should carry its persisted sketch handle"
    assert all(f.storageLevel.useMemory or f.storageLevel.useDisk for f in frames)
    n = release(out)
    assert n == len(frames)
    assert all(
        not (f.storageLevel.useMemory or f.storageLevel.useDisk) for f in frames
    )
    assert release(out) == 0  # idempotent


def test_probe_buckets_sequence_properties():
    """Multi-probe sequence: starts at the query's own bucket, unique
    buckets, correct length, and the first perturbation flips exactly
    the minimum-margin bit."""
    import numpy as np

    from dgraph_dbpedia_spark.operators.similarity import (
        plane_values,
        probe_buckets,
    )

    rng = np.random.default_rng(3)
    q = list(rng.normal(size=64))
    got = probe_buckets(q, 8, 64, 16)
    assert len(got) == 16 and len(set(got)) == 16
    planes = np.asarray(plane_values(8, 64)).reshape(8, 64)
    proj = planes @ np.asarray(q)
    base = int(((proj > 0).astype(np.int64) << np.arange(8)).sum())
    assert got[0] == base
    min_bit = int(np.argmin(np.abs(proj)))
    assert got[1] == base ^ (1 << min_bit)
    # probing every bucket degenerates to the full sequence, still unique
    full = probe_buckets(q, 4, 64, 16)
    assert sorted(full) == list(range(16))


def test_lsh_multiprobe_recall(spark):
    """On planted-neighbor data (50 cluster centers x 10 noisy copies —
    the regime ANN exists for; the driver's embeddings are isotropic
    random, where no sublinear index beats its scan fraction),
    n_planes=8 / n_probes=16 recovers >= 0.9 of the exact cosine top-10
    on average while probing 16 of 256 buckets (~7% of the corpus)."""
    import numpy as np

    from dgraph_dbpedia_spark.operators.similarity import (
        cosine_topk,
        lsh_bucketed_topk,
    )

    rng = np.random.default_rng(7)
    bases = rng.normal(size=(50, 64))
    x = np.repeat(bases, 10, axis=0) + 0.15 * rng.normal(size=(500, 64))
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<double>",
    ).cache()
    recalls = []
    for qi in (0, 87, 174, 261, 348, 435):
        q = df.where(F.col("vec_id") == qi).select(F.col("embedding").alias("q"))
        corpus = df.where(F.col("vec_id") != qi)
        exact = {r[0] for r in cosine_topk(corpus, q, k=10).collect()}
        ann = {
            r[0]
            for r in lsh_bucketed_topk(corpus, q, k=10, n_probes=16).collect()
        }
        recalls.append(len(exact & ann) / 10)
    df.unpersist()
    assert sum(recalls) / len(recalls) >= 0.9, recalls


def test_lsh_single_probe_subset_of_multiprobe(spark):
    """n_probes=1 candidates are a subset of n_probes=4's (the probe
    sequence only ever widens)."""
    import numpy as np

    from dgraph_dbpedia_spark.operators.similarity import lsh_bucketed_topk

    rng = np.random.default_rng(11)
    x = rng.normal(size=(200, 64))
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<double>",
    )
    q = df.where(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    corpus = df.where(F.col("vec_id") != 0)
    one = {r[0] for r in lsh_bucketed_topk(corpus, q, k=200, n_probes=1).collect()}
    four = {r[0] for r in lsh_bucketed_topk(corpus, q, k=200, n_probes=4).collect()}
    assert one <= four


def test_cosine_topk_query_col_and_zero_norm(spark):
    """cosine_topk must honor query_col on multi-column query frames
    and rank zero-norm vectors last (NULL sim)."""
    from dgraph_dbpedia_spark.operators.similarity import cosine_topk

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 0.0])],
        ["vec_id", "embedding"],
    )
    query = spark.createDataFrame(
        [(99, [1.0, 0.0])], ["qid", "q"]  # vector NOT the first column
    )
    got = cosine_topk(emb, query, k=3, query_col="q").collect()
    assert [r["vec_id"] for r in got] == [1, 2, 3]
    assert got[0]["sim"] == 1.0
    assert got[-1]["sim"] is None


def test_sessionize_stream_honors_gap(spark, tmp_path):
    """Non-default gap_seconds produces the same sessions as the batch
    twin at that gap."""
    import datetime as dt
    import pyarrow as pa
    import pyarrow.parquet as pq
    from dgraph_dbpedia_spark.streaming.events import (
        read_events_stream,
        run_to_memory,
        sessionize_batch,
        sessionize_stream,
    )

    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    rows = []
    for i, off in enumerate([0, 100, 800, 900, 5000]):
        rows.append((i, base + dt.timedelta(seconds=off), 1, "click", 0.0, ""))
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    d = tmp_path / "gap_events"
    d.mkdir()
    pq.write_table(tbl, str(d / "part-0.parquet"))

    stream = read_events_stream(spark, str(d))
    run_to_memory(
        sessionize_stream(stream, gap_seconds=600), "gap_sessions", "append"
    )
    got = {
        (r["session_id"], r["n_events"])
        for r in spark.table("gap_sessions").collect()
    }
    batch = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    want_all = sessionize_batch(batch, gap_seconds=600).collect()
    # the stream emits CLOSED sessions; with gap 600 the first session
    # is events at 0/100 (closed by the 800 event? no - gap 700 > 600),
    # second is 800/900, the 5000 event's session stays open at EOF
    assert (1, 2) in got or (0, 2) in got  # first closed session has 2 events
    want_counts = sorted(r["n_events"] for r in want_all)
    assert want_counts == [1, 2, 2]


def test_ivf_served_many_partition_prunes_and_matches_single(spark, vectors, tmp_path):
    """Batch serve path (r9): N queries against one materialized index.
    The single scan must partition-prune to the UNION of probed cids
    (literal cid IN (...) visible as a PartitionFilter), and each qid's
    rows must equal the single-query ivf_topk_served result for the
    same query vector."""
    from dgraph_dbpedia_spark.operators.similarity import (
        ivf_assign,
        ivf_topk_served,
        ivf_topk_served_many,
    )

    e = vectors.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    cent = (
        e.orderBy("vec_id")
        .limit(2)
        .select(F.col("vec_id").alias("cid"), F.col("e").alias("c"))
    )
    root = str(tmp_path / "ivf")
    cent.write.parquet(f"{root}/centroids")
    ivf_assign(e, cent).write.partitionBy("cid").parquet(f"{root}/assigned")
    assigned = spark.read.parquet(f"{root}/assigned")
    centroids = spark.read.parquet(f"{root}/centroids")
    qs = vectors.where(F.col("vec_id").isin([0, 2])).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("q")
    )
    out = ivf_topk_served_many(assigned, centroids, qs, k=3, n_probe=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert (
        "PartitionFilters: [" in plan
        and "cid" in plan.split("PartitionFilters:")[1][:120]
    )
    got = {
        qid: [(r["vec_id"], r["sim"]) for r in rows]
        for qid, rows in (
            (qid, sorted(
                (r for r in out.collect() if r["qid"] == qid),
                key=lambda r: (-r["sim"], r["vec_id"]),
            ))
            for qid in (0, 2)
        )
    }
    for qid in (0, 2):
        q1 = vectors.where(F.col("vec_id") == qid).select(
            F.col("embedding").alias("q")
        )
        want = [
            (r["vec_id"], r["sim"])
            for r in ivf_topk_served(assigned, centroids, q1, k=3, n_probe=1).collect()
        ]
        assert got[qid] == want, qid


def test_ivf_served_many_bounded_collect_guard(spark, vectors, tmp_path):
    """The per-query probe collect is bounded by contract: a query frame
    larger than max_queries raises instead of silently collecting an
    unbounded driver list."""
    import pytest as _pytest

    from dgraph_dbpedia_spark.operators.similarity import (
        ivf_assign,
        ivf_topk_served_many,
    )

    e = vectors.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    cent = e.orderBy("vec_id").limit(2).select(
        F.col("vec_id").alias("cid"), F.col("e").alias("c")
    )
    assigned = ivf_assign(e, cent)
    qs = vectors.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("q"))
    with _pytest.raises(ValueError, match="max_queries"):
        ivf_topk_served_many(assigned, cent, qs, k=2, n_probe=1, max_queries=2)


def test_ivf_served_many_empty_centroids_empty_result(spark, vectors):
    """Empty centroid frame -> empty (qid, id, sim) result, matching the
    single-query serve path's no-crash contract."""
    from dgraph_dbpedia_spark.operators.similarity import (
        ivf_assign,
        ivf_topk_served_many,
    )

    e = vectors.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    empty_cent = e.where(F.lit(False)).select(
        F.col("vec_id").alias("cid"), F.col("e").alias("c")
    )
    assigned = ivf_assign(e, empty_cent)
    qs = vectors.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("q")
    )
    out = ivf_topk_served_many(assigned, empty_cent, qs, k=2, n_probe=1)
    assert out.columns == ["qid", "vec_id", "sim"]
    assert out.count() == 0


def test_ivf_trained_recall_beats_seed(spark):
    """Lloyd-trained centroids must RAISE recall over the lowest-id seed
    centroids at the same n_probe — the claim ivf_train's docstring
    makes, pinned on the planted-neighbor fixture (50 cluster centers x
    10 noisy copies, the regime IVF exists for; the seeds are the 16
    lowest ids = copies of just 2 clusters, so probing 2 of 16 seed
    lists misses most clusters). Measured: seed 0.783, trained 0.950
    mean recall@10 at n_probe=2 — floor pinned at 0.9 with trained >=
    seed (training is deterministic: fixed data, rounded components)."""
    import numpy as np

    from dgraph_dbpedia_spark.operators.similarity import (
        cosine_topk,
        ivf_seed_centroids,
        ivf_topk,
        ivf_train,
    )

    rng = np.random.default_rng(7)
    bases = rng.normal(size=(50, 64))
    x = np.repeat(bases, 10, axis=0) + 0.15 * rng.normal(size=(500, 64))
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<double>",
    ).cache()
    e = df.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    seed = ivf_seed_centroids(e, 16).localCheckpoint()
    trained = ivf_train(df, n_centroids=16, n_iter=2).localCheckpoint()
    recall_seed, recall_trained = [], []
    for qi in (0, 87, 174, 261, 348, 435):
        q = df.where(F.col("vec_id") == qi).select(F.col("embedding").alias("q"))
        corpus = df.where(F.col("vec_id") != qi)
        exact = {r[0] for r in cosine_topk(corpus, q, k=10).collect()}
        s = {
            r[0]
            for r in ivf_topk(corpus, q, k=10, n_probe=2, centroids=seed).collect()
        }
        t = {
            r[0]
            for r in ivf_topk(
                corpus, q, k=10, n_probe=2, centroids=trained
            ).collect()
        }
        recall_seed.append(len(exact & s) / 10)
        recall_trained.append(len(exact & t) / 10)
    df.unpersist()
    mean_seed = sum(recall_seed) / len(recall_seed)
    mean_trained = sum(recall_trained) / len(recall_trained)
    assert mean_trained >= 0.9, recall_trained
    assert mean_trained >= mean_seed, (recall_trained, recall_seed)


def test_quantized_topk_schema_and_recall(spark):
    """int8 quantization (r9): the quantized column is genuinely 1-byte
    (array<tinyint> — the 4-8x scan-IO claim), values stay in
    [-127, 127], and on planted-neighbor data the quantized cosine
    top-10 recovers >= 0.9 of the exact top-10 (int8 loses ~0.4% of
    the mantissa, far below planted cluster separation)."""
    import numpy as np

    from dgraph_dbpedia_spark.operators.similarity import (
        cosine_topk,
        quantization_scales,
        quantize_embeddings,
        quantized_cosine_topk,
    )

    rng = np.random.default_rng(11)
    bases = rng.normal(size=(20, 32))
    x = np.repeat(bases, 10, axis=0) + 0.15 * rng.normal(size=(200, 32))
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<double>",
    ).cache()
    scales = quantization_scales(df)
    qe = quantize_embeddings(df, scales)
    assert dict(qe.dtypes)["qe"] == "array<tinyint>"
    stats = qe.select(
        F.max(F.array_max("qe")).alias("hi"), F.min(F.array_min("qe")).alias("lo")
    ).collect()[0]
    assert -127 <= stats["lo"] and stats["hi"] <= 127
    recalls = []
    for qi in (0, 55, 111, 166):
        q = df.where(F.col("vec_id") == qi).select(F.col("embedding").alias("q"))
        corpus = df.where(F.col("vec_id") != qi)
        exact = {r[0] for r in cosine_topk(corpus, q, k=10).collect()}
        quant = {r[0] for r in quantized_cosine_topk(corpus, q, k=10).collect()}
        recalls.append(len(exact & quant) / 10)
    df.unpersist()
    assert sum(recalls) / len(recalls) >= 0.9, recalls


def test_quantize_foreign_scales_clamps_not_crashes(spark):
    """A vector quantized with FOREIGN calibration (components beyond
    the scales' max-abs) must clamp to +/-127 — under Spark 4 ANSI an
    unclamped floor would overflow the tinyint cast mid-job."""
    from dgraph_dbpedia_spark.operators.similarity import (
        quantization_scales,
        quantize_embeddings,
    )

    calib = spark.createDataFrame(
        [(0, [1.0, -1.0])], "vec_id long, embedding array<double>"
    )
    scales = quantization_scales(calib)
    wild = spark.createDataFrame(
        [(1, [5.0, -5.0])], "vec_id long, embedding array<double>"
    )
    row = quantize_embeddings(wild, scales).collect()[0]
    assert row["qe"] == [127, -127]


def test_semantic_dedup_planted(spark):
    """SemDeDup contract: within-cluster near-dups collapse to the
    min-id representative; a high-cosine pair split across clusters
    survives intact (the paper's documented approximation); singletons
    pass through; the pair join is an equi-join, never a cartesian."""
    from dgraph_dbpedia_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_pairs,
    )

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.01]),
            (2, [1.0, 0.02]),
            (4, [1.0, 0.0]),
            (3, [0.01, 1.0]),
            # cosine(5,6) ~ 0.99964 >= threshold, but they assign to
            # DIFFERENT centroids -> never compared, both survive
            (5, [0.71, 0.704]),
            (6, [0.704, 0.71]),
        ],
        ["vec_id", "embedding"],
    )
    cent = spark.createDataFrame(
        [(10, [1.0, 0.0]), (20, [0.0, 1.0])], ["cid", "c"]
    )
    pairs = semantic_dedup_pairs(emb, threshold=0.999, centroids=cent)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    assert got == {(1, 2), (1, 4), (2, 4)}
    out = semantic_dedup(emb, threshold=0.999, centroids=cent)
    assert out.columns == ["vec_id", "embedding"]
    assert sorted(r["vec_id"] for r in out.collect()) == [1, 3, 5, 6]


def test_semantic_dedup_seed_centroid_default(spark):
    """Without explicit centroids the deterministic seed rule applies
    and every sub-threshold vector survives untouched."""
    from dgraph_dbpedia_spark.operators.similarity import semantic_dedup

    # slopes i/1 are pairwise distinct, so no two vectors are collinear
    # and every cosine stays below the near-1 threshold
    emb = spark.createDataFrame(
        [(i, [1.0, float(i)]) for i in range(8)],
        ["vec_id", "embedding"],
    )
    out = semantic_dedup(emb, threshold=0.9999999, n_centroids=3)
    assert sorted(r["vec_id"] for r in out.collect()) == list(range(8))


def test_semantic_dedup_accepts_trained_centroids(spark):
    """ivf_train output (cid, c) plugs straight into semantic_dedup's
    centroids parameter — the balanced-cluster upgrade path the
    docstring promises — and still collapses planted duplicates."""
    from dgraph_dbpedia_spark.operators.similarity import (
        ivf_train,
        semantic_dedup,
    )

    emb = spark.createDataFrame(
        [(1, [1.0, 0.01]), (2, [1.0, 0.02]), (3, [0.01, 1.0]), (4, [0.02, 1.0])],
        ["vec_id", "embedding"],
    )
    e = emb.selectExpr("vec_id", "cast(embedding as array<double>) AS _e")
    cent = ivf_train(e, n_centroids=2, n_iter=1, vec_col="_e")
    out = semantic_dedup(emb, threshold=0.999, centroids=cent)
    assert sorted(r["vec_id"] for r in out.collect()) == [1, 3]


def test_nearest_centroid_arrow_pinned_equal_to_native(spark):
    """The numpy assignment kernel must reproduce the native fold's
    (cid, nv, sim) on real data — cid bit-for-bit, nv/sim to the
    documented boundary tolerance (a divergence needs the unrounded
    cosine within ~1e-11 of a HALF_UP tie; asserting zero mismatches
    on the full sf0.001 table pins it, the hyperplane-twin pattern)."""
    from dgraph_dbpedia_spark.operators.similarity import (
        _ivf_assign_native,
        ivf_assign,
        ivf_seed_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    cent = ivf_seed_centroids(e, 16)
    nat = _ivf_assign_native(
        e, cent, norm_col="nv", sim_col="sim"
    ).select("vec_id", "cid", "nv", "sim")
    arr = ivf_assign(
        e, cent, norm_col="nv", sim_col="sim"
    ).select("vec_id", "cid", "nv", "sim")
    mism = (
        nat.alias("n")
        .join(arr.alias("a"), "vec_id")
        .where(
            (F.col("n.cid") != F.col("a.cid"))
            | (F.abs(F.col("n.nv") - F.col("a.nv")) > 1e-9)
            | (F.abs(F.col("n.sim") - F.col("a.sim")) > 1e-9)
        )
        .count()
    )
    assert mism == 0
    assert nat.count() == arr.count() == e.count()


def test_ivf_assign_arrow_empty_and_null_contracts(spark, vectors):
    """The Arrow kernel's edge contracts match the native reference
    fold: empty centroid frame -> NULL cid/sim with real norms; a NULL
    vector -> lowest cid, sim -2.0, NULL norm; a zero-norm vector ->
    lowest cid, sim -2.0, norm 0."""
    from dgraph_dbpedia_spark.operators.similarity import (
        _ivf_assign_native,
        ivf_assign,
    )

    e = vectors.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    empty_cent = spark.createDataFrame(
        [], "cid long, c array<double>"
    )
    for assign in (ivf_assign, _ivf_assign_native):
        out = assign(e, empty_cent, sim_col="sim").collect()
        assert len(out) == 5
        assert all(r["cid"] is None and r["sim"] is None for r in out)

    weird = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [0.0, 0.0])],
        "vec_id long, e array<double>",
    )
    cent = spark.createDataFrame(
        [(10, [1.0, 0.0]), (20, [0.0, 1.0])], "cid long, c array<double>"
    )
    for assign in (ivf_assign, _ivf_assign_native):
        got = {
            r["vec_id"]: r
            for r in assign(
                weird, cent, norm_col="nv", sim_col="sim"
            ).collect()
        }
        assert got[1]["cid"] == 10 and got[1]["sim"] == 1.0
        assert got[2]["cid"] == 10 and got[2]["sim"] == -2.0
        assert got[2]["nv"] is None
        assert got[3]["cid"] == 10 and got[3]["sim"] == -2.0
        assert got[3]["nv"] == 0.0


def _ivf_topk_native_plan(vectors, q, k, n_centroids, n_probe):
    """ivf_topk's all-native fallback plan over the seed centroids."""
    from dgraph_dbpedia_spark.operators.similarity import (
        _ivf_topk_native,
        ivf_seed_centroids,
    )

    e = vectors.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    cent = ivf_seed_centroids(e, n_centroids, vec_col="e")
    return _ivf_topk_native(e, cent, q, k, "vec_id", "q", n_probe)


def test_ivf_topk_arrow_matches_native(spark, vectors, query):
    """The arrow ivf_topk plan (driver-side probes + arrow assignment +
    literal-query re-rank) returns exactly the native plan's rows."""
    from dgraph_dbpedia_spark.operators.similarity import ivf_topk

    for n_probe in (1, 2):
        nat = _ivf_topk_native_plan(
            vectors, query, k=5, n_centroids=2, n_probe=n_probe
        ).collect()
        arr = ivf_topk(
            vectors, query, k=5, n_centroids=2, n_probe=n_probe
        ).collect()
        assert [(r["vec_id"], r["sim"]) for r in nat] == [
            (r["vec_id"], r["sim"]) for r in arr
        ]


def test_semantic_dedup_keep_low_centroid_sim(spark):
    """keep='low_centroid_sim' keeps the member FARTHEST from its
    centroid (the SemDeDup paper's pruning rule), not the min id:
    planted cluster {1, 2, 4} around centroid [1, 0] — member 4 IS the
    centroid direction (sim 1.0), member 2 has the largest angle, so 2
    must survive; min_id would keep 1. Singletons and the split
    cross-cluster pair still pass through."""
    from dgraph_dbpedia_spark.operators.similarity import semantic_dedup

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.01]),
            (2, [1.0, 0.02]),
            (4, [1.0, 0.0]),
            (3, [0.01, 1.0]),
        ],
        ["vec_id", "embedding"],
    )
    cent = spark.createDataFrame(
        [(10, [1.0, 0.0]), (20, [0.0, 1.0])], ["cid", "c"]
    )
    far = semantic_dedup(
        emb, threshold=0.999, centroids=cent, keep="low_centroid_sim"
    )
    assert sorted(r["vec_id"] for r in far.collect()) == [2, 3]
    # default stays min-id (oracle stability)
    min_id = semantic_dedup(emb, threshold=0.999, centroids=cent)
    assert sorted(r["vec_id"] for r in min_id.collect()) == [1, 3]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="keep"):
        semantic_dedup(emb, threshold=0.999, centroids=cent, keep="bogus")


def test_quantized_served_partition_prunes(spark, vectors, query, tmp_path):
    """Quantized serve path: int8 lists written partitionBy(cid) +
    literal cid IN (...) probe => partition prune at the scan; results
    match the brute-force quantized ranking restricted to the probed
    lists, with ids drawn from those lists only."""
    from dgraph_dbpedia_spark.operators.similarity import (
        ivf_assign,
        quantization_scales,
        quantize_embeddings,
        quantized_ivf_topk_served,
    )

    e = vectors.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    cent = (
        e.orderBy("vec_id")
        .limit(2)
        .select(F.col("vec_id").alias("cid"), F.col("e").alias("c"))
    )
    root = str(tmp_path / "qivf")
    cent.write.parquet(f"{root}/centroids")
    scales = quantization_scales(e, vec_col="e")
    scales.write.parquet(f"{root}/scales")
    asg = ivf_assign(e, cent).select("vec_id", "cid")
    quantize_embeddings(
        e, spark.read.parquet(f"{root}/scales"), vec_col="e"
    ).join(asg, "vec_id").write.partitionBy("cid").parquet(
        f"{root}/quantized"
    )
    quantized = spark.read.parquet(f"{root}/quantized")
    out = quantized_ivf_topk_served(
        quantized,
        spark.read.parquet(f"{root}/centroids"),
        spark.read.parquet(f"{root}/scales"),
        query,
        k=3,
        n_probe=1,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert (
        "PartitionFilters: [" in plan
        and "cid" in plan.split("PartitionFilters:")[1][:120]
    )
    rows = out.collect()
    # probe list of the query ([1,0,0,0]) is centroid 0's list: ids
    # {0, 1, 4} assign there (2 and 3 go to centroid 1 / score lower).
    # the exact match must rank first with quantized sim 1.0
    assert rows[0]["vec_id"] == 0 and rows[0]["sim"] == 1.0
    assert {r["vec_id"] for r in rows} <= {0, 1, 4}

    # empty centroid frame -> empty result, never a crash
    empty_cent = spark.createDataFrame([], "cid long, c array<double>")
    assert (
        quantized_ivf_topk_served(
            quantized, empty_cent, scales, query, k=3
        ).count()
        == 0
    )

    # multi-row query frame -> loud refusal (bounded-collect contract)
    import pytest as _pytest

    two_q = vectors.limit(2).select(F.col("embedding").alias("q"))
    with _pytest.raises(ValueError, match="one query vector"):
        quantized_ivf_topk_served(quantized, cent, scales, two_q, k=3)


def test_pair_cosine_arrow_pinned_equal_to_native(spark):
    """The einsum pair-scoring kernel must reproduce the native fold's
    round-6 pair sims on real data (zero mismatches over every
    within-cluster candidate pair of sf0.001 — the semantic_dedup_pairs
    pair stage — the assign-kernel pinning pattern)."""
    from dgraph_dbpedia_spark.operators.similarity import (
        _pair_cosine_native,
        ivf_assign,
        ivf_seed_centroids,
        pair_cosine_arrow,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("_e")
    )
    sk = ivf_assign(
        e, ivf_seed_centroids(e, 8, vec_col="_e"), vec_col="_e",
        norm_col="_n",
    ).localCheckpoint()
    pairs = (
        sk.select(
            F.col("vec_id").alias("a"), F.col("_e").alias("ea"),
            F.col("_n").alias("na"), "cid",
        )
        .join(
            sk.select(
                F.col("vec_id").alias("b"), F.col("_e").alias("eb"),
                F.col("_n").alias("nb"), "cid",
            ),
            "cid",
        )
        .where(F.col("a") < F.col("b"))
        .select(
            pair_cosine_arrow(6)("ea", "eb", "na", "nb").alias("sim_a"),
            _pair_cosine_native("ea", "eb", "na", "nb").alias("sim_n"),
        )
    )
    mism = pairs.where(
        F.col("sim_n").isNull()
        | F.col("sim_a").isNull()
        | (F.abs(F.col("sim_n") - F.col("sim_a")) > 1e-9)
    ).count()
    assert mism == 0
    assert pairs.count() > 0


def test_pair_cosine_arrow_null_contract(spark):
    """NULL vector / zero norm -> NULL sim (dropped by the threshold
    filter), exactly like try_divide + null propagation — never NaN."""
    from dgraph_dbpedia_spark.operators.similarity import pair_cosine_arrow

    df = spark.createDataFrame(
        [
            ([1.0, 0.0], [1.0, 0.0], 1.0, 1.0),
            (None, [1.0, 0.0], None, 1.0),
            ([0.0, 0.0], [1.0, 0.0], 0.0, 1.0),
        ],
        "ea array<double>, eb array<double>, na double, nb double",
    )
    got = df.select(
        pair_cosine_arrow(6)("ea", "eb", "na", "nb").alias("sim")
    ).collect()
    assert got[0]["sim"] == 1.0
    assert got[1]["sim"] is None
    assert got[2]["sim"] is None


def test_pair_cosine_arrow_ragged_contract(spark):
    """Dimension-mismatched or empty vectors must NOT abort the batch
    (np.asarray inhomogeneous-shape ValueError — ADVICE r10): the
    kernel substitutes zeros and forces NULL sim, exactly what the
    native zip_with fold produces (NULL-pad -> NULL dot -> try_divide
    NULL). Kernel and native reference checked row-by-row on the same
    frame."""
    from dgraph_dbpedia_spark.operators.similarity import (
        _pair_cosine_native,
        pair_cosine_arrow,
    )

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0], [1.0, 0.0], 1.0, 1.0),   # clean pair
            (2, [1.0, 0.0, 0.0], [1.0, 0.0], 1.0, 1.0),  # ragged a
            (3, [1.0, 0.0], [], 1.0, 1.0),           # empty b
            (4, [1.0], [1.0, 0.0], 1.0, 1.0),        # short a
            (5, None, [1.0, 0.0], None, 1.0),        # NULL a
            # internally-CONSISTENT pair of a different width than the
            # batch's first pair: the native lane scores it, so the
            # arrow lane must too (per-width einsum grouping)
            (6, [0.0, 1.0, 0.0], [0.0, 1.0, 0.0], 1.0, 1.0),
        ],
        "id long, ea array<double>, eb array<double>, na double, nb double",
    )
    arrow = {
        r["id"]: r["sim"]
        for r in df.select(
            "id", pair_cosine_arrow(6)("ea", "eb", "na", "nb").alias("sim")
        ).collect()
    }
    native = {
        r["id"]: r["sim"]
        for r in df.select(
            "id", _pair_cosine_native("ea", "eb", "na", "nb").alias("sim")
        ).collect()
    }
    assert arrow == native
    assert arrow[1] == 1.0
    assert arrow[6] == 1.0
    assert all(arrow[i] is None for i in (2, 3, 4, 5))


def test_semantic_dedup_pairs_normalized_fast_path(spark):
    """normalized=True over normalize_embeddings output: (1) the arrow
    dot kernel equals the native round(dot) reference on every pair,
    (2) both agree with the full-cosine path to the unit-norm rounding margin
    (components are round-6, so the true norm is 1 +- ~1e-6 — the dot
    and the cosine may differ by that much, never more), and (3) the
    pair-stage plan ships NO norm columns."""
    from dgraph_dbpedia_spark.operators.cachectl import release
    from dgraph_dbpedia_spark.operators.similarity import (
        _pair_cosine_native,
        normalize_embeddings,
        semantic_dedup_pairs,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    unit = normalize_embeddings(emb).withColumnRenamed("e", "embedding")
    kw = dict(threshold=-1.0, n_centroids=8)
    fast = semantic_dedup_pairs(unit, normalized=True, **kw)
    full = semantic_dedup_pairs(unit, normalized=False, **kw)
    vec = unit.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    nat = (
        fast.select("a", "b")
        .join(vec.select(F.col("vec_id").alias("a"), F.col("v").alias("ea")), "a")
        .join(vec.select(F.col("vec_id").alias("b"), F.col("v").alias("eb")), "b")
        .select("a", "b", _pair_cosine_native("ea", "eb", None, None).alias("sim"))
    )
    fa = {(r["a"], r["b"]): r["sim"] for r in fast.collect()}
    na = {(r["a"], r["b"]): r["sim"] for r in nat.collect()}
    fu = {(r["a"], r["b"]): r["sim"] for r in full.collect()}
    for f in (fast, full):
        release(f)
    assert fa and fa.keys() == na.keys() == fu.keys()
    for k, v in fa.items():
        assert na[k] is not None and abs(v - na[k]) <= 1e-9
        assert fu[k] is not None and abs(v - fu[k]) <= 5e-6
    # the normalized pair stage must not carry norm columns: the
    # na/nb pair-side aliases must be absent (the upstream
    # normalize_embeddings plan legitimately contains its own
    # internal _n attribute — that is the input, not the pair stage)
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "na#" not in plan and "nb#" not in plan


def test_semantic_dedup_pairs_normalized_scores_pairs_twice(spark):
    """Plan pin of the normalized pair stage: exactly TWO pair-score
    evaluations — the lower one scores every candidate pair and feeds
    the ``sim >= threshold`` filter, the upper one re-scores only the
    survivors for the output column. A third evaluation (or a lost
    filter) fails here; removing the duplicate is a plan change, not
    a refactor."""
    import re

    from dgraph_dbpedia_spark.operators.cachectl import release
    from dgraph_dbpedia_spark.operators.similarity import (
        semantic_dedup_pairs,
    )

    df = spark.createDataFrame(
        [(i, [1.0, 0.1 * i, 0.0]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    out = semantic_dedup_pairs(
        df, threshold=0.4, n_centroids=2, normalized=True
    )
    lines = out._jdf.queryExecution().executedPlan().toString().splitlines()
    score = [
        i for i, ln in enumerate(lines)
        if "ArrowEvalPython [score_dot(" in ln
    ]
    filt = [
        i for i, ln in enumerate(lines)
        if "Filter (" in ln and ">= 0.4)" in ln
    ]
    assert len(score) == 2 and len(filt) == 1, lines
    upper, lower = score
    assert upper < filt[0] < lower
    # the filter reads the LOWER evaluation's output attribute
    lower_out = re.search(r"\], \[(pythonUDF\d+#\d+)\]", lines[lower])
    assert lower_out and lower_out.group(1) in lines[filt[0]]
    assert len(out.collect()) > 0
    release(out)


def test_quantized_served_many_prunes_and_matches_single(
    spark, vectors, tmp_path
):
    """The int8 batch probe partition-prunes ONE scan of the quantized
    lists and per-query equals the single-query int8 serve path."""
    from dgraph_dbpedia_spark.operators.similarity import (
        ivf_assign,
        quantization_scales,
        quantize_embeddings,
        quantized_ivf_topk_served,
        quantized_ivf_topk_served_many,
    )

    e = vectors.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    cent = (
        e.orderBy("vec_id")
        .limit(2)
        .select(F.col("vec_id").alias("cid"), F.col("e").alias("c"))
    )
    root = str(tmp_path / "qivfm")
    cent.write.parquet(f"{root}/centroids")
    quantization_scales(e, vec_col="e").write.parquet(f"{root}/scales")
    scales = spark.read.parquet(f"{root}/scales")
    quantize_embeddings(e, scales, vec_col="e").join(
        ivf_assign(e, cent).select("vec_id", "cid"), "vec_id"
    ).write.partitionBy("cid").parquet(f"{root}/quantized")
    quantized = spark.read.parquet(f"{root}/quantized")
    centroids = spark.read.parquet(f"{root}/centroids")

    qs = vectors.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("q")
    )
    out = quantized_ivf_topk_served_many(
        quantized, centroids, scales, qs, k=3, n_probe=1
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert (
        "PartitionFilters: [" in plan
        and "cid" in plan.split("PartitionFilters:")[1][:120]
    )
    got = {}
    for r in out.collect():
        got.setdefault(r["qid"], []).append((r["vec_id"], r["sim"]))
    for qid in (0, 1):
        single = quantized_ivf_topk_served(
            quantized,
            centroids,
            scales,
            vectors.where(F.col("vec_id") == qid).select(
                F.col("embedding").alias("q")
            ),
            k=3,
            n_probe=1,
        )
        assert got[qid] == [(r["vec_id"], r["sim"]) for r in single.collect()]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_queries"):
        quantized_ivf_topk_served_many(
            quantized, centroids, scales, qs, k=3, n_probe=1, max_queries=1
        )


def test_ivf_assign_arrow_tolerates_ragged_vectors(spark):
    """A dimension-mismatched (or empty) vector must not abort the job
    (the native zip_with pads with NULL -> sim -2.0 -> lowest cid, true
    norm kept): the arrow kernel must reproduce exactly that."""
    from dgraph_dbpedia_spark.operators.similarity import (
        _ivf_assign_native,
        ivf_assign,
    )

    weird = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [1.0]),          # too short
            (3, [1.0, 0.0, 3.0]),  # too long
            (4, []),             # empty
        ],
        "vec_id long, e array<double>",
    )
    cent = spark.createDataFrame(
        [(10, [1.0, 0.0]), (20, [0.0, 1.0])], "cid long, c array<double>"
    )
    for assign in (ivf_assign, _ivf_assign_native):
        got = {
            r["vec_id"]: r
            for r in assign(weird, cent, norm_col="nv", sim_col="sim").collect()
        }
        assert got[1]["cid"] == 10 and got[1]["sim"] == 1.0
        for vid, nrm in ((2, 1.0), (3, (1 + 9) ** 0.5), (4, 0.0)):
            assert got[vid]["cid"] == 10 and got[vid]["sim"] == -2.0
            assert abs(got[vid]["nv"] - nrm) < 1e-12


def test_ivf_topk_arrow_falls_back_on_degenerate_query(spark, vectors):
    """ivf_topk resolves the query driver-side, so a NULL vector or a
    multi-row query frame must FALL BACK to the native plan (identical
    results to _ivf_topk_native called directly), never raise."""
    from dgraph_dbpedia_spark.operators.similarity import ivf_topk

    null_q = spark.createDataFrame([(None,)], "q array<double>")
    empty_vec_q = spark.createDataFrame([([],)], "q array<double>")
    for q in (
        null_q,
        empty_vec_q,  # all() over [] is vacuously true — guarded
        vectors.limit(0).select(F.col("embedding").alias("q")),  # empty
        vectors.orderBy("vec_id").limit(2).select(
            F.col("embedding").alias("q")
        ),  # multi-row
    ):
        nat = _ivf_topk_native_plan(
            vectors, q, k=3, n_centroids=2, n_probe=1
        ).collect()
        arr = ivf_topk(vectors, q, k=3, n_centroids=2, n_probe=1).collect()
        assert [(r["vec_id"], r["sim"]) for r in nat] == [
            (r["vec_id"], r["sim"]) for r in arr
        ]


def test_normalize_embeddings_truncation_and_norms(spark):
    """MRL truncation + L2 normalize: unit norms after, truncation
    before normalization, zero-norm -> NULL; the norm fold must appear
    ONCE in the plan (bound as an attribute), not once per component
    (the CollapseProject O(dims^2) trap)."""
    import math

    from dgraph_dbpedia_spark.operators.similarity import (
        normalize_embeddings,
    )

    rows = [(0, [3.0, 4.0, 10.0, 0.0]), (1, [0.0, 0.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    full = {r["vec_id"]: r["e"] for r in normalize_embeddings(df).collect()}
    assert full[1] is None
    # components round to 6 decimals, so the norm is 1 +- ~2e-6
    assert abs(sum(x * x for x in full[0]) - 1.0) < 5e-6
    trunc = {
        r["vec_id"]: r["e"]
        for r in normalize_embeddings(df, dims=2).collect()
    }
    assert trunc[0] == [0.6, 0.8]  # 3-4-5 triangle, renormalized
    assert trunc[1] is None

    plan = (
        normalize_embeddings(df, dims=2)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    # the sqrt(sum-of-squares) fold appears exactly once
    assert plan.count("SQRT") == 1
    assert "Exchange" not in plan

    import pytest as _pytest

    with _pytest.raises(ValueError, match="dims"):
        normalize_embeddings(df, dims=0)


def test_ann_join_bulk_retrieval(spark):
    """Cross-corpus ANN join: an identical twin in df_b ranks 1 at sim
    1.0; ranks are 1..<=k per a-vector ordered (sim desc, b asc);
    min_sim prunes; no persisted handles (each sketch feeds one
    branch)."""
    from dgraph_dbpedia_spark.operators.cachectl import persisted_frames
    from dgraph_dbpedia_spark.operators.similarity import ann_join

    import math

    def vec(theta):
        # unit vectors on a 2D circle embedded in 4 dims
        return [math.cos(theta), math.sin(theta), 0.0, 0.0]

    a = spark.createDataFrame(
        [(1, vec(0.0)), (2, vec(1.5))], ["vec_id", "embedding"]
    )
    b = spark.createDataFrame(
        [(10, vec(0.0)), (11, vec(0.1)), (12, vec(1.5)), (13, vec(3.0))],
        ["vec_id", "embedding"],
    )
    out = ann_join(a, b, k=2, n_planes=4, dims=4)
    assert not persisted_frames(out)
    rows = {(r["a"], r["rnk"]): (r["b"], r["sim"]) for r in out.collect()}
    # a=1's identical twin b=10 must rank 1 with sim 1.0 (they share
    # every hyperplane bucket bit by construction)
    assert rows[(1, 1)] == (10, 1.0)
    # ranks contiguous from 1, at most k per a
    by_a = {}
    for (av, rnk) in rows:
        by_a.setdefault(av, []).append(rnk)
    for av, rnks in by_a.items():
        assert sorted(rnks) == list(range(1, len(rnks) + 1))
        assert len(rnks) <= 2

    # each a-vector has exactly one identical twin in b — min_sim at
    # 0.999 keeps exactly those two links
    strict = ann_join(a, b, k=2, n_planes=4, dims=4, min_sim=0.999)
    got = sorted((r["a"], r["b"]) for r in strict.collect())
    assert got == [(1, 10), (2, 12)]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="k must be"):
        ann_join(a, b, k=0)


def test_semantic_decontaminate_drops_planted_leak(spark):
    """A corpus row identical to a benchmark row must be dropped; a
    far row survives with all original columns."""
    from dgraph_dbpedia_spark.operators.similarity import (
        semantic_decontaminate,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    bench = emb.where(F.col("vec_id") < 5)
    # corpus: a verbatim copy of benchmark vec 0 (id 9000) + real rows
    leak = bench.where(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 9000).alias("vec_id"), "embedding"
    )
    corpus = (
        emb.where(F.col("vec_id") >= 5)
        .select("vec_id", "embedding")
        .unionByName(leak)
    )
    kept = semantic_decontaminate(
        corpus, bench, threshold=0.99, n_planes=4, n_bands=8, dims=64
    )
    assert kept.columns == ["vec_id", "embedding"]
    kept_ids = {r["vec_id"] for r in kept.select("vec_id").collect()}
    assert 9000 not in kept_ids
    assert len(kept_ids) >= corpus.count() - 5  # only near-exact drops
    # NEAR-duplicate leak (paraphrase class): one perturbed component
    # -> cosine just under 1.0; the OR-amplified bands must still
    # catch it (miss probability ~(1 - p^4)^8 with p ~ 0.99 — the
    # single-band first cut left this class to one coin flip)
    first = bench.where(F.col("vec_id") == 0).first()["embedding"]
    pert = [float(x) for x in first]
    pert[0] = pert[0] + 0.05 * (1.0 if pert[0] >= 0 else -1.0)
    near = spark.createDataFrame(
        [(9001, pert)], "vec_id long, embedding array<double>"
    )
    kept2 = semantic_decontaminate(
        corpus.unionByName(near), bench, threshold=0.95, n_planes=4,
        n_bands=8, dims=64,
    )
    assert 9001 not in {
        r["vec_id"] for r in kept2.select("vec_id").collect()
    }

    import pytest

    with pytest.raises(ValueError, match="n_planes"):
        semantic_decontaminate(corpus, bench, n_planes=16, n_bands=8)
    # the DEFAULT knobs must satisfy their own <=60-bit validation
    # (the r12 first cut defaulted to 8x8 = 64 bits and raised)
    assert semantic_decontaminate(
        bench.limit(2), bench.limit(1)
    ).count() >= 0


def test_embedding_drift_hand_computed(spark):
    """Two clean groups plus NULL/empty rows: per-group centroids,
    global centroid from the SAME per-group sums, cosine/norm hand
    checks, degenerate rows counted nowhere."""
    from dgraph_dbpedia_spark.operators.cachectl import release
    from dgraph_dbpedia_spark.operators.similarity import embedding_drift

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0),
            (2, [3.0, 0.0], 0),
            (3, [0.0, 2.0], 1),
            (4, [0.0, 4.0], 1),
            (5, None, 0),
            (6, [], 1),
        ],
        "vec_id long, embedding array<double>, label int",
    )
    out = embedding_drift(df)
    rows = {r["label"]: r for r in out.collect()}
    release(out)
    # group 0 centroid (2, 0); group 1 centroid (0, 3); global (1, 1.5)
    assert rows[0]["n"] == 2 and rows[1]["n"] == 2
    assert rows[0]["mean_norm"] == 2.0
    assert rows[1]["mean_norm"] == 3.0
    import math

    g = (1.0, 1.5)
    ng = math.sqrt(g[0] ** 2 + g[1] ** 2)
    assert rows[0]["cos_to_global"] == round(1.0 * g[0] / (1.0 * ng), 4)
    assert rows[1]["cos_to_global"] == round(1.0 * g[1] / (1.0 * ng), 4)
    # ragged widths: a 3-wide row contributes pos 2 alone to its group
    ragged = df.union(
        spark.createDataFrame(
            [(7, [0.0, 0.0, 9.0], 1)],
            "vec_id long, embedding array<double>, label int",
        )
    )
    r1 = {
        r["label"]: r for r in embedding_drift(ragged).collect()
    }[1]
    # group-1 centroid now (0, 2, 9): pos-2 mean divides by ITS count
    assert r1["n"] == 3
    assert r1["mean_norm"] == round(math.sqrt(4.0 + 81.0), 4)


def test_hard_negatives_band_family_and_rank_semantics(spark):
    """The contrastive-training contract: (1) near-duplicates above
    hi are excluded AND do not consume a rank slot (rank among
    eligible, not post-filter); (2) same-family rows never appear —
    including the query itself when the corpus contains it; (3) sims
    respect [lo, hi); (4) lo < hi validated."""
    import pytest

    from dgraph_dbpedia_spark.operators.similarity import hard_negatives

    # query q (family 0); corpus: q itself, a near-twin in family 1
    # (sim ~1 -> above hi), a same-family sibling (must vanish), and
    # two eligible negatives at distinct similarity levels
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),      # the query itself
        (1, [1.0, 0.001, 0.0, 0.0], 1),    # near-twin, sim > hi
        (2, [0.9, 0.1, 0.0, 0.0], 0),      # same family
        (3, [0.8, 0.6, 0.0, 0.0], 1),      # eligible, harder
        (4, [0.3, 0.95, 0.0, 0.0], 2),     # eligible, easier
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    got = hard_negatives(
        emb.where(F.col("vec_id") == 0),
        emb,
        k=2,
        lo=0.0,
        hi=0.99,
        exclude_same="label",
        n_planes=1,   # one plane -> near-guaranteed bucket collision
        dims=4,
    ).collect()
    ids = [r["neg_id"] for r in got]
    assert 0 not in ids and 2 not in ids          # family excluded
    assert 1 not in ids                           # above hi excluded
    assert ids == [3, 4]                          # hardest first
    assert [r["rnk"] for r in got] == [1, 2]      # ranks not consumed
    assert all(0.0 <= r["sim"] < 0.99 for r in got)
    with pytest.raises(ValueError, match="lo < hi"):
        hard_negatives(emb, emb, lo=0.9, hi=0.9)


def test_jl_project_numpy_twin_and_degenerate_rows(spark):
    """Components equal the host-side numpy twin (same plane_values
    matrix, sqrt(3/out_dims) scale, round-6 HALF-UP-adjacent via
    F.round); a NULL or width-mismatched vector projects to NULL
    (never silently mis-projected); plan stays Python-free and
    shuffle-free."""
    import numpy as np

    from dgraph_dbpedia_spark.operators.similarity import (
        jl_project,
        plane_values,
    )

    rows = [
        (0, [1.0, 0.0, -2.0, 0.5]),
        (1, [0.25, -0.75, 3.0, 1.5]),
        (2, None),
        (3, [1.0, 2.0]),  # wrong width
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    got = {
        r["vec_id"]: r["e"]
        for r in jl_project(df, 3, 4).collect()
    }
    P = np.asarray(plane_values(3, 4)).reshape(3, 4)
    s = math.sqrt(3.0 / 3)
    for vid, vec in rows[:2]:
        exp = [round(float(x), 6) for x in s * (P @ np.asarray(vec))]
        assert got[vid] == pytest.approx(exp, abs=1e-12)
    assert got[2] is None and got[3] is None

    plan = (
        jl_project(df, 3, 4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Python" not in plan and "Exchange" not in plan


def test_jl_topk_twin_rank1_and_shortlist_recall(spark):
    """The sf0.001 embeddings: a planted twin (identical vector under
    a fresh id) projects identically, so it ranks first at sim 1.0
    through the JL space; and the honest shortlist contract — the
    exact top-10 ids are recovered at a pinned floor by a 50-deep
    16-dim shortlist (measured 0.4 on this corpus; JL at eps ~
    sqrt(log n / k) is a SHORTLIST scorer, re-rank for final
    order)."""
    from dgraph_dbpedia_spark.operators.similarity import (
        cosine_topk,
        jl_topk,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    q = emb.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q")
    )
    twin = emb.where(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(twin)
    top = jl_topk(corpus, q, k=3, out_dims=16, dims=64).collect()
    assert [r["vec_id"] for r in top[:2]] == [0, 100000]
    assert top[0]["sim"] == 1.0 and top[1]["sim"] == 1.0

    exact = {
        r["vec_id"] for r in cosine_topk(emb, q, k=10).collect()
    }
    shortlist = {
        r["vec_id"]
        for r in jl_topk(emb, q, k=50, out_dims=16, dims=64).collect()
    }
    assert len(exact & shortlist) / 10 >= 0.4


def test_jl_project_validation(spark):
    from dgraph_dbpedia_spark.operators.similarity import jl_project

    df = spark.createDataFrame(
        [(0, [1.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="out_dims"):
        jl_project(df, 0, 1)
    with pytest.raises(ValueError, match="dims"):
        jl_project(df, 1, 0)


def test_jl_rerank_topk_twin_and_recall(spark):
    """Two-stage JL serve: the planted twin survives the projected
    shortlist and the exact re-rank puts it at rank 1-2 with sim 1.0;
    composed recall@10 vs exact equals the shortlist's containment
    (the re-rank stage itself is lossless over its candidates); knob
    validation is loud."""
    from dgraph_dbpedia_spark.operators.similarity import (
        cosine_topk,
        jl_rerank_topk,
        jl_topk,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    q = emb.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q")
    )
    twin = emb.where(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(twin)
    top = jl_rerank_topk(
        corpus, q, k=3, shortlist_n=20, out_dims=16, dims=64
    ).collect()
    assert [r["vec_id"] for r in top[:2]] == [0, 100000]
    assert top[0]["sim"] == 1.0 and top[1]["sim"] == 1.0

    exact = {r["vec_id"] for r in cosine_topk(emb, q, k=10).collect()}
    sl = {
        r["vec_id"]
        for r in jl_topk(emb, q, k=50, out_dims=16, dims=64).collect()
    }
    got = {
        r["vec_id"]
        for r in jl_rerank_topk(
            emb, q, k=10, shortlist_n=50, out_dims=16, dims=64
        ).collect()
    }
    # lossless stage 2: every exact-top-10 id the shortlist contains
    # must appear in the composed top-10
    assert exact & sl <= got

    with pytest.raises(ValueError, match="shortlist_n"):
        jl_rerank_topk(emb, q, k=10, shortlist_n=5)
    with pytest.raises(ValueError, match="k must be"):
        jl_rerank_topk(emb, q, k=0)


def test_embedding_outliers_hand_computed(spark):
    """Centroid = round-6 per-position group mean; each row scores the
    round-4 cosine to its OWN group's centroid; NULL/empty vectors
    score NULL; a planted far vector scores lowest in its group."""
    import numpy as np

    from dgraph_dbpedia_spark.operators.similarity import (
        embedding_outliers,
    )

    rows = [
        (0, 0, [1.0, 0.0]),
        (1, 0, [0.9, 0.1]),
        (2, 0, [-1.0, 0.0]),      # planted outlier in group 0
        (3, 1, [0.0, 1.0]),
        (4, 1, [0.0, 0.8]),
        (5, 1, None),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    got = {
        r["vec_id"]: r["sim_to_centroid"]
        for r in embedding_outliers(df).collect()
    }
    assert len(got) == 6 and got[5] is None

    def cos(a, b):
        a, b = np.asarray(a), np.asarray(b)
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    c0 = [round(x, 6) for x in np.mean([[1.0, 0.0], [0.9, 0.1], [-1.0, 0.0]], axis=0)]
    c1 = [round(x, 6) for x in np.mean([[0.0, 1.0], [0.0, 0.8]], axis=0)]
    for vid, lab, v in rows[:5]:
        exp = round(cos(v, c0 if lab == 0 else c1), 4)
        assert got[vid] == pytest.approx(exp, abs=1e-9)
    # the planted outlier is the group's minimum
    assert got[2] == min(got[0], got[1], got[2])


def test_embedding_outliers_keeps_centroidless_groups(spark):
    """r12 review: a group whose vectors are ALL NULL (a failed
    embedding batch) and rows with NULL group keys still appear in
    the report with NULL scores — never silently vanish."""
    from dgraph_dbpedia_spark.operators.similarity import (
        embedding_outliers,
    )

    df = spark.createDataFrame(
        [
            (0, 0, [1.0, 0.0]),
            (1, 0, [0.8, 0.2]),
            (2, 7, None),          # whole group 7 has no usable vecs
            (3, 7, None),
            (4, None, [1.0, 1.0]),  # NULL group key
        ],
        "vec_id long, label int, embedding array<double>",
    )
    got = {
        r["vec_id"]: r["sim_to_centroid"]
        for r in embedding_outliers(df).collect()
    }
    assert set(got) == {0, 1, 2, 3, 4}
    assert got[2] is None and got[3] is None and got[4] is None
    assert got[0] is not None and got[1] is not None


def test_jl_topk_rejects_multi_row_query(spark):
    import pytest as _pytest

    from dgraph_dbpedia_spark.operators.similarity import (
        jl_rerank_topk,
        jl_topk,
    )

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    two_q = spark.createDataFrame(
        [([1.0, 0.0],), ([0.0, 1.0],)], "q array<double>"
    )
    # r13 (ADVICE r12): empty and NULL-vector query frames raise like
    # multi-row ones — previously an empty frame silently returned an
    # empty result
    empty_q = two_q.limit(0)
    null_q = spark.createDataFrame([(None,)], "q array<double>")
    for fn in (jl_topk, jl_rerank_topk):
        with _pytest.raises(ValueError, match="exactly one query"):
            fn(df, two_q, k=1, out_dims=2, dims=2)
        with _pytest.raises(ValueError, match="empty query frame"):
            fn(df, empty_q, k=1, out_dims=2, dims=2)
        with _pytest.raises(ValueError, match="NULL query vector"):
            fn(df, null_q, k=1, out_dims=2, dims=2)


def test_ivf_update_report_hand_computed(spark):
    """4 existing axis-aligned vectors seed k=2 lists (cids 0, 1);
    3 new vectors land on their nearest seed; the 2x-mean split rule
    fires only for the list holding > 2*(7/2)/... — hand-checked:
    totals (5, 2), mean 3.5, threshold 7.0 -> no split at factor 2;
    at factor 1.2 the 5-list (> 4.2) must flag."""
    from dgraph_dbpedia_spark.operators.similarity import ivf_update_report

    ex = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.0, 1.0]),
            (2, [0.9, 0.1]),   # -> cid 0
            (3, [0.95, 0.05]),  # -> cid 0
        ],
        "vec_id long, embedding array<double>",
    )
    nw = spark.createDataFrame(
        [
            (10, [1.0, 0.05]),   # -> cid 0
            (11, [0.05, 1.0]),   # -> cid 1
            (12, [0.8, 0.2]),    # -> cid 0
        ],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["cid"]: r
        for r in ivf_update_report(
            ex, nw, n_centroids=2, split_factor=2.0
        ).collect()
    }
    assert (got[0]["n_old"], got[0]["n_new"], got[0]["n_total"]) == (3, 2, 5)
    assert (got[1]["n_old"], got[1]["n_new"], got[1]["n_total"]) == (1, 1, 2)
    assert got[0]["needs_split"] == 0 and got[1]["needs_split"] == 0
    flagged = {
        r["cid"]: r["needs_split"]
        for r in ivf_update_report(
            ex, nw, n_centroids=2, split_factor=1.2
        ).collect()
    }
    assert flagged == {0: 1, 1: 0}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_centroids"):
        ivf_update_report(ex, nw, n_centroids=0)
    with _pytest.raises(ValueError, match="split_factor"):
        ivf_update_report(ex, nw, split_factor=0.0)


def test_ivf_update_report_fewer_vectors_than_centroids(spark):
    """When existing holds fewer vectors than n_centroids, the split
    mean must use the ACTUAL list count (r13 review: a literal k=8
    over 2 real lists would compare against a 4x-too-small mean and
    over-fire needs_split)."""
    from dgraph_dbpedia_spark.operators.similarity import ivf_update_report

    ex = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    nw = spark.createDataFrame(
        [(10, [1.0, 0.1]), (11, [0.9, 0.2])],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["cid"]: r
        for r in ivf_update_report(
            ex, nw, n_centroids=8, split_factor=2.0
        ).collect()
    }
    # 2 lists, totals (3, 1), mean 2 -> threshold 4: nothing splits
    assert len(got) == 2
    assert (got[0]["n_total"], got[1]["n_total"]) == (3, 1)
    assert got[0]["needs_split"] == 0 and got[1]["needs_split"] == 0


def test_knn_label_noise_hand_computed(spark):
    """Two tight 4-member clusters (x-axis = label 0, y-axis = label
    1) with one PLANTED mislabel in each: every row's k=3 nearest are
    its 3 cluster-mates, so the mislabeled rows lose their vote 3-0
    and every clean row wins 2-1 — one suspect per label, rate
    0.25."""
    from dgraph_dbpedia_spark.operators.similarity import (
        knn_label_noise_report,
    )

    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.99, 0.01, 0.0], 0),
        (2, [0.98, 0.02, 0.0], 0),
        (3, [0.97, 0.03, 0.0], 1),   # planted mislabel (x cluster)
        (4, [0.0, 1.0, 0.0], 1),
        (5, [0.01, 0.99, 0.0], 1),
        (6, [0.02, 0.98, 0.0], 1),
        (7, [0.03, 0.97, 0.0], 0),   # planted mislabel (y cluster)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    got = {
        r["label"]: r
        for r in knn_label_noise_report(emb, k=3).collect()
    }
    # label 0 rows: 0, 1, 2 clean; 7 suspect -> 1/4
    assert (got[0]["n"], got[0]["n_suspect"]) == (4, 1)
    assert got[0]["noise_rate"] == 0.25
    # label 1 rows: 4, 5, 6 clean; 3 suspect -> 1/4
    assert (got[1]["n"], got[1]["n_suspect"]) == (4, 1)


def test_knn_label_noise_vote_tie_lowest_label(spark):
    """A 1-1 vote tie resolves to the LOWEST label (count desc, label
    asc): with three collinear rows and k=2, every query sees both
    other rows. Vec 0 (label 0) ties 1-1 -> majority 0 = own ->
    clean; vec 1 (label 1) ties 1-1 -> majority 0 != own -> suspect;
    vec 2 (label 0) ties 1-1 -> clean."""
    from dgraph_dbpedia_spark.operators.similarity import (
        knn_label_noise_report,
    )

    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.99, 0.01, 0.0], 1),
        (2, [0.98, 0.02, 0.0], 0),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    got = {
        r["label"]: r
        for r in knn_label_noise_report(emb, k=2).collect()
    }
    assert (got[0]["n"], got[0]["n_suspect"]) == (2, 0)
    assert (got[1]["n"], got[1]["n_suspect"]) == (1, 1)


def test_knn_label_noise_null_labels_excluded(spark):
    """NULL-labeled rows neither vote nor get audited: vec 1 is vec
    0's nearest vector by far, but carries a NULL label, so vec 0's
    k=1 vote comes from the nearest LABELED row (the y-cluster, label
    1) and its own label 0 loses; vec 1 itself never appears in the
    report."""
    from dgraph_dbpedia_spark.operators.similarity import (
        knn_label_noise_report,
    )

    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.99, 0.01, 0.0], None),  # excluded both sides
        (2, [0.0, 1.0, 0.0], 1),
        (3, [0.01, 0.99, 0.0], 1),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    got = {
        r["label"]: r
        for r in knn_label_noise_report(emb, k=1).collect()
    }
    assert set(got) == {0, 1}
    assert (got[0]["n"], got[0]["n_suspect"]) == (1, 1)
    assert (got[1]["n"], got[1]["n_suspect"]) == (2, 0)


def test_knn_label_noise_candidate_pairs_path(spark):
    """The blocked scale path: candidate_pairs restricts the neighbor
    universe — with pairs only INSIDE each planted cluster, the
    mislabeled row is still caught, and the report equals the exact
    form restricted to those pairs."""
    from dgraph_dbpedia_spark.operators.similarity import (
        knn_label_noise_report,
    )

    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.99, 0.01, 0.0], 0),
        (2, [0.98, 0.02, 0.0], 1),   # mislabel, x cluster
        (3, [0.0, 1.0, 0.0], 1),
        (4, [0.01, 0.99, 0.0], 1),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    pairs = spark.createDataFrame(
        [(a, b) for a in (0, 1, 2) for b in (0, 1, 2) if a != b]
        + [(a, b) for a in (3, 4) for b in (3, 4) if a != b],
        ["qid", "nid"],
    )
    got = {
        r["label"]: r
        for r in knn_label_noise_report(
            emb, k=2, candidate_pairs=pairs
        ).collect()
    }
    assert (got[0]["n"], got[0]["n_suspect"]) == (2, 0)
    # label-1 rows: 2 (votes 0,0 -> suspect), 3 and 4 (each has only
    # one in-block neighbor, label 1 -> clean)
    assert (got[1]["n"], got[1]["n_suspect"]) == (3, 1)


def test_knn_label_noise_k_validation(spark):
    from dgraph_dbpedia_spark.operators.similarity import (
        knn_label_noise_report,
    )

    emb = spark.createDataFrame(
        [(0, [1.0], 0)], ["vec_id", "embedding", "label"]
    )
    try:
        knn_label_noise_report(emb, k=0)
        assert False, "k=0 must raise"
    except ValueError:
        pass


def test_knn_label_noise_arrow_native_bit_equal(spark):
    """The pair-cosine kernel the k-NN audit scores with equals its
    native reference on EVERY exact-mode pair of the real sf0.001
    embeddings (the registered row's shape) — bit-for-bit, NULL sims
    included, so the rank and vote downstream see identical input."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    lab = emb.where(F.col("label").isNotNull())
    side = lambda i, v: lab.select(  # noqa: E731
        F.col("vec_id").alias(i), F.col("embedding").cast("array<double>").alias(v)
    )
    mism, n = _knn_pair_kernel_mismatches(side("_qid", "_qv"), side("_nid", "_nv"))
    assert mism == 0 and n > 0


def _knn_pair_kernel_mismatches(a, b):
    """Pairs of ``a`` x ``b`` (the k-NN pair lane's ``(_qid, _qv,
    _qn)`` / ``(_nid, _nv, _nn)`` sides, self-pairs excluded) whose
    round-6 pair-cosine kernel sim differs from the native reference —
    bit-for-bit, NULLs included — and the number of pairs checked."""
    from dgraph_dbpedia_spark.operators.similarity import (
        _norm,
        _pair_cosine_native,
        pair_cosine_arrow,
    )

    a = a.withColumn("_qn", _norm(F.col("_qv")))
    b = b.withColumn("_nn", _norm(F.col("_nv")))
    scored = (
        a.crossJoin(b)
        .where(F.col("_qid") != F.col("_nid"))
        .select(
            pair_cosine_arrow(6)("_qv", "_nv", "_qn", "_nn").alias("arr"),
            _pair_cosine_native("_qv", "_nv", "_qn", "_nn").alias("nat"),
        )
    )
    return (
        scored.where(~F.col("arr").eqNullSafe(F.col("nat"))).count(),
        scored.count(),
    )


def test_knn_classify_hand_computed(spark):
    """Label propagation over two gold clusters: a query on the
    x-axis takes the x cluster's label with full confidence; a query
    between the clusters but nearer y takes y's label with a split
    vote; an unlabeled GOLD row cannot vote."""
    from dgraph_dbpedia_spark.operators.similarity import knn_classify

    gold = spark.createDataFrame(
        [
            (10, [1.0, 0.0, 0.0], 0),
            (11, [0.99, 0.01, 0.0], 0),
            (12, [0.0, 1.0, 0.0], 1),
            (13, [0.01, 0.99, 0.0], 1),
            (14, [0.02, 0.98, 0.0], None),  # cannot vote
        ],
        "vec_id long, embedding array<double>, label int",
    )
    queries = spark.createDataFrame(
        [
            (0, [0.995, 0.005, 0.0]),   # x cluster
            (1, [0.3, 0.95, 0.0]),      # nearer y, but x in top-3
        ],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: r for r in knn_classify(queries, gold, k=3).collect()
    }
    assert got[0]["predicted_label"] == 0
    # query 0's top-3 gold: 10, 11 (label 0) then one y row -> 2/3
    assert (got[0]["n_votes"], got[0]["vote_frac"]) == (2, round(2 / 3, 4))
    assert got[1]["predicted_label"] == 1
    assert got[1]["n_votes"] == 2


def test_knn_classify_arrow_native_bit_equal(spark):
    """The pair-cosine kernel equals its native reference on every
    query x gold pair of the registered knn_classify row's shape."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.where(F.col("vec_id") % 5 == 0).select(
        F.col("vec_id").alias("_qid"),
        F.col("embedding").cast("array<double>").alias("_qv"),
    )
    g = emb.where(
        (F.col("vec_id") % 5 != 0) & F.col("label").isNotNull()
    ).select(
        F.col("vec_id").alias("_nid"),
        F.col("embedding").cast("array<double>").alias("_nv"),
    )
    mism, n = _knn_pair_kernel_mismatches(q, g)
    assert mism == 0 and n > 0


def test_knn_classify_no_voters_absent(spark):
    """A query with no scoreable gold neighbor is ABSENT (no vote, no
    guess): empty gold side -> empty result with the contract schema."""
    from dgraph_dbpedia_spark.operators.similarity import knn_classify

    q = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    g = spark.createDataFrame(
        [], "vec_id long, embedding array<double>, label int"
    )
    out = knn_classify(q, g, k=2)
    assert out.columns == [
        "vec_id", "predicted_label", "n_votes", "vote_frac"
    ]
    assert out.count() == 0


def test_knn_label_noise_block_lane_equals_pair_lane(spark):
    """The block kernel (one matmul per cid group, vectors cross
    Arrow once) produces the IDENTICAL report as the cid equi-join
    pair lane on the real sf0.001 embeddings — same blocking. This
    pin is what lets the scale tool
    and large-corpus callers use block_assign."""
    from dgraph_dbpedia_spark.operators.similarity import (
        ivf_assign,
        ivf_seed_centroids,
        knn_label_noise_report,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    e = emb.where(F.col("vec_id") > 0).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    asg = ivf_assign(e, ivf_seed_centroids(e, 8, vec_col="e"), vec_col="e")
    asg = asg.select("vec_id", "cid")
    pairs = (
        asg.select(F.col("vec_id").alias("qid"), "cid")
        .join(asg.select(F.col("vec_id").alias("nid"), "cid"), "cid")
        .drop("cid")
    )

    def norm(df):
        return sorted(tuple(r) for r in df.collect())

    via_blocks = norm(
        knn_label_noise_report(emb, k=5, block_assign=asg)
    )
    assert via_blocks == norm(
        knn_label_noise_report(emb, k=5, candidate_pairs=pairs)
    )


def test_knn_label_noise_block_lane_guards(spark):
    """The block kernel raises LOUDLY on its two restrictions (ragged
    widths within a block, candidate structures passed together)
    instead of silently diverging from the pair lane."""
    from dgraph_dbpedia_spark.operators.similarity import (
        knn_label_noise_report,
    )

    ragged = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 0),
            (1, [0.9, 0.1], 0),
            (2, [1.0, 0.0, 0.0], 1),
        ],
        "vec_id long, embedding array<double>, label int",
    )
    one_block = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0)], "vec_id long, cid long"
    )
    try:
        knn_label_noise_report(
            ragged, k=2, block_assign=one_block
        ).collect()
        assert False, "ragged block must raise"
    except Exception as e:  # Py4J wraps the worker's ValueError
        assert "uniform width" in str(e)
    try:
        knn_label_noise_report(
            ragged,
            k=2,
            block_assign=one_block,
            candidate_pairs=one_block.selectExpr(
                "vec_id AS qid", "cid AS nid"
            ),
        )
        assert False, "both candidate structures must raise"
    except ValueError as e:
        assert "mutually exclusive" in str(e)


# ---------------------------------------------------------------------------
# r15: quantization_error_report


def test_quantization_error_report_hand_numbers(spark):
    """One-hot vectors reconstruct exactly (err 0); an off-grid vector
    carries the hand-computed round-6 cosine loss; a zero vector is
    counted in n but excluded from n_scored/max/mean (NULL err)."""
    import math

    from dgraph_dbpedia_spark.operators.similarity import (
        quantization_error_report,
    )

    rows = [
        (1, [4.0, 0.0], "a"),
        (2, [0.0, 4.0], "a"),
        (3, [1.0, 3.0], "b"),
        (4, [0.0, 0.0], "b"),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    got = {
        r["label"]: r.asDict()
        for r in quantization_error_report(df).collect()
    }
    # scales = [4, 4]; one-hot rows quantize to +-127 on their axis
    assert got["a"]["n"] == 2 and got["a"]["n_scored"] == 2
    assert got["a"]["max_err"] == 0.0 and got["a"]["mean_err"] == 0.0
    # v=[1,3]: q = [floor(1/4*127+.5), floor(3/4*127+.5)] = [32, 95]
    # dq = [128, 380]; err = round(1 - cos([1,3],[128,380]), 6)
    cos = (1 * 128 + 3 * 380) / (
        math.sqrt(1 + 9) * math.sqrt(128**2 + 380**2)
    )
    want = round(1 - cos, 6)
    assert got["b"]["n"] == 2
    assert got["b"]["n_scored"] == 1  # the zero vector has NULL err
    assert got["b"]["max_err"] == want
    assert got["b"]["mean_err"] == round(round(want * 1e6) / 1e6, 6)


def test_quantization_error_report_deterministic(spark):
    """Same report under repartitioning (the e6-integer mean is
    order-independent by construction)."""
    from dgraph_dbpedia_spark.operators.similarity import (
        quantization_error_report,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = {tuple(r) for r in quantization_error_report(emb).collect()}
    b = {
        tuple(r)
        for r in quantization_error_report(emb.repartition(17)).collect()
    }
    assert a == b and len(a) > 0


def test_ivf_list_skew_report_hand_numbers(spark):
    """Known assignment: lists of 6/2/— docs over 8 total -> shares
    0.75/0.25, load factors 1.5/0.5 (n_lists = OCCUPIED count = 2)."""
    from dgraph_dbpedia_spark.operators.similarity import (
        ivf_list_skew_report,
    )

    rows = [(i, 0 if i < 6 else 1) for i in range(8)]
    asg = spark.createDataFrame(rows, ["vec_id", "cid"])
    got = {
        r["cid"]: r.asDict() for r in ivf_list_skew_report(asg).collect()
    }
    assert set(got) == {0, 1}
    assert got[0] == {"cid": 0, "n": 6, "share": 0.75, "load_factor": 1.5}
    assert got[1] == {"cid": 1, "n": 2, "share": 0.25, "load_factor": 0.5}
