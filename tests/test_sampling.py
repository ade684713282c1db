"""Tests for operators/sampling.stratified_sample: exact quotas,
determinism under repartitioning, and fast-path shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from dgraph_dbpedia_spark.operators.sampling import stratified_sample


def test_exact_quota_and_small_strata(spark):
    rows = [(i, "a" if i < 50 else "b", i * 2) for i in range(55)]
    df = spark.createDataFrame(rows, ["id", "g", "payload"])
    out = stratified_sample(df, ["g"], 10, "id")
    counts = {r["g"]: r["n"] for r in out.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert counts == {"a": 10, "b": 5}  # stratum b has only 5 rows
    # payload columns pass through untouched
    got = {(r["id"], r["payload"]) for r in out.collect()}
    assert all(p == i * 2 for i, p in got)


def test_deterministic_under_repartition(spark):
    rows = [(i, "g%d" % (i % 3)) for i in range(300)]
    df = spark.createDataFrame(rows, ["id", "g"])
    a = {tuple(r) for r in stratified_sample(df, ["g"], 7, "id").collect()}
    b = {
        tuple(r)
        for r in stratified_sample(df.repartition(13), ["g"], 7, "id").collect()
    }
    assert a == b and len(a) == 21


def test_temp_column_collision_survives(spark):
    """An input column literally named __rn must pass through unchanged
    (ADVICE r5: the fixed temp name used to clobber and drop it)."""
    rows = [(i, "g", i * 10) for i in range(20)]
    df = spark.createDataFrame(rows, ["id", "g", "__rn"])
    out = stratified_sample(df, ["g"], 4, "id")
    assert out.columns == ["id", "g", "__rn"]
    assert all(r["__rn"] == r["id"] * 10 for r in out.collect())
    assert out.count() == 4


def test_pack_offsets_contiguous_per_shard(spark):
    from dgraph_dbpedia_spark.operators.sampling import pack_offsets

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (i % 7 + 1))) for i in range(40)],
        ["doc_id", "text"],
    )
    out = pack_offsets(docs, max_tokens=10, n_shards=3).collect()
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    assert set(by_shard) <= {0, 1, 2} and len(out) == 40
    for shard, rows in by_shard.items():
        rows.sort(key=lambda r: r["doc_id"])
        cursor = 0
        for r in rows:
            # token stream is contiguous: no gaps, no overlaps
            assert r["start_tok"] == cursor
            assert r["end_tok"] == cursor + r["n_tokens"]
            cursor = r["end_tok"]
            # pack ids consistent with offsets
            assert r["first_pack"] == r["start_tok"] // 10
            assert r["last_pack"] == max(r["end_tok"] - 1, r["start_tok"]) // 10
            assert r["first_pack"] <= r["last_pack"]


def test_pack_offsets_deterministic_under_repartition(spark):
    from dgraph_dbpedia_spark.operators.sampling import pack_offsets

    docs = spark.createDataFrame(
        [(i, "a b c") for i in range(30)], ["doc_id", "text"]
    )
    a = sorted(map(tuple, pack_offsets(docs, 8, 2).collect()))
    b = sorted(map(tuple, pack_offsets(docs.repartition(7), 8, 2).collect()))
    assert a == b


def test_weighted_sample_deterministic_and_monotone(spark):
    from dgraph_dbpedia_spark.operators.sampling import weighted_sample

    docs = spark.createDataFrame(
        [(i, 0.0 if i < 20 else (0.5 if i < 60 else 1.0)) for i in range(100)],
        ["doc_id", "w"],
    )
    kept = {r["doc_id"] for r in weighted_sample(docs, "w").collect()}
    # weight 0 -> never kept; weight 1 -> always kept
    assert not kept & set(range(20))
    assert set(range(60, 100)) <= kept
    # weight 0.5 band: roughly half survive (deterministic, not exact)
    mid = len(kept & set(range(20, 60)))
    assert 10 <= mid <= 30
    # identical under repartitioning and re-run
    again = {
        r["doc_id"] for r in weighted_sample(docs.repartition(7), "w").collect()
    }
    assert kept == again
    # a different seed draws a different (but still deterministic) set
    other = {r["doc_id"] for r in weighted_sample(docs, "w", seed=2).collect()}
    assert set(range(60, 100)) <= other and not other & set(range(20))
    assert (kept & set(range(20, 60))) != (other & set(range(20, 60)))


def test_mixture_sample_weights_and_default(spark):
    """Weight-1 domains keep every row, weight-0 domains drop every
    row, unmapped domains get default_weight; survival is a pure
    function of doc_id (stable under repartitioning)."""
    from dgraph_dbpedia_spark.operators.sampling import mixture_sample

    docs = spark.createDataFrame(
        [
            (i, "a" if i % 3 == 0 else ("b" if i % 3 == 1 else "z"))
            for i in range(300)
        ],
        ["doc_id", "source"],
    )
    out = mixture_sample(docs, {"a": 1.0, "b": 0.0}, default_weight=0.5)
    by = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert by.get("a") == 100
    assert "b" not in by
    assert 20 <= by.get("z", 0) < 100
    again = mixture_sample(
        docs.repartition(7), {"a": 1.0, "b": 0.0}, default_weight=0.5
    )
    assert {r["doc_id"] for r in again.collect()} == {
        r["doc_id"] for r in out.collect()
    }


def test_mixture_sample_validates(spark):
    import pytest

    from dgraph_dbpedia_spark.operators.sampling import mixture_sample

    docs = spark.createDataFrame([(1, "a")], ["doc_id", "source"])
    with pytest.raises(ValueError):
        mixture_sample(docs, {})
    with pytest.raises(ValueError):
        mixture_sample(docs, {"a": 1.5})
    with pytest.raises(ValueError):
        mixture_sample(docs, {"a": 0.5}, default_weight=-0.1)


def test_chunk_documents_windows(spark):
    """Windows advance by chunk_tokens - overlap; the final window may
    be short; empty docs produce no chunks; bounds validated."""
    import pytest

    from dgraph_dbpedia_spark.operators.sampling import chunk_documents

    docs = spark.createDataFrame(
        [(1, "t0 t1 t2 t3 t4 t5 t6"), (2, ""), (3, "only three tokens")],
        ["doc_id", "text"],
    )
    got = {
        (r["doc_id"], r["chunk_idx"]): (r["n_tokens"], r["chunk_text"])
        for r in chunk_documents(docs, chunk_tokens=4, overlap=2).collect()
    }
    assert got == {
        (1, 0): (4, "t0 t1 t2 t3"),
        (1, 1): (4, "t2 t3 t4 t5"),
        (1, 2): (3, "t4 t5 t6"),
        (3, 0): (3, "only three tokens"),
    }
    with pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=4, overlap=4)
    with pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=0)


def test_split_corpus_disjoint_and_deterministic(spark):
    """Every row lands in exactly one split; assignment is stable
    under repartitioning; partial fractions leave a NULL holdout;
    bounds validated."""
    import pytest

    from dgraph_dbpedia_spark.operators.sampling import split_corpus

    docs = spark.createDataFrame(
        [(i,) for i in range(400)], ["doc_id"]
    )
    out = split_corpus(docs, {"train": 0.8, "val": 0.1, "test": 0.1})
    rows = out.collect()
    assert len(rows) == 400
    assert all(r["split"] in ("train", "val", "test") for r in rows)
    by = {r["doc_id"]: r["split"] for r in rows}
    again = {
        r["doc_id"]: r["split"]
        for r in split_corpus(
            docs.repartition(7), {"train": 0.8, "val": 0.1, "test": 0.1}
        ).collect()
    }
    assert by == again
    # rough proportions (hash-uniform over 400 ids)
    n_train = sum(1 for s in by.values() if s == "train")
    assert 280 <= n_train <= 360
    hold = split_corpus(docs, {"train": 0.5}).where("split IS NULL").count()
    assert 150 <= hold <= 250
    with pytest.raises(ValueError):
        split_corpus(docs, {})
    with pytest.raises(ValueError):
        split_corpus(docs, {"a": 0.7, "b": 0.4})
    with pytest.raises(ValueError):
        split_corpus(docs, {"a": -0.1})


def test_temperature_sample_rates_and_determinism(spark):
    """alpha-sampling contract: the rarest group keeps everything, a
    group m times larger keeps ~m^(alpha-1); RNG-free -> identical
    survivors across runs; alpha=1 is a no-op; bad alpha raises."""
    import pytest as _pytest

    from dgraph_dbpedia_spark.operators.sampling import temperature_sample

    rows = [(i, "big") for i in range(400)] + [
        (1000 + i, "rare") for i in range(10)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = temperature_sample(df, group_col="lang", alpha=0.5, seed=2)
    got = out.groupBy("lang").count().collect()
    by = {r["lang"]: r["count"] for r in got}
    assert by.get("rare") == 10  # rate 1.0: every rare row survives
    # big keeps (400/10)^(-0.5) ~ 0.1581 -> ~63 of 400; hash-coin
    # realization noise is binomial, allow a generous band
    assert 35 <= by.get("big", 0) <= 95
    again = temperature_sample(df, group_col="lang", alpha=0.5, seed=2)
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )
    # alpha=1: every rate rounds to 1.0 -> no row dropped
    assert temperature_sample(df, alpha=1.0).count() == 410
    with _pytest.raises(ValueError, match="alpha"):
        temperature_sample(df, alpha=0.0)
    with _pytest.raises(ValueError, match="alpha"):
        temperature_sample(df, alpha=1.5)


def test_temperature_sample_null_group_and_no_shuffle_of_corpus(spark):
    """NULL group values form their own group (null-safe join keeps
    them, at their own rate); the corpus side of the plan carries no
    hash/range exchange above the scan — the rate join broadcasts."""
    from dgraph_dbpedia_spark.operators.sampling import temperature_sample

    rows = [(i, "a") for i in range(40)] + [(100 + i, None) for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = temperature_sample(df, group_col="lang", alpha=0.5, seed=2)
    by = {r["lang"]: r["count"] for r in out.groupBy("lang").count().collect()}
    assert by.get(None) == 5  # the rare (NULL) group keeps everything
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_dsir_logratio_orders_by_target_likeness(spark):
    """DSIR scoring: raw docs made of target-distribution bigrams score
    above unrelated docs; multiplicity counts (a doc repeating target
    bigrams scores higher in total); sub-2-token docs are NULL."""
    from dgraph_dbpedia_spark.operators.sampling import dsir_logratio

    target = spark.createDataFrame(
        [(100 + i, "machine learning models train on curated data")
         for i in range(5)],
        ["doc_id", "text"],
    )
    raw = spark.createDataFrame(
        [
            (1, "machine learning models train on curated data"),
            (2, "machine learning models train on curated data "
                "machine learning models"),
            (3, "bananas oranges apples pears grapes melons"),
            (4, "one"),  # < 2 tokens -> unscorable
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r
        for r in dsir_logratio(raw, target, buckets=1000).collect()
    }
    assert len(got) == 4
    assert got[1]["log_ratio"] > got[3]["log_ratio"]
    assert got[2]["log_ratio"] > got[1]["log_ratio"]  # multiplicity
    assert got[4]["log_ratio"] is None and got[4]["n_feats"] == 0
    assert got[1]["n_feats"] == 6  # 7 tokens -> 6 bigram occurrences


def test_dsir_sample_deterministic_gumbel_top_n(spark):
    """Gumbel-top-n resampling: exactly n survivors, identical across
    runs (RNG-free), unscorable docs never sampled, and with a large
    score gap the target-like docs dominate the sample."""
    import pytest as _pytest

    from dgraph_dbpedia_spark.operators.sampling import dsir_sample

    target = spark.createDataFrame(
        [(200 + i, "alpha beta gamma delta epsilon zeta eta theta")
         for i in range(4)],
        ["doc_id", "text"],
    )
    rows = [(i, "alpha beta gamma delta epsilon zeta") for i in range(10)]
    rows += [(100 + i, "qq ww ee rr tt yy uu") for i in range(10)]
    rows += [(999, "x")]  # unscorable
    raw = spark.createDataFrame(rows, ["doc_id", "text"])
    out1 = sorted(
        r["doc_id"] for r in dsir_sample(raw, target, n=8, buckets=500).collect()
    )
    out2 = sorted(
        r["doc_id"] for r in dsir_sample(raw, target, n=8, buckets=500).collect()
    )
    assert out1 == out2 and len(out1) == 8
    assert 999 not in out1
    # the target-like docs carry a much larger log-ratio; Gumbel noise
    # is O(1-ish), so most of the sample must come from them
    assert sum(1 for d in out1 if d < 100) >= 6
    with _pytest.raises(ValueError, match="n must be positive"):
        dsir_sample(raw, target, n=0)


def test_dsir_empty_target_raises_and_handles_release(spark):
    """An empty (or all-short) target corpus must raise loudly — the
    silent alternative is every score NULL and an empty sample; the
    model caches ride the result's release handle on success."""
    import pytest as _pytest

    from dgraph_dbpedia_spark.operators.cachectl import (
        persisted_frames,
        release,
    )
    from dgraph_dbpedia_spark.operators.sampling import (
        dsir_logratio,
        dsir_sample,
    )

    raw = spark.createDataFrame(
        [(1, "some words here together")], ["doc_id", "text"]
    )
    empty = raw.where(F.lit(False))
    short = spark.createDataFrame([(9, "one")], ["doc_id", "text"])
    for bad in (empty, short):
        with _pytest.raises(ValueError, match="zero bigram features"):
            dsir_logratio(raw, bad, buckets=100)
    out = dsir_sample(raw, raw, n=1, buckets=100)
    assert len(persisted_frames(out)) == 2  # tm + rm ride through
    assert out.count() == 1
    release(out)


def test_epoch_shuffle_reproducible_and_epoch_dependent(spark):
    """Same epoch -> identical permutation on re-run and under
    repartitioning; different epoch -> different order; positions are
    contiguous 1..n within each shard; input columns pass through."""
    from dgraph_dbpedia_spark.operators.sampling import epoch_shuffle

    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(40)], ["doc_id", "text"]
    )
    e3a = {(r["doc_id"], r["shard"], r["pos"]): r["text"]
           for r in epoch_shuffle(df, epoch=3).collect()}
    e3b = {(r["doc_id"], r["shard"], r["pos"]): r["text"]
           for r in epoch_shuffle(df.repartition(7), epoch=3).collect()}
    assert e3a == e3b and len(e3a) == 40
    e4 = {(r["doc_id"], r["shard"], r["pos"])
          for r in epoch_shuffle(df, epoch=4).collect()}
    assert e4 != set(e3a)
    # contiguity: each shard's positions are exactly 1..count(shard)
    from collections import defaultdict

    by_shard = defaultdict(list)
    for (_, s, p) in e3a:
        by_shard[s].append(p)
    for s, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1))

    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_shards"):
        epoch_shuffle(df, epoch=1, n_shards=0)


def test_epoch_shuffle_rejects_column_collisions(spark):
    """Output names must never silently clobber caller data (the
    ADVICE r5 fixed-temp-name rule, applied loudly for shard/pos and
    via a fresh name for the internal hash column)."""
    from dgraph_dbpedia_spark.operators.sampling import epoch_shuffle

    base = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    import pytest as _pytest

    with _pytest.raises(ValueError, match="shard"):
        epoch_shuffle(base.withColumn("shard", F.lit(9)), epoch=1)
    with _pytest.raises(ValueError, match="pos"):
        epoch_shuffle(base.withColumn("pos", F.lit(9)), epoch=1)
    # a caller __h column survives untouched (fresh internal name)
    got = epoch_shuffle(base.withColumn("__h", F.lit(7)), epoch=1).collect()
    assert got[0]["__h"] == 7


def test_cluster_balanced_sample_quota_and_determinism(spark):
    """Per-cluster quota respected; output ids are input ids; stable
    across runs and repartitionings; knob validation raises; a caller
    supplied centroid frame is honored."""
    import pytest

    from dgraph_dbpedia_spark.operators.sampling import (
        cluster_balanced_sample,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = cluster_balanced_sample(emb, n_per_cluster=3, n_clusters=4)
    rows = out.collect()
    per = {}
    for r in rows:
        per.setdefault(r["cid"], []).append(r["vec_id"])
    assert set(per) <= {0, 1, 2, 3}
    assert all(len(v) <= 3 for v in per.values())
    all_ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
    assert {r["vec_id"] for r in rows} <= all_ids
    again = cluster_balanced_sample(
        emb.repartition(7), n_per_cluster=3, n_clusters=4
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    # different seed -> (almost surely) different sample, same quota
    other = cluster_balanced_sample(
        emb, n_per_cluster=3, n_clusters=4, seed=2
    ).collect()
    assert sorted(map(tuple, other)) != sorted(map(tuple, rows))
    with pytest.raises(ValueError, match="n_per_cluster"):
        cluster_balanced_sample(emb, n_per_cluster=0)
    with pytest.raises(ValueError, match="n_clusters"):
        cluster_balanced_sample(emb, n_per_cluster=1, n_clusters=0)
    # explicit centroid frame: one centroid -> everything in cid 99
    cents = emb.limit(1).select(
        F.lit(99).alias("cid"),
        F.col("embedding").cast("array<double>").alias("c"),
    )
    forced = cluster_balanced_sample(
        emb, n_per_cluster=2, centroids=cents
    ).collect()
    assert {r["cid"] for r in forced} == {99} and len(forced) == 2


def test_token_budget_sample_budget_and_determinism(spark):
    """Per-domain cumulative token budget: kept docs start inside the
    budget (overshoot at most one doc), selection follows the coin
    order, stable under repartitioning, n_tokens collision raises."""
    import pytest

    from dgraph_dbpedia_spark.operators.sampling import token_budget_sample

    rows = [
        (i, "web" if i % 2 else "wiki", "tok " * 10) for i in range(40)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = token_budget_sample(
        df, budget_tokens=35, seed=1
    )
    got = out.collect()
    per = {}
    for r in got:
        per.setdefault(r["source"], []).append(r)
    for src, kept in per.items():
        # each doc is 10 tokens; 35-token budget -> exactly 4 kept
        # (doc 4 STARTS at 30 < 35; doc 5 would start at 40)
        assert len(kept) == 4, src
        assert all(r["n_tokens"] == 10 for r in kept)
    again = token_budget_sample(
        df.repartition(7), budget_tokens=35, seed=1
    ).collect()
    assert sorted(r["doc_id"] for r in again) == sorted(
        r["doc_id"] for r in got
    )
    # a different seed picks a (almost surely) different prefix
    other = token_budget_sample(
        df, budget_tokens=35, seed=2
    ).collect()
    assert sorted(r["doc_id"] for r in other) != sorted(
        r["doc_id"] for r in got
    )
    with pytest.raises(ValueError, match="budget_tokens"):
        token_budget_sample(df, budget_tokens=0)
    clash = df.withColumn("n_tokens", df.doc_id)
    with pytest.raises(ValueError, match="n_tokens"):
        token_budget_sample(clash, budget_tokens=10)


def test_classifier_training_set(spark):
    """Label 1 = lowest-coin ids from ref, label 0 = lowest-coin ids
    from df minus ref ids; exact-n per class, no id in both classes,
    deterministic across runs; loud knob validation."""
    import pytest

    from dgraph_dbpedia_spark.operators.sampling import (
        classifier_training_set,
    )

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(40)], "doc_id long, text string"
    )
    ref = docs.where(F.col("doc_id") % 4 == 0)  # 10 trusted docs
    got = classifier_training_set(docs, ref, n_per_class=5).collect()
    pos = {r["doc_id"] for r in got if r["label"] == 1}
    neg = {r["doc_id"] for r in got if r["label"] == 0}
    assert len(pos) == 5 and len(neg) == 5
    assert all(i % 4 == 0 for i in pos)
    assert all(i % 4 != 0 for i in neg)          # exclusion holds
    assert pos.isdisjoint(neg)
    again = classifier_training_set(docs, ref, n_per_class=5).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))
    # class smaller than n_per_class: keeps what exists
    tiny_ref = docs.where(F.col("doc_id") < 2)
    got2 = classifier_training_set(docs, tiny_ref, n_per_class=5).collect()
    assert sum(1 for r in got2 if r["label"] == 1) == 2
    with pytest.raises(ValueError, match="n_per_class"):
        classifier_training_set(docs, ref, n_per_class=0)


# ---------------------------------------------------------------------------
# r15: pack_efficiency_report / source_mixture_report


def test_pack_efficiency_report_hand_numbers(spark):
    """One shard (n_shards=1) removes hash placement from the math:
    docs of 3/4/5 tokens at max_tokens=4 -> stream 12, 3 packs, fill
    1.0, waste 0; with a 13th token (extra 1-token doc) -> 4 packs,
    waste 3, fill round(13/16, 6). Straddlers counted from the shared
    pack_offsets first/last ids."""
    from dgraph_dbpedia_spark.operators.sampling import (
        pack_efficiency_report,
        pack_offsets,
    )

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "d e f g"), (3, "h i j k l")],
        ["doc_id", "text"],
    )
    r = pack_efficiency_report(docs, max_tokens=4, n_shards=1).collect()
    assert len(r) == 1
    row = r[0].asDict()
    assert row == {
        "shard": 0,
        "n_docs": 3,
        "n_tokens": 12,
        "n_packs": 3,
        "fill_rate": 1.0,
        "waste_tokens": 0,
        # doc order is doc_id: [3][4][5] tokens -> offsets 0-3, 3-7,
        # 7-12: the 4-token and 5-token docs straddle a 4-boundary
        "n_straddlers": 2,
    }

    docs2 = docs.union(
        spark.createDataFrame([(4, "m")], ["doc_id", "text"])
    )
    row2 = (
        pack_efficiency_report(docs2, max_tokens=4, n_shards=1)
        .collect()[0]
        .asDict()
    )
    assert row2["n_packs"] == 4
    assert row2["waste_tokens"] == 3
    assert row2["fill_rate"] == round(13 / 16, 6)

    # consistency with pack_offsets itself (one definition)
    off = pack_offsets(docs2, max_tokens=4, n_shards=1)
    assert row2["n_straddlers"] == off.where("first_pack != last_pack").count()


def test_pack_efficiency_report_empty_docs_shard(spark):
    """A shard whose docs are all empty has stream 0 -> 0 packs, NULL
    fill rate, 0 waste (NULL semantics must match the oracle's CASE)."""
    from dgraph_dbpedia_spark.operators.sampling import pack_efficiency_report

    docs = spark.createDataFrame([(1, ""), (2, " ")], ["doc_id", "text"])
    row = (
        pack_efficiency_report(docs, max_tokens=4, n_shards=1)
        .collect()[0]
        .asDict()
    )
    assert row["n_tokens"] == 0 and row["n_packs"] == 0
    assert row["fill_rate"] is None and row["waste_tokens"] == 0


def test_source_mixture_report_hand_weights(spark):
    """Two sources with 9 and 16 total tokens: shares 9/25 and 16/25,
    alpha=0.5 weights 3/7 and 4/7 (sqrt of exact counts). Weights sum
    to ~1; determinism under repartitioning."""
    from dgraph_dbpedia_spark.operators.sampling import source_mixture_report

    docs = spark.createDataFrame(
        [
            (1, "a", " ".join("x" * 1 for _ in range(4))),
            (2, "a", " ".join("x" for _ in range(5))),
            (3, "b", " ".join("x" for _ in range(16))),
        ],
        ["doc_id", "source", "text"],
    )
    got = {
        r["source"]: r.asDict()
        for r in source_mixture_report(docs).collect()
    }
    assert got["a"]["n_docs"] == 2 and got["a"]["n_tokens"] == 9
    assert got["b"]["n_docs"] == 1 and got["b"]["n_tokens"] == 16
    assert got["a"]["token_share"] == round(9 / 25, 6)
    assert got["b"]["token_share"] == round(16 / 25, 6)
    assert got["a"]["weight_alpha"] == round(3 / 7, 6)
    assert got["b"]["weight_alpha"] == round(4 / 7, 6)

    again = {
        tuple(r)
        for r in source_mixture_report(
            docs.repartition(7)
        ).collect()
    }
    assert again == {tuple(r.values()) for r in got.values()}


def test_source_mixture_report_rejects_bad_alpha(spark):
    from dgraph_dbpedia_spark.operators.sampling import source_mixture_report

    docs = spark.createDataFrame([(1, "a", "x")], ["doc_id", "source", "text"])
    import pytest as _pytest

    with _pytest.raises(ValueError, match="alpha"):
        source_mixture_report(docs, alpha=0.0)
