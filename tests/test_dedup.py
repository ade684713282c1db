from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dgraph_dbpedia_spark.operators.dedup import (
    exact_dedup,
    minhash_dedup_pairs,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_dup_pairs,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    near = "the quick brown fox jumps over the lazy cat again and again"
    other = "completely different words describing unrelated matters entirely here now"
    return spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, other)], ["doc_id", "text"]
    )


def test_exact_dedup(spark, docs):
    out = exact_dedup(docs)
    reps = sorted(r["doc_id"] for r in out.collect())
    assert reps == [1, 3, 4]  # 1==2 collapse to min id 1


def test_ngram_jaccard_identical_pair(spark, docs):
    pairs = {(r["a"], r["b"]): r["jaccard"] for r in
             ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and 0.3 <= pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs


def test_ngram_jaccard_hot_shingle_cap_prunes(spark):
    """max_shingle_freq drops stop-shingles shared by more than N docs
    BEFORE the self-join: pairs whose only overlap is the hot shingle
    disappear, and the reported jaccard for surviving pairs uses the
    capped universe on both axes (intersection AND set sizes)."""
    hot = "common boilerplate footer text"  # 3-shingles hit every doc
    rows = [
        (1, f"alpha beta gamma delta {hot}"),
        (2, f"alpha beta gamma delta {hot}"),
        (3, f"omega psi chi phi {hot}"),
        (4, f"one two three four {hot}"),
        (5, f"five six seven eight {hot}"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # uncapped: every pair shares the footer shingles -> all pairs appear
    uncapped = ngram_jaccard_pairs(df, threshold=0.01, max_shingle_freq=None)
    assert uncapped.count() == 10  # all C(5,2) pairs share the footer
    # capped at 4: the footer shingles (freq 5) are dropped; only the
    # true duplicate pair (1,2) shares any remaining shingle, and its
    # jaccard over the capped universe is exactly 1.0 (not diluted by
    # unfiltered set sizes — the ADVICE hybrid-metric bug)
    capped = ngram_jaccard_pairs(df, threshold=0.01, max_shingle_freq=4)
    got = {(r["a"], r["b"]): r["jaccard"] for r in capped.collect()}
    assert set(got) == {(1, 2)}
    assert got[(1, 2)] == 1.0


def test_minhash_arrow_pinned_equal_to_native(spark):
    """The numpy lane kernel is integer math — signatures must equal the
    native higher-order reference fold exactly on real data."""
    from dgraph_dbpedia_spark.operators.dedup import (
        _hashed_shingled,
        _minhash_lanes_arrow,
        _signatures_from_hashed,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sh = _hashed_shingled(docs, "text", "doc_id", 3)
    nat = _signatures_from_hashed(sh, "doc_id", 16).withColumnRenamed("sig", "n")
    arr = sh.select("doc_id", _minhash_lanes_arrow(16)(F.col("sh")).alias("a"))
    diff = nat.join(arr, "doc_id").where(F.col("n") != F.col("a")).count()
    assert diff == 0 and arr.count() == docs.count()


def test_simhash_arrow_pinned_equal_to_native(spark):
    """The numpy vote fold is integer math — it must equal the native
    higher-order reference fold exactly on real data."""
    from dgraph_dbpedia_spark.operators.dedup import (
        _simhash_fold_arrow,
        _simhash_fold_native,
        _token_hashes,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    hs = _token_hashes(docs, "text", "doc_id")
    nat = _simhash_fold_native(hs, "doc_id").withColumnRenamed("simhash", "n")
    arr = hs.select("doc_id", _simhash_fold_arrow()(F.col("hs")).alias("a"))
    diff = nat.join(arr, "doc_id").where(F.col("n") != F.col("a")).count()
    assert diff == 0 and arr.count() == docs.count()


def test_ngram_jaccard_release_unpersists(spark, docs):
    from dgraph_dbpedia_spark.operators.cachectl import persisted_frames, release

    out = ngram_jaccard_pairs(docs, threshold=0.3)
    out.collect()
    frames = persisted_frames(out)
    assert frames
    release(out)
    assert all(
        not (f.storageLevel.useMemory or f.storageLevel.useDisk) for f in frames
    )


def test_minhash_identical_signatures(spark, docs):
    sigs = {r["doc_id"]: r["sig"] for r in minhash_signatures(docs).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[4]
    assert len(sigs[1]) == 16


def test_minhash_pipeline_finds_near_dups(spark, docs):
    pairs = {(r["a"], r["b"]): r["jaccard"] for r in
             minhash_dedup_pairs(docs, threshold=0.3).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 4) not in pairs


def test_simhash_hamming(spark, docs):
    sh = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert sh[1] == sh[2]
    ham13 = bin(sh[1] ^ sh[3]).count("1")
    ham14 = bin(sh[1] ^ sh[4]).count("1")
    assert ham13 < ham14  # near-dup closer than unrelated


def test_simhash_near_dup_pairs(spark, docs):
    pairs = {(r["a"], r["b"]): r["hamming"] for r in
             simhash_near_dup_pairs(docs, max_hamming=3).collect()}
    assert pairs[(1, 2)] == 0
    assert (1, 4) not in pairs
    # radius beyond the 4-band pigeonhole bound raises instead of
    # silently losing recall
    with pytest.raises(ValueError):
        simhash_near_dup_pairs(docs, max_hamming=10)


def test_no_python_udf_in_plans(spark, docs):
    # simhash/minhash run Arrow kernels (vectorized, bit-equal to their
    # native references); shingle Jaccard stays fully native — and
    # nothing may ever use row-at-a-time Python
    plan = ngram_jaccard_pairs(
        docs, threshold=0.1
    )._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    for df in (simhash(docs), minhash_signatures(docs)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan  # Arrow-batched only


def test_decontaminate_removes_overlapping_docs(spark):
    from dgraph_dbpedia_spark.operators.dedup import (
        contaminated_ids,
        decontaminate,
    )

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    docs = spark.createDataFrame(
        [
            (1, "prefix words the quick brown fox jumps over suffix"),  # overlap
            (2, "quick brown cat sleeps all day long today"),           # no 5-gram
            (3, "totally unrelated content about spark plans"),
            (4, "fox jumps over the lazy dog indeed"),                  # overlap
        ],
        ["doc_id", "text"],
    )
    flagged = {r["doc_id"] for r in contaminated_ids(docs, bench, w=5).collect()}
    assert flagged == {1, 4}
    clean = {r["doc_id"] for r in decontaminate(docs, bench, w=5).collect()}
    assert clean == {2, 3}
    # clean output keeps all original columns
    assert decontaminate(docs, bench, w=5).columns == ["doc_id", "text"]


def test_decontaminate_short_doc_whole_text_shingle(spark):
    """Docs shorter than w form one whole-text shingle: a verbatim short
    benchmark line is still caught."""
    from dgraph_dbpedia_spark.operators.dedup import contaminated_ids

    bench = spark.createDataFrame([(0, "two words")], ["doc_id", "text"])
    docs = spark.createDataFrame(
        [(1, "two words"), (2, "other text")], ["doc_id", "text"]
    )
    flagged = {r["doc_id"] for r in contaminated_ids(docs, bench, w=13).collect()}
    assert flagged == {1}


def test_dedup_clusters_star_ignores_non_doc_pair_ids(spark):
    """Stale pairs referencing ids absent from docs must not leak into
    cluster ids."""
    from dgraph_dbpedia_spark.operators.dedup import dedup_clusters_star

    docs = spark.createDataFrame([(5,), (7,)], ["doc_id"])
    pairs = spark.createDataFrame([(5, 7), (1, 5)], ["a", "b"])  # 1 not a doc
    star = {r["doc_id"]: r["cluster_id"]
            for r in dedup_clusters_star(docs, pairs).collect()}
    assert star == {5: 5, 7: 5}


def _cached_rdd_ids(spark) -> set[int]:
    return {
        i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }


def _n_cached_rdds(spark) -> int:
    return len(_cached_rdd_ids(spark))


def test_release_local_checkpoint_frees_blocks(spark):
    """cachectl.release_local_checkpoint must deterministically drop a
    localCheckpoint'd frame's storage blocks (DataFrame.unpersist does
    not reach them). Tracks the specific RDD id — a global count would
    race with ContextCleaner GC-releasing other tests' leftover
    blocks."""
    from dgraph_dbpedia_spark.operators.cachectl import release_local_checkpoint

    before = _cached_rdd_ids(spark)
    cp = spark.range(1000).selectExpr("id", "id * 2 AS y").localCheckpoint()
    cp.count()
    new_ids = _cached_rdd_ids(spark) - before
    assert len(new_ids) == 1
    assert release_local_checkpoint(cp)
    assert not (new_ids & _cached_rdd_ids(spark))


def test_dedup_clusters_rounds_release_checkpoints(spark):
    """Eager per-round checkpointing must not accumulate one cached
    frame per round: a 10-node chain runs several star rounds, yet at
    most the final result-backing checkpoint may remain cached
    afterwards."""
    from dgraph_dbpedia_spark.operators.dedup import dedup_clusters_star

    docs = spark.createDataFrame([(i,) for i in range(10)], ["doc_id"])
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], ["a", "b"]
    )
    before = _n_cached_rdds(spark)
    out = dedup_clusters_star(docs, chain)
    assert {r["cluster_id"] for r in out.collect()} == {0}
    assert _n_cached_rdds(spark) - before <= 1


def test_rolling_shingle_hash_duckdb_bit_equal(spark):
    """The r9 rolling shingle hash (per-token md5 -> rotate-xor fold,
    functions/hashing.py) must be bit-identical in Spark and DuckDB —
    the minhash oracle recomputes signature values from these hashes.
    Covers the edge semantics: empty doc (-> single hash 0), doc shorter
    than w (one whole-text shingle), repeated tokens (order-sensitive
    fold must NOT cancel), and a long doc."""
    import duckdb

    from dgraph_dbpedia_spark.functions.hashing import (
        rolling_shingle_hashes_sql,
        token_hashes_sql,
        tokens_sql,
    )
    from dgraph_dbpedia_spark.operators.dedup import _hashed_shingled

    docs = [
        ("a", "the quick brown fox jumps over the lazy dog"),
        ("b", "one two"),
        ("c", ""),
        ("d", "solo"),
        ("e", "rep rep rep rep rep rep"),
        ("f", " ".join(f"tok{i % 7}" for i in range(50))),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    for w in (3, 13):
        got = {
            r["doc_id"]: sorted(r["sh"])
            for r in _hashed_shingled(df, "text", "doc_id", w).collect()
        }
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE documents AS SELECT * FROM (VALUES "
            + ",".join(f"('{i}','{t}')" for i, t in docs)
            + ") v(doc_id, text)"
        )
        th = token_hashes_sql(tokens_sql("text"))
        want = {
            r[0]: r[1]
            for r in con.execute(
                f"WITH t AS (SELECT doc_id, {th} AS th FROM documents) "
                f"SELECT doc_id, list_sort({rolling_shingle_hashes_sql('th', w)}) "
                f"FROM t"
            ).fetchall()
        }
        con.close()
        assert got == want, f"w={w}"
    # order sensitivity: swapping two tokens must change the shingle hash
    pair = spark.createDataFrame(
        [("x", "alpha beta gamma"), ("y", "beta alpha gamma")], ["doc_id", "text"]
    )
    sh = {r["doc_id"]: r["sh"] for r in _hashed_shingled(pair, "text", "doc_id", 3).collect()}
    assert sh["x"] != sh["y"]


def test_shingle_explode_no_refolded_filter(spark):
    """InferFiltersFromGenerate regression guard: exploding the shingle
    array must not re-derive the rotate-xor fold inside an inferred
    size()>0 filter (measured 13.6 s vs 0.9 s at sf0.1 w=13 — the
    inline(array(struct)) barrier in _hashed_shingled prevents it). Any
    Filter in the optimized plan must reference the generated attribute,
    never contain the fold (aggregate/transform) expression."""
    from dgraph_dbpedia_spark.operators.dedup import _hashed_shingled

    df = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
    exploded = _hashed_shingled(df, "text", "doc_id", 3).select(
        "doc_id", F.explode("sh").alias("h")
    )
    plan = exploded._jdf.queryExecution().optimizedPlan().toString()
    for line in plan.splitlines():
        if line.strip().startswith(("Filter", "+- Filter", ":- Filter")) or "Filter (" in line:
            assert "aggregate(" not in line and "transform(" not in line, line


def test_paragraph_dedup_first_occurrence_survives(spark):
    """C4-style paragraph dedup: a boilerplate paragraph repeated
    across docs survives only at its lowest (doc_id, pos); docs are
    reassembled in original paragraph order; a doc whose every
    paragraph was seen earlier returns as an empty string (the row is
    kept); whitespace-only paragraphs are dropped outright."""
    from dgraph_dbpedia_spark.operators.dedup import paragraph_dedup

    boiler = "subscribe to our newsletter"
    rows = [
        (1, f"unique alpha\n\n{boiler}\n\nunique beta"),
        (2, f"{boiler}\n\nfresh content here"),   # loses the boilerplate
        (3, boiler),                              # nothing left
        (4, "   \n\nreal paragraph"),             # whitespace para dropped
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["text"] for r in paragraph_dedup(docs).collect()}
    assert got == {
        1: f"unique alpha\n\n{boiler}\n\nunique beta",
        2: "fresh content here",
        3: "",
        4: "real paragraph",
    }


def test_paragraph_dedup_within_doc_repeat(spark):
    """A paragraph repeated INSIDE one document also keeps only the
    first occurrence (position-level rule, not doc-level)."""
    from dgraph_dbpedia_spark.operators.dedup import paragraph_dedup

    docs = spark.createDataFrame(
        [(1, "x\n\ny\n\nx"), (2, "z")], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r["text"] for r in paragraph_dedup(docs).collect()}
    assert got == {1: "x\n\ny", 2: "z"}


def test_paragraph_dedup_literal_separator_with_regex_metachars(spark):
    """sep is treated as a LITERAL string (regex-escaped before the
    splitter): '...' must split on three dots, not on any-3-chars."""
    from dgraph_dbpedia_spark.operators.dedup import paragraph_dedup

    docs = spark.createDataFrame(
        [(1, "first part...second part"), (2, "second part...third")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["text"] for r in paragraph_dedup(docs, sep="...").collect()}
    assert got == {1: "first part...second part", 2: "third"}


def test_dedup_corpus_transitive_chain(spark):
    """dedup_corpus keeps exactly one min-id representative per
    CONNECTED cluster (a~b, b~c without a~c still collapses to a) and
    preserves all original columns; singletons survive untouched."""
    from dgraph_dbpedia_spark.operators.dedup import dedup_corpus

    docs = spark.createDataFrame(
        [(i, f"text {i}", "en") for i in (1, 2, 3, 9)],
        ["doc_id", "text", "lang"],
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["a", "b"])
    out = dedup_corpus(docs, pairs)
    assert out.columns == ["doc_id", "text", "lang"]
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 9]


def test_dedup_corpus_clusterer_passthrough(spark):
    """dedup_corpus's component step is the star contraction: it
    collapses a long chain to one survivor."""
    from dgraph_dbpedia_spark.operators.dedup import dedup_corpus

    n = 30  # chain 0-1-...-29: diameter 29
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(n)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["a", "b"]
    )
    out = dedup_corpus(docs, pairs)
    assert sorted(r["doc_id"] for r in out.collect()) == [0]


def test_dedup_report_histogram(spark):
    """One row per cluster size; n_docs / n_dropped derived per the
    min-id dedup rule (size-1 dropped per cluster)."""
    from dgraph_dbpedia_spark.operators.dedup import dedup_report

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (9, 9), (10, 10), (20, 20), (21, 20)],
        ["doc_id", "cluster_id"],
    )
    got = [tuple(r) for r in dedup_report(clusters).collect()]
    assert got == [(1, 2, 2, 0), (2, 1, 2, 1), (3, 1, 3, 2)]


def test_dedup_increment_planted(spark):
    """Existing wins across corpora (the batch dup is dropped even
    though its id differs); within-batch dups collapse to min id;
    clean docs pass with all columns."""
    from dgraph_dbpedia_spark.operators.cachectl import release
    from dgraph_dbpedia_spark.operators.dedup import dedup_increment

    existing = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [
            (100, "alpha beta gamma delta epsilon zeta eta theta"),
            (101, "one two three four five six seven eight nine"),
            (102, "one two three four five six seven eight nine"),
            (103, "totally different words appear here in this doc"),
        ],
        ["doc_id", "text"],
    )
    out = dedup_increment(existing, batch, bands=8, threshold=0.5)
    assert out.columns == ["doc_id", "text"]
    assert sorted(r["doc_id"] for r in out.collect()) == [101, 103]
    release(out)


def test_dedup_increment_killed_doc_does_not_bridge(spark):
    """A clean batch doc near a KILLED batch doc survives as its own
    component: the killed doc's pairs are excluded from the batch
    graph, so it can neither merge nor root surviving docs."""
    from dgraph_dbpedia_spark.operators.cachectl import release
    from dgraph_dbpedia_spark.operators.dedup import dedup_increment

    existing = spark.createDataFrame(
        [(1, "a b c d e f g h i j")], ["doc_id", "text"]
    )
    batch = spark.createDataFrame(
        [
            # J vs existing = 4/12 = 0.33 >= 0.3 -> killed
            (100, "a b c d e f u v w x"),
            # J vs 100 = 4/12 = 0.33 (shares the u v w x region), but
            # J vs existing = 0 -> clean; must survive as a singleton
            # even though its only near-dup evidence points at 100
            (101, "e f u v w x y z m n"),
        ],
        ["doc_id", "text"],
    )
    out = dedup_increment(existing, batch, bands=16, threshold=0.3)
    assert sorted(r["doc_id"] for r in out.collect()) == [101]
    release(out)


@pytest.mark.parametrize(
    "composite",
    [
        "curate_corpus",
        "dedup_increment",
        "semantic_dedup_min_id",
        "semantic_dedup_low_centroid_sim",
    ],
)
def test_dedup_composites_release_caches_on_component_failure(
    spark, monkeypatch, composite
):
    """Fault injection into the component step of each composite that
    calls the star contraction: the injected clusterer first
    materializes its inputs (as the real, eager one does), then raises.
    The error must propagate unchanged, and every cache the composite
    persisted must be released — no persisted RDD outlives the call."""
    from dgraph_dbpedia_spark.operators import dedup

    message = f"injected component failure in {composite}"

    def failing_star(docs, pairs, id_col="doc_id"):
        docs.count()
        pairs.count()
        raise RuntimeError(message)

    monkeypatch.setattr(dedup, "dedup_clusters_star", failing_star)
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(1, "en", text), (2, "en", text.replace("kappa", "lambda")),
         (3, "en", "one two three four five six seven eight nine ten")],
        ["doc_id", "lang", "text"],
    )
    emb = spark.createDataFrame(
        [(1, [1.0, 0.01]), (2, [1.0, 0.02]), (3, [0.01, 1.0])],
        ["vec_id", "embedding"],
    )
    cent = spark.createDataFrame(
        [(10, [1.0, 0.0]), (20, [0.0, 1.0])], ["cid", "c"]
    )

    def run():
        if composite == "curate_corpus":
            from dgraph_dbpedia_spark.plans.curate import curate_corpus

            return curate_corpus(
                docs,
                gopher_kwargs=dict(
                    min_words=5, max_words=1000, min_mean_word_len=1.0,
                    max_mean_word_len=20.0, min_alpha_word_ratio=0.0,
                    min_stopwords=0,
                ),
                near_dup_threshold=0.5,
                w=3,
            )
        if composite == "dedup_increment":
            return dedup.dedup_increment(
                docs.where("doc_id = 3"), docs.where("doc_id < 3"),
                bands=8, threshold=0.5,
            )
        from dgraph_dbpedia_spark.operators.similarity import semantic_dedup

        keep = composite.removeprefix("semantic_dedup_")
        return semantic_dedup(emb, threshold=0.999, centroids=cent, keep=keep)

    before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    with pytest.raises(RuntimeError, match=message):
        run()
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    assert after <= before


def test_minhash_join_cross_corpus(spark):
    """Pairs flow left -> right only (no within-corpus pairs), exact
    duplicates score 1.0, unrelated docs never meet."""
    from dgraph_dbpedia_spark.operators.cachectl import release
    from dgraph_dbpedia_spark.operators.dedup import minhash_join

    left = spark.createDataFrame(
        [
            (100, "alpha beta gamma delta epsilon zeta eta theta"),
            (101, "one two three four five six seven eight nine"),
        ],
        ["doc_id", "text"],
    )
    right = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta iota"),
            (3, "totally different words appear here in this doc"),
        ],
        ["doc_id", "text"],
    )
    out = minhash_join(left, right, bands=8, threshold=0.3)
    got = {(r["a"], r["b"]): r["jaccard"] for r in out.collect()}
    assert got[(100, 1)] == 1.0
    assert (100, 2) in got and 0.3 <= got[(100, 2)] < 1.0
    assert all(a in (100, 101) and b in (1, 2, 3) for a, b in got)
    assert (101, 3) not in got
    release(out)


def test_strip_duplicated_spans_removes_repeats_keeps_first(spark):
    """ExactSubstr span dedup: a 4-token span pasted into three docs
    keeps only its first (lowest doc, lowest position) occurrence;
    unique content and short docs pass through (whitespace-normalized);
    a fully-duplicated doc returns as the empty string."""
    from dgraph_dbpedia_spark.operators.cachectl import release
    from dgraph_dbpedia_spark.operators.dedup import strip_duplicated_spans

    span = "all rights reserved worldwide"
    docs = spark.createDataFrame(
        [
            (1, f"intro text here {span} unique tail one"),
            (2, f"other document body {span} different ending"),
            (3, span),                      # fully duplicated
            (4, "totally unique content"),  # short, untouched
            (5, ""),                        # empty
        ],
        ["doc_id", "text"],
    )
    out = strip_duplicated_spans(docs, L=4)
    got = {r["doc_id"]: r["text"] for r in out.collect()}
    release(out)
    assert len(got) == 5
    assert got[1] == f"intro text here {span} unique tail one"
    assert got[2] == "other document body different ending"
    assert got[3] == ""
    assert got[4] == "totally unique content"
    assert got[5] == ""


def test_strip_duplicated_spans_overlapping_and_in_doc(spark):
    """Overlapping duplicate windows merge into one removed extent
    (every covering window repeats too); the global first occurrence
    (doc 1) survives and EVERY other copy goes — including both in-doc
    copies of doc 3, and an in-doc-only repeat keeps its earlier
    position."""
    from dgraph_dbpedia_spark.operators.cachectl import release
    from dgraph_dbpedia_spark.operators.dedup import strip_duplicated_spans

    rep = "a b c d e"  # 5 tokens -> two overlapping 4-windows
    indoc = "v w x y z"
    docs = spark.createDataFrame(
        [
            (1, f"x {rep} y"),
            (2, f"p q {rep} r"),            # whole 5-token extent removed
            (3, f"m {rep} n {rep} o"),      # both copies non-first
            (4, f"g {indoc} h {indoc} i"),  # in-doc repeat: first kept
        ],
        ["doc_id", "text"],
    )
    out = strip_duplicated_spans(docs, L=4)
    got = {r["doc_id"]: r["text"] for r in out.collect()}
    release(out)
    assert got[1] == f"x {rep} y"
    assert got[2] == "p q r"
    assert got[3] == "m n o"
    assert got[4] == f"g {indoc} h i"

    import pytest as _pytest

    with _pytest.raises(ValueError, match="L must be"):
        strip_duplicated_spans(docs, L=1)


def test_winnow_fingerprints_matches_reference_and_guarantee(spark):
    """Winnowing (SIGMOD 2003): bit-equal to a host-side reference
    implementation (leftmost tie-break); the paper's guarantee — any
    verbatim match of >= k + w - 1 tokens shares a fingerprint; zero
    shuffle; short/empty docs follow the shingle convention."""
    import hashlib

    from dgraph_dbpedia_spark.operators.dedup import winnow_fingerprints

    MASK60 = (1 << 60) - 1

    def h64(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def fold(hs):
        acc = 0
        for t in hs:
            acc = (((acc & ((1 << 53) - 1)) << 7) + (acc >> 53)) ^ t
        return acc

    def py_winnow(text, k, w):
        th = [h64(t) & MASK60 for t in text.split()]
        ph = [fold(th[i : i + k]) for i in range(max(len(th) - (k - 1), 1))]
        out = set()
        for p in range(max(len(ph) - (w - 1), 1)):
            win = ph[p : p + w]
            mn = min(win)
            out.add((win.index(mn) + p + 1, mn))
        return out

    rows = [
        (1, "the quick brown fox jumps over the lazy dog runs far away"),
        (2, "a b"),  # shorter than k: one whole-text shingle
        (3, ""),  # empty: hash-0 sentinel at pos 1
        (4, "the quick brown fox jumps over the lazy dog different tail"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = winnow_fingerprints(df, k=4, w=3)
    got = {(r["doc_id"], r["pos"], r["fp"]) for r in out.collect()}
    exp = {
        (i, pos, fp) for i, t in rows for pos, fp in py_winnow(t, 4, 3)
    }
    assert got == exp
    # guarantee: docs 1 and 4 share a 9-token prefix (>= k + w - 1 = 6)
    f1 = {fp for d, _, fp in got if d == 1}
    f4 = {fp for d, _, fp in got if d == 4}
    assert f1 & f4
    # empty doc: the sentinel row, not a dropped doc
    assert (3, 1, 0) in got
    # zero shuffle, and the md5 token pass runs ONCE (no duplicate eval
    # of the bound arrays through CollapseProject / generate refolds)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert plan.count("md5") == 1

    import pytest as _pytest

    with _pytest.raises(ValueError, match="k must be"):
        winnow_fingerprints(df, k=0)
    with _pytest.raises(ValueError, match="w must be"):
        winnow_fingerprints(df, w=0)
    with _pytest.raises(ValueError, match="tie must be"):
        winnow_fingerprints(df, tie="middle")

    # tie rules: "a b a b a b" at k=2 repeats shingle hashes, so
    # windows contain equal minima — left picks the lowest position,
    # right (the paper's rule) the highest; hash SETS are identical
    def py_winnow_tie(text, k, w, right):
        th = [h64(t) & MASK60 for t in text.split()]
        ph = [fold(th[i : i + k]) for i in range(max(len(th) - (k - 1), 1))]
        out = set()
        for p in range(max(len(ph) - (w - 1), 1)):
            win = ph[p : p + w]
            mn = min(win)
            pos = (
                p + len(win) - 1 - win[::-1].index(mn)
                if right
                else p + win.index(mn)
            )
            out.add((pos + 1, mn))
        return out

    tdf = spark.createDataFrame([(7, "a b a b a b")], ["doc_id", "text"])
    for tie, right in (("left", False), ("right", True)):
        got_t = {
            (r["pos"], r["fp"])
            for r in winnow_fingerprints(tdf, k=2, w=3, tie=tie).collect()
        }
        assert got_t == py_winnow_tie("a b a b a b", 2, 3, right), tie
    left_fps = {
        r["fp"] for r in winnow_fingerprints(tdf, k=2, w=3).collect()
    }
    right_fps = {
        r["fp"]
        for r in winnow_fingerprints(tdf, k=2, w=3, tie="right").collect()
    }
    assert left_fps == right_fps


def test_winnow_matches_cross_corpus(spark):
    """MOSS-style matching: a planted shared quote (>= k + w - 1
    tokens) links exactly its two documents; unrelated and empty docs
    never match (hash-0 sentinel excluded); the two fp frames carry
    release handles; hot-fingerprint cap prunes boilerplate links."""
    from dgraph_dbpedia_spark.operators.cachectl import (
        persisted_frames,
        release,
    )
    from dgraph_dbpedia_spark.operators.dedup import winnow_matches

    quote = "to be or not to be that is the question for all of us"
    boiler = "subscribe to our newsletter for updates every single day"
    dfa = spark.createDataFrame(
        [
            (1, f"intro text {quote} closing remarks {boiler}"),
            (2, f"cooking pasta with fresh garlic and olive oil {boiler}"),
            (3, ""),
        ],
        ["doc_id", "text"],
    )
    dfb = spark.createDataFrame(
        [
            (10, f"review begins {quote} then diverges {boiler}"),
            (11, f"gardening tips and tools for every season {boiler}"),
            (12, ""),
        ],
        ["doc_id", "text"],
    )
    out = winnow_matches(dfa, dfb, k=4, w=3, min_shared=2)
    assert len(persisted_frames(out)) == 2
    rows = {(r["a"], r["b"]): r["n_shared"] for r in out.collect()}
    release(out)
    # the quote pair matches strongly; every doc carries the boilerplate,
    # so boilerplate-only pairs may also clear min_shared — the cap test
    # below is what controls that axis
    assert (1, 10) in rows and rows[(1, 10)] >= 2
    assert not any(3 in p or 12 in p for p in rows)

    # cap at 1: fingerprints present in >1 doc across sides (ALL shared
    # ones by construction) are dropped -> no matches survive
    capped = winnow_matches(dfa, dfb, k=4, w=3, min_shared=1, max_fp_freq=1)
    assert capped.count() == 0
    release(capped)


def test_exact_dedup_normalize_and_keep_by(spark):
    """normalize=True collapses case/whitespace variants into one
    canonical class; keep_by picks the representative by
    (keep_by, id) ascending; defaults unchanged (byte-exact, min id)."""
    from dgraph_dbpedia_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [
            (1, "Hello   World"),
            (2, "  hello world "),
            (3, "HELLO\tWORLD"),
            (4, "different text"),
        ],
        ["doc_id", "text"],
    ).withColumn("prio", F.col("doc_id") % 2)  # 3 has prio 1, 2 has 0

    # byte-exact: all four texts differ
    assert exact_dedup(df).count() == 4

    norm = exact_dedup(df, normalize=True)
    got = {r["doc_id"] for r in norm.collect()}
    assert got == {1, 4} and norm.count() == 2  # min id per class

    kept = exact_dedup(df, normalize=True, keep_by="prio")
    # class {1,2,3}: prios (1,0,1) -> min(struct(prio,id)) = (0,2)
    assert {r["doc_id"] for r in kept.collect()} == {2, 4}

    # edge tabs/newlines canonicalize away (collapse BEFORE trim —
    # bare trim only strips ASCII spaces)
    edges = spark.createDataFrame(
        [(1, "hello world"), (2, "\thello   world\n")], ["doc_id", "text"]
    )
    assert exact_dedup(edges, normalize=True).count() == 1

    # NULL keep_by metadata always LOSES (bare struct-min would put
    # NULLS FIRST and crown the doc with missing metadata)
    nulls = spark.createDataFrame(
        [(1, "same", None), (2, "same", 5), (3, "same", 7)],
        ["doc_id", "text", "ts"],
    )
    got_null = exact_dedup(nulls, keep_by="ts").collect()
    assert [r["doc_id"] for r in got_null] == [2]


def test_ngram_containment_asymmetric(spark):
    """A short quote embedded in a long doc: containment(quote side)
    ~= 1 while Jaccard is far below any useful threshold — the
    subsumption case Jaccard structurally misses. Handles attached;
    symmetric near-identical pairs report both directions high."""
    from dgraph_dbpedia_spark.operators.cachectl import (
        persisted_frames,
        release,
    )
    from dgraph_dbpedia_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = "the five laws of library science are timeless"
    long_doc = (
        "opening analysis paragraph with many unique tokens here "
        + quote
        + " followed by extended commentary drawing several conclusions "
        "and a final summary section closing the argument entirely"
    )
    df = spark.createDataFrame(
        [(1, long_doc), (2, quote), (3, "unrelated text about sailing")],
        ["doc_id", "text"],
    )
    out = ngram_containment_pairs(df, threshold=0.9)
    assert len(persisted_frames(out)) == 2
    rows = {(r["a"], r["b"]): r for r in out.collect()}
    release(out)
    assert set(rows) == {(1, 2)}
    r = rows[(1, 2)]
    # b (the quote) is fully contained in a (the long doc)
    assert r["containment_b"] == 1.0 and r["containment_a"] < 0.3

    # and Jaccard at the same threshold finds nothing
    j = ngram_jaccard_pairs(df, threshold=0.9)
    assert j.count() == 0
    release(j)


def test_winnow_matches_within_corpus(spark):
    """df_b=None self mode: pairs come back a < b exactly once, no
    self-pairs; ONE fingerprint pass is shared (single persisted
    handle); results equal the explicit cross form filtered to a < b —
    WHEN no fingerprint's doc frequency exceeds max_fp_freq / 2 (the
    cap counts each doc once in within mode, twice in cross(df, df);
    the operator docstring documents the divergence regime)."""
    from dgraph_dbpedia_spark.operators.cachectl import (
        persisted_frames,
        release,
    )
    from dgraph_dbpedia_spark.operators.dedup import winnow_matches

    quote = "we hold these truths to be self evident that all are equal"
    df = spark.createDataFrame(
        [
            (1, f"preamble {quote} and then commentary follows"),
            (2, f"quoted later {quote} with analysis appended"),
            (3, f"third copy {quote} trailing words"),
            (4, "entirely unrelated content about deep sea exploration"),
        ],
        ["doc_id", "text"],
    )
    out = winnow_matches(df, k=4, w=3, min_shared=2)
    assert len(persisted_frames(out)) == 1
    pairs = {(r["a"], r["b"]): r["n_shared"] for r in out.collect()}
    release(out)
    assert set(pairs) == {(1, 2), (1, 3), (2, 3)}
    assert all(a < b for a, b in pairs)

    cross = winnow_matches(df, df, k=4, w=3, min_shared=2)
    cross_pairs = {
        (r["a"], r["b"]): r["n_shared"]
        for r in cross.collect()
        if r["a"] < r["b"]
    }
    release(cross)
    assert cross_pairs == pairs


def test_ngram_novelty_graded_fraction(spark):
    """Host-checked novelty fractions: a verbatim copy of a reference
    doc scores 0.0, a fully foreign doc 1.0, a half-overlap doc in
    between; every corpus doc gets a row; count column is distinct
    shingles."""
    from dgraph_dbpedia_spark.operators.dedup import ngram_novelty

    ref = spark.createDataFrame(
        [(100, "a b c d e f")], ["doc_id", "text"]
    )
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),     # verbatim -> 0.0
            (2, "x y z w v u"),     # foreign -> 1.0
            (3, "a b c x y z"),     # shingles: abc seen; bcx,cxy,xyz novel
            (4, "q r"),             # short doc -> one whole-text shingle
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r for r in ngram_novelty(docs, ref).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    assert out[1]["novel_ratio"] == 0.0 and out[1]["n_wgrams"] == 4
    assert out[2]["novel_ratio"] == 1.0
    assert out[3]["n_wgrams"] == 4 and out[3]["novel_ratio"] == 0.75
    assert out[4]["n_wgrams"] == 1 and out[4]["novel_ratio"] == 1.0


def test_contamination_report_counts(spark):
    """Host-checked per-item audit: item A leaks into two docs via two
    distinct shingles, item B into one doc, clean item C emits no
    row."""
    from dgraph_dbpedia_spark.operators.dedup import contamination_report

    bench = spark.createDataFrame(
        [
            (100, "a b c d e"),
            (200, "p q r s"),
            (300, "x y z w"),
        ],
        ["doc_id", "text"],
    )
    docs = spark.createDataFrame(
        [
            (1, "a b c junk junk"),      # shares shingle (a b c) with A
            (2, "zz b c d e"),           # shares (b c d), (c d e) with A
            (3, "p q r filler"),         # shares (p q r) with B
            (4, "nothing shared here"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["bench_id"]: (r["n_docs"], r["n_shingles"])
        for r in contamination_report(docs, bench, w=3).collect()
    }
    assert got == {100: (2, 3), 200: (1, 1)}


def test_split_leakage_report_hand_computed(spark):
    """Three identical docs forced into different splits by a
    controlled fractions dict leak into each other; a fourth,
    unrelated doc leaks nowhere. With fractions covering only part of
    [0, 1), uncovered rows report as the named 'holdout' split rather
    than vanishing."""
    from dgraph_dbpedia_spark.operators.cachectl import release
    from dgraph_dbpedia_spark.operators.dedup import split_leakage_report
    from dgraph_dbpedia_spark.operators.sampling import split_corpus

    text = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, text) for i in range(20)] + [
        (100, "completely unrelated content with zero shared shingles x")
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fractions = {"train": 0.5, "test": 0.25}  # remainder -> holdout
    out = split_leakage_report(
        docs, fractions, threshold=0.9
    )
    got = {(r["split_a"], r["split_b"]): r for r in out.collect()}
    release(out)
    # the 20 identical docs pair across every split boundary their
    # coins land in; recompute the expected pair counts from the same
    # deterministic coin
    sp = {
        r["doc_id"]: r["split"] or "holdout"
        for r in split_corpus(docs, fractions).collect()
    }
    import itertools

    expected: dict[tuple[str, str], int] = {}
    for a, b in itertools.combinations(range(20), 2):
        sa, sb = sp[a], sp[b]
        if sa == sb:
            continue
        key = (min(sa, sb), max(sa, sb))
        expected[key] = expected.get(key, 0) + 1
    assert {k: v["n_pairs"] for k, v in got.items()} == expected
    for r in got.values():
        assert r["max_jaccard"] == 1.0
    assert all(100 not in (r["n_docs_a"], None) for r in got.values())


def test_split_leakage_report_no_cross_pairs_empty(spark):
    """A corpus whose near-dups all land in ONE split (fractions put
    every row in 'train') reports nothing — the audit is silent when
    there is no leakage."""
    from dgraph_dbpedia_spark.operators.cachectl import release
    from dgraph_dbpedia_spark.operators.dedup import split_leakage_report

    text = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(i, text) for i in range(6)], "doc_id long, text string"
    )
    out = split_leakage_report(
        docs, {"train": 1.0}, threshold=0.9
    )
    assert out.count() == 0
    release(out)


# ---------------------------------------------------------------------------
# r15: pair_recall_audit


def test_pair_recall_audit_hand_numbers(spark):
    """Known overlap: 4 truth pairs, 3 candidates (one emitted TWICE —
    band-join duplicates must not inflate), 2 matched -> recall 0.5,
    precision 2/3."""
    from dgraph_dbpedia_spark.operators.dedup import pair_recall_audit

    truth = spark.createDataFrame(
        [(1, 2), (3, 4), (5, 6), (7, 8)], ["a", "b"]
    )
    cands = spark.createDataFrame(
        [(1, 2), (1, 2), (3, 4), (9, 10)], ["a", "b"]
    )
    row = pair_recall_audit(truth, cands).collect()[0].asDict()
    assert row == {
        "n_truth": 4,
        "n_candidates": 3,
        "n_matched": 2,
        "recall": 0.5,
        "precision": round(2 / 3, 6),
    }


def test_pair_recall_audit_empty_sides(spark):
    """Empty truth -> NULL recall (try_divide); empty candidates ->
    NULL precision; counts stay exact zeros."""
    from dgraph_dbpedia_spark.operators.dedup import pair_recall_audit

    empty = spark.createDataFrame([], "a long, b long")
    some = spark.createDataFrame([(1, 2)], ["a", "b"])
    r1 = pair_recall_audit(empty, some).collect()[0].asDict()
    assert r1["n_truth"] == 0 and r1["recall"] is None
    assert r1["n_candidates"] == 1 and r1["precision"] == 0.0
    r2 = pair_recall_audit(some, empty).collect()[0].asDict()
    assert r2["n_candidates"] == 0 and r2["precision"] is None
    assert r2["recall"] == 0.0
