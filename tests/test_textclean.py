from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dgraph_dbpedia_spark.operators.dedup import dedup_clusters_star
from dgraph_dbpedia_spark.operators.textclean import (
    clean_text,
    hash_sample,
    pii_redact,
    repetition_score,
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "<p>Hello   <b>world</b></p>\n\n  spaced\tout  "),
            (2, "mail me at jane.doe+x@example.co.uk or ping 192.168.0.1 ok"),
            (3, "call +1 (555) 123-4567 today"),
            (4, "aaa bbb aaa bbb aaa bbb aaa bbb"),
            (5, "all distinct tokens in this one sentence right here"),
            (6, "ab"),
        ],
        ["doc_id", "text"],
    )


def test_clean_text_strips_tags_and_whitespace(spark, docs):
    out = {r["doc_id"]: r["clean"] for r in clean_text(docs).collect()}
    assert out[1] == "Hello world spaced out"
    assert out[2].startswith("mail me at")  # untouched: no tags


def test_pii_redact(spark, docs):
    rows = {r["doc_id"]: r for r in pii_redact(docs).collect()}
    assert "<EMAIL>" in rows[2]["redacted"]
    assert "<IP>" in rows[2]["redacted"]
    assert "jane" not in rows[2]["redacted"]
    assert rows[2]["n_emails"] == 1 and rows[2]["n_ipv4"] == 1
    assert "<PHONE>" in rows[3]["redacted"]
    assert rows[1]["n_emails"] == 0


def test_repetition_score(spark, docs):
    rows = {r["doc_id"]: r for r in repetition_score(docs).collect()}
    # doc 4: 8 tokens alternating -> 2 distinct -> ttr 0.25; 6 trigrams,
    # only 2 distinct ("aaa bbb aaa", "bbb aaa bbb") -> dup ratio 4/6
    assert rows[4]["ttr"] == 0.25
    assert rows[4]["dup_ngram_ratio"] == pytest.approx(4 / 6, abs=1e-6)
    assert rows[5]["ttr"] == 1.0 and rows[5]["dup_ngram_ratio"] == 0.0
    # below n tokens: zero ratio, not an error (sequence guard)
    assert rows[6]["n_tokens"] == 1 and rows[6]["dup_ngram_ratio"] == 0.0


def test_hash_sample_deterministic_and_plausible(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = sorted(r["doc_id"] for r in hash_sample(df, rate_num=32).collect())
    b = sorted(r["doc_id"] for r in hash_sample(df, rate_num=32).collect())
    assert a == b  # pure function of the key
    assert 0.08 < len(a) / 2000 < 0.17  # ~12.5% +- sampling noise
    # nested rates: a 16/256 sample is a subset of the 32/256 sample
    sub = set(r["doc_id"] for r in hash_sample(df, rate_num=16).collect())
    assert sub <= set(a)


def test_dedup_clusters_transitive_chain(spark):
    """a~b and b~c (no direct a~c pair): all three must land in one
    cluster labeled min(a) — exactly the case the greedy pairwise
    near_dup_filter under-deletes."""
    docs = spark.createDataFrame([(i,) for i in range(1, 8)], ["doc_id"])
    pairs = spark.createDataFrame(
        [(1, 4), (4, 6), (2, 3)], ["a", "b"]
    )
    out = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_clusters_star(docs, pairs).collect()
    }
    assert out[1] == out[4] == out[6] == 1
    assert out[2] == out[3] == 2
    assert out[5] == 5 and out[7] == 7  # singletons label themselves


def test_dedup_clusters_long_chain_converges(spark):
    """Path graph 0-1-2-...-9 (diameter 9) must converge inside
    max_iter."""
    docs = spark.createDataFrame([(i,) for i in range(10)], ["doc_id"])
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], ["a", "b"]
    )
    out = dedup_clusters_star(docs, pairs, max_iter=15)
    assert set(r["cluster_id"] for r in out.collect()) == {0}


def test_dedup_clusters_cap_fails_loud(spark):
    """Hitting max_iter before convergence must RAISE, not return
    partial labels that silently under-merge clusters."""
    import pytest

    docs = spark.createDataFrame([(i,) for i in range(12)], ["doc_id"])
    pairs = spark.createDataFrame([(i, i + 1) for i in range(11)], ["a", "b"])
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters_star(docs, pairs, max_iter=1)


@pytest.mark.parametrize("max_iter", [0, -1])
def test_dedup_clusters_star_rejects_no_rounds(spark, max_iter):
    """max_iter < 1 runs no contraction round: on the chain 0-1-2-3 that
    would return one-hop labels ({2: 1, 3: 2}) as if they were the
    components. It must raise instead; max_iter=15 labels the chain 0."""
    docs = spark.createDataFrame([(i,) for i in range(4)], ["doc_id"])
    pairs = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], ["a", "b"])
    with pytest.raises(ValueError, match="max_iter >= 1"):
        dedup_clusters_star(docs, pairs, max_iter=max_iter)
    out = dedup_clusters_star(docs, pairs, max_iter=15)
    assert {r["doc_id"]: r["cluster_id"] for r in out.collect()} == {0: 0, 1: 0, 2: 0, 3: 0}


def test_dedup_clusters_star_mixed_graph(spark):
    """Star contraction on a mixed graph: multi-node components of
    different shapes, each labeled with its min id, plus singletons."""
    docs = spark.createDataFrame([(i,) for i in range(1, 12)], ["doc_id"])
    pairs = spark.createDataFrame(
        [(1, 4), (4, 6), (2, 3), (3, 9), (9, 10), (7, 8)], ["a", "b"]
    )
    st = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_clusters_star(docs, pairs).collect()
    }
    assert st == {
        1: 1, 4: 1, 6: 1, 2: 2, 3: 2, 9: 2, 10: 2, 7: 7, 8: 7, 5: 5, 11: 11,
    }


def test_dedup_clusters_star_long_chain_log_rounds(spark):
    """Path graph of 200 nodes (diameter 199): star contraction must
    finish in <=12 alternation rounds (O(log^2 n) bound)."""
    n = 200
    docs = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["a", "b"])
    out = dedup_clusters_star(docs, pairs, max_iter=12)
    rows = out.collect()
    assert len(rows) == n
    assert set(r["cluster_id"] for r in rows) == {0}


def test_compression_ratio_orders_redundancy(spark):
    """Repetitive text compresses below natural prose, which
    compresses below high-entropy noise; empty/NULL docs keep a row
    with NULL ratio; the signal is deterministic under repartitioning;
    level bounds validated."""
    import pytest
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from dgraph_dbpedia_spark.operators.textclean import compression_ratio

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
        ]
    )
    docs = spark.createDataFrame(
        [
            (1, "spam " * 200),
            (2, "the quick brown fox jumps over a lazy dog while "
                "zephyrs vex him quite badly " * 10),
            (3, "k9$Qz!vX2#pL8@wN5^rT1&yU4*oI7(eA0)sD3-fG6_hJ"),
            (4, ""),
            (5, None),
        ],
        schema,
    )
    got = {r["doc_id"]: r for r in compression_ratio(docs).collect()}
    assert got[1]["ratio"] < got[2]["ratio"] < got[3]["ratio"]
    assert got[4]["n_bytes"] == 0 and got[4]["ratio"] is None
    assert got[5]["n_bytes"] is None and got[5]["ratio"] is None
    again = {
        r["doc_id"]: r["ratio"]
        for r in compression_ratio(docs.repartition(4)).collect()
    }
    assert again == {k: v["ratio"] for k, v in got.items()}
    with pytest.raises(ValueError):
        compression_ratio(docs, level=0)


def test_strip_markup_blocks_entities_tags(spark):
    """strip_markup removes script/style CONTENT (not just the tags),
    comments, tags; decodes entities in the safe order (angle brackets
    after tag removal, ampersand last); collapses whitespace."""
    from dgraph_dbpedia_spark.operators.textclean import strip_markup

    docs = spark.createDataFrame(
        [
            (1, "<html><head><STYLE>body { color: red }</STYLE>"
                "<script type='js'>var x = 1;\nalert(x);</script></head>"
                "<body><!-- hidden\ncomment --><p>Hello   <b>world</b></p>"
                "</body></html>"),
            (2, "a &lt;tag&gt; stays literal &amp;amp; decodes once"
                " &nbsp;&quot;q&quot;&#39;s"),
            (3, "plain text untouched"),
            (4, ""),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["text"] for r in strip_markup(docs).collect()}
    assert got[1] == "Hello world"
    # decoded '<tag>' is NOT re-stripped; '&amp;amp;' -> '&amp;' (one
    # level); '&nbsp;' -> space collapsed
    assert got[2] == 'a <tag> stays literal &amp; decodes once "q"\'s'
    assert got[3] == "plain text untouched"
    assert got[4] == ""


def test_dedup_lines_within_doc(spark):
    """In-doc line dedup: repeated non-blank lines keep the first
    occurrence in order; blank lines (document structure) always pass;
    other documents are independent (the same line may live in many
    docs)."""
    from dgraph_dbpedia_spark.operators.textclean import dedup_lines

    docs = spark.createDataFrame(
        [
            (1, "alpha\nbeta\n\nalpha\ngamma\nbeta"),
            (2, "alpha\nalpha"),   # same line as doc 1 — independent
            (3, ""),
            (4, "  \nx\n  \nx"),   # whitespace lines preserved, dup x dropped
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["text"] for r in dedup_lines(docs).collect()}
    assert got[1] == "alpha\nbeta\n\ngamma"
    assert got[2] == "alpha"
    assert got[3] == ""
    assert got[4] == "  \nx\n  "
    # pure projection: no exchange in the plan
    plan = dedup_lines(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_normalize_text_forms(spark):
    """Unicode normalization: NFC composes decomposed accents; NFKC
    additionally folds compatibility forms (ligature, fullwidth,
    circled digit); NFD round-trips NFC; NULLs pass through; the
    kernel rides the Arrow lane (documented Python-lane op)."""
    import unicodedata

    from dgraph_dbpedia_spark.operators.textclean import normalize_text

    decomposed = "cafe\u0301 A\u030a"
    compat = "ﬁle ｆｕｌｌ ①"
    rows = [(1, decomposed), (2, compat), (3, None), (4, "plain")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    nfc = {r["doc_id"]: r["text"] for r in normalize_text(df, "NFC").collect()}
    assert nfc[1] == "caf\u00e9 \u00c5"
    assert nfc[2] == compat  # NFC leaves compatibility forms alone
    assert nfc[3] is None
    assert nfc[4] == "plain"

    nfkc = {r["doc_id"]: r["text"] for r in normalize_text(df, "NFKC").collect()}
    assert nfkc[2] == "file full 1"
    assert nfkc[1] == "caf\u00e9 \u00c5"

    nfd = {r["doc_id"]: r["text"] for r in normalize_text(df, "NFD").collect()}
    assert nfd[1] == unicodedata.normalize("NFD", decomposed) == decomposed

    plan = (
        normalize_text(df, "NFC")._jdf.queryExecution().executedPlan().toString()
    )
    assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan

    import pytest as _pytest

    with _pytest.raises(ValueError, match="form must be"):
        normalize_text(df, "NFX")


def test_trim_length_outliers_hand_computed(spark):
    """Group 's' holds token counts 1..100 (doc_id = count): p1 rank
    = ceil(0.01*100) = 1 -> lo value 1, p99 rank = 99 -> hi value 99;
    the inclusive gate keeps counts 1..99 and drops only the
    100-token blob. A one-doc group keeps its single doc (both cuts
    land on it)."""
    from dgraph_dbpedia_spark.operators.textclean import (
        trim_length_outliers,
    )

    rows = [
        (i, "s", " ".join(["w"] * i)) for i in range(1, 101)
    ] + [(999, "tiny", "a b c")]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    got = trim_length_outliers(df, lo=0.01, hi=0.99).collect()
    kept_s = sorted(r["doc_id"] for r in got if r["source"] == "s")
    assert kept_s == list(range(1, 100))  # 100-token doc trimmed
    assert [r["doc_id"] for r in got if r["source"] == "tiny"] == [999]
    # survivors carry ALL original columns untouched
    assert set(got[0].asDict()) == {"doc_id", "source", "text"}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="lo"):
        trim_length_outliers(df, lo=0.9, hi=0.1)
    with _pytest.raises(ValueError, match="lo"):
        trim_length_outliers(df, lo=0.0)


def test_trim_length_outliers_null_text_and_reserved_columns(spark):
    """r13 review: a null-text row must neither shift the group's
    ranks (whole-group data loss when a cut rank landed on the
    NULLS-FIRST null row) nor survive the gate; reserved dunder
    columns raise instead of being silently clobbered."""
    import pytest as _pytest

    from dgraph_dbpedia_spark.operators.textclean import (
        trim_length_outliers,
    )

    rows = [(i, "s", " ".join(["w"] * i)) for i in range(1, 11)]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )
    with_null = df.unionByName(
        spark.createDataFrame(
            [(99, "s", None)], "doc_id long, source string, text string"
        )
    )
    kept_clean = sorted(
        r["doc_id"] for r in trim_length_outliers(df, lo=0.1, hi=0.9).collect()
    )
    kept_null = sorted(
        r["doc_id"]
        for r in trim_length_outliers(with_null, lo=0.1, hi=0.9).collect()
    )
    # p10 rank 1 -> lo 1; p90 rank 9 -> hi 9: doc 10 trimmed, the
    # null doc dropped, everything else identical
    assert kept_clean == kept_null == list(range(1, 10))
    with _pytest.raises(ValueError, match="reserved"):
        trim_length_outliers(df.withColumn("__lo_nt", F.lit(1)))
    with _pytest.raises(ValueError, match="reserved"):
        trim_length_outliers(df.withColumn("__g", F.lit("x")))
