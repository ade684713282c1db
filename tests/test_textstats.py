from __future__ import annotations

import pytest

from dgraph_dbpedia_spark.operators.textstats import (
    fingerprint,
    language_id,
    quality_score,
    token_counts,
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the cat sat on the mat and it is that for"),
            (2, "der hund und die katze ist mit den von zu"),
            (3, "!!! ??? ... ###"),
            (4, "hello world 123 foo-bar"),
        ],
        ["doc_id", "text"],
    )


def test_language_id(spark, docs):
    out = {r["doc_id"]: r["lang_guess"] for r in language_id(docs).collect()}
    assert out[1] == "en"
    assert out[2] == "de"
    # zero stopword evidence in EVERY profile -> NULL, not the
    # lexicographically-first language (doc 3 is pure punctuation)
    assert out[3] is None


def test_quality_score_mean_token_len_ignores_whitespace(spark):
    """Mean token length is sum-of-word-lengths / n_tokens — a doc of
    2-char words must score mean 2.0 no matter how much whitespace
    separates them (the gopher rule)."""
    df = spark.createDataFrame(
        [(1, "ab  cd\t\tef   gh"), (2, "ab cd ef gh")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r["mean_token_len"] for r in quality_score(df).collect()}
    assert out[1] == out[2] == 2.0


def test_quality_score(spark, docs):
    out = {r["doc_id"]: r for r in quality_score(docs).collect()}
    assert out[1]["score"] > out[3]["score"]
    assert out[3]["punct_ratio"] > 0.5
    assert out[1]["n_tokens"] == 11
    assert 0.0 <= out[1]["score"] <= 1.0


def test_token_counts(spark, docs):
    out = {r["doc_id"]: r for r in token_counts(docs).collect()}
    assert out[4]["n_ws_tokens"] == 4
    # hello / world / 123 / foo / - / bar
    assert out[4]["n_bpe_tokens"] == 6


def test_fingerprint_rejects_degenerate_windows(spark, docs):
    with pytest.raises(ValueError, match="stride"):
        fingerprint(docs, stride=0)
    with pytest.raises(ValueError, match="char_window"):
        fingerprint(docs, char_window=0)


def test_fingerprint_stability(spark, docs):
    a = {r["doc_id"]: r["fp"] for r in fingerprint(docs).collect()}
    b = {r["doc_id"]: r["fp"] for r in fingerprint(docs).collect()}
    assert a == b
    assert len(set(a.values())) == 4  # distinct docs -> distinct fps


def test_bm25_topk(spark):
    from dgraph_dbpedia_spark.operators.textstats import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "spark spark spark joins data"),
            (2, "spark data"),
            (3, "data data data data"),
            (4, "nothing relevant here"),
            (5, "spark"),
        ],
        ["doc_id", "text"],
    )
    rows = bm25_topk(docs, ["spark"], k=3).collect()
    ids = [r["doc_id"] for r in rows]
    # only docs containing the term score > 0; repeated term + short doc
    # rank above a single mention in a longer doc
    assert set(ids) <= {1, 2, 5}
    assert len(ids) == 3
    assert ids[0] in (1, 5)  # tf=3 saturated vs dl=1 boost
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    # reference BM25 hand-check: with one term, score is monotone in
    # tf/(tf + k1*(1-b+b*dl/avgdl)); doc 5 (tf=1, dl=1) beats doc 2
    # (tf=1, dl=2)
    s = {r["doc_id"]: r["score"] for r in rows}
    if 5 in s and 2 in s:
        assert s[5] > s[2]


def test_bm25_multi_term_and_ties(spark):
    from dgraph_dbpedia_spark.operators.textstats import bm25_topk

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "c")], ["doc_id", "text"]
    )
    rows = bm25_topk(docs, ["a", "b"], k=5).collect()
    # identical docs tie on score; tie-break is doc_id ascending
    assert [r["doc_id"] for r in rows] == [1, 2]
    assert rows[0]["score"] == rows[1]["score"]


def test_tfidf_topk_terms_hand_computed(spark):
    """tf-idf = tf * (ln((1+N)/(1+df)) + 1) on a 3-doc fixture:
    corpus-wide terms score low, distinguishing terms high; top-k per
    doc with ties by term asc; min_df drops hapaxes; case folds."""
    import math

    from dgraph_dbpedia_spark.operators.textstats import tfidf_topk_terms

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana common"),
            (2, "banana cherry common"),
            (3, "Cherry common"),
        ],
        ["doc_id", "text"],
    )
    got = {
        (r["doc_id"], r["term"]): r["score"]
        for r in tfidf_topk_terms(docs, k=10, min_df=2).collect()
    }

    def idf(df_):
        return math.log((1 + 3) / (1 + df_)) + 1

    exp = {
        (1, "apple"): round(2 * idf(1), 4),   # df=1 BUT min_df=2 drops it
        (1, "banana"): round(1 * idf(2), 4),
        (1, "common"): round(1 * idf(3), 4),
        (2, "banana"): round(1 * idf(2), 4),
        (2, "cherry"): round(1 * idf(2), 4),
        (2, "common"): round(1 * idf(3), 4),
        (3, "cherry"): round(1 * idf(2), 4),  # "Cherry" lowercased
        (3, "common"): round(1 * idf(3), 4),
    }
    del exp[(1, "apple")]
    assert got == exp
    # per-doc ordering: distinguishing term outranks the ubiquitous one
    assert got[(2, "cherry")] > got[(2, "common")]
    # top-k truncation with the term tie-break
    top1 = {
        r["doc_id"]: r["term"]
        for r in tfidf_topk_terms(docs, k=1, min_df=2).collect()
    }
    # doc 2: banana and cherry tie (same tf, same df) -> banana (asc)
    assert top1[2] == "banana"


def test_tfidf_topk_terms_validates(spark):
    from dgraph_dbpedia_spark.operators.textstats import tfidf_topk_terms

    docs = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        tfidf_topk_terms(docs, k=0)
    with pytest.raises(ValueError):
        tfidf_topk_terms(docs, min_df=0)


def test_bm25_empty_terms_raises(spark):
    from dgraph_dbpedia_spark.operators.textstats import bm25_topk

    docs = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        bm25_topk(docs, [])


def test_bm25_batch_matches_single(spark):
    from dgraph_dbpedia_spark.operators.textstats import bm25_topk, bm25_topk_batch

    docs = spark.createDataFrame(
        [
            (1, "spark data joins"),
            (2, "spark spark"),
            (3, "data merge"),
            (4, "noise only here"),
        ],
        ["doc_id", "text"],
    )
    qs = {"a": ["spark"], "b": ["data", "merge"]}
    batch = bm25_topk_batch(docs, qs, k=3).collect()
    for qid, terms in qs.items():
        got = [(r["doc_id"], r["score"]) for r in batch if r["query_id"] == qid]
        want = [
            (r["doc_id"], r["score"]) for r in bm25_topk(docs, terms, k=3).collect()
        ]
        assert got == want, qid


def test_bm25_batch_validates_input(spark):
    from dgraph_dbpedia_spark.operators.textstats import bm25_topk_batch

    docs = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        bm25_topk_batch(docs, {})
    with pytest.raises(ValueError):
        bm25_topk_batch(docs, {"q": []})


def test_frequent_ngrams_doc_frequency_and_determinism(spark):
    """Top-k n-grams: document frequency (in-doc repeats count once),
    min_count prunes singletons, and the (count desc, ngram asc)
    tie-break makes the top-k deterministic."""
    from dgraph_dbpedia_spark.operators.textstats import frequent_ngrams

    boiler = "all rights reserved"
    rows = [
        (1, f"alpha beta gamma {boiler}"),
        (2, f"delta epsilon zeta {boiler}"),
        (3, f"{boiler} and {boiler}"),   # repeated in-doc: counts once
        (4, "unique words only here"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = [(r["ngram"], r["n_docs"]) for r in frequent_ngrams(docs, k=5).collect()]
    assert got[0] == (boiler, 3)
    assert all(c >= 2 for _, c in got)
    # deterministic ordering within equal counts
    counts = [c for _, c in got]
    assert counts == sorted(counts, reverse=True)
    grams_at = [g for g, c in got if c == 2]
    assert grams_at == sorted(grams_at)


def test_frequent_ngrams_no_refolded_filter(spark):
    """The gram explode must sit behind the inline barrier — no Filter
    in the optimized plan may contain the gram-building expression
    (the InferFiltersFromGenerate trap, BENCH_SCALE.md r9)."""
    from dgraph_dbpedia_spark.operators.textstats import frequent_ngrams

    docs = spark.createDataFrame([(1, "a b c d")], ["doc_id", "text"])
    plan = (
        frequent_ngrams(docs, k=5)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    for line in plan.splitlines():
        if "Filter" in line:
            assert "transform(" not in line and "concat_ws" not in line, line


def test_gopher_quality_filter_rules(spark):
    """Each Gopher rule fires independently and the composite keep is
    their conjunction; every input row is returned (audit contract)."""
    from dgraph_dbpedia_spark.operators.textstats import gopher_quality_filter

    good = "the quick brown fox is one of the finest animals that a person can meet for it"
    rows = [
        (1, " ".join([good] * 4)),                 # 64 words, prose -> keep
        (2, "short text"),                          # too few words
        (3, " ".join(["x"] * 60)),                  # mean word len 1 -> drop
        (4, " ".join(["1234"] * 60)),               # no alpha words, no stopwords
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in gopher_quality_filter(docs).collect()}
    assert set(got) == {1, 2, 3, 4}
    assert got[1]["keep"] is True
    assert got[2]["keep"] is False and got[2]["n_words"] == 2
    assert got[3]["keep"] is False and got[3]["mean_word_len"] == 1.0
    assert got[4]["keep"] is False and got[4]["alpha_word_ratio"] == 0.0
    assert got[4]["n_stopwords"] == 0
    assert got[1]["n_stopwords"] >= 2


def test_unigram_logprob_orders_rarity(spark):
    """Docs made of corpus-common tokens score fewer bits/token than
    rare-token docs; empty docs keep a row with NULL bits."""
    import pytest

    from dgraph_dbpedia_spark.operators.textstats import unigram_logprob

    common = "the the the the the the the the"
    docs = spark.createDataFrame(
        [(1, common), (2, common), (3, common), (4, "zyx wvu tsr qpo"),
         (5, "")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in unigram_logprob(docs).collect()}
    assert got[1]["bits_per_token"] < got[4]["bits_per_token"]
    assert got[5]["n_tokens"] == 0 and got[5]["bits_per_token"] is None
    assert got[4]["n_tokens"] == 4
    with pytest.raises(ValueError):
        unigram_logprob(docs, smoothing=0)


def test_perplexity_buckets_exact(spark):
    """CCNet bucketing: per-group ntile by surprisal — the rare-token
    doc lands in the tail bucket, common-token docs in the head;
    zero-token docs pin to the LAST bucket explicitly; bucket sizes
    are balanced per group."""
    from dgraph_dbpedia_spark.operators.cachectl import release
    from dgraph_dbpedia_spark.operators.textstats import perplexity_buckets

    common = "the cat sat on the mat and the dog sat too"
    rows = [
        (1, "en", common),
        (2, "en", common + " again"),
        (3, "en", common + " once more"),
        (4, "en", "zxqv9 qq7jx mmplk wunder"),  # rare-token soup
        (5, "en", common),
        (6, "en", ""),  # zero tokens -> NULL bits -> last bucket
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    out = perplexity_buckets(df, n_buckets=3)
    got = {r["doc_id"]: r for r in out.collect()}
    release(out)
    assert len(got) == 6
    assert got[4]["bucket"] == 3  # highest surprisal -> tail
    assert got[6]["bucket"] == 3 and got[6]["bits_per_token"] is None
    assert got[6]["n_tokens"] == 0
    # the 5 scored docs split 2/2/1 over 3 buckets (ntile remainder
    # goes to the first buckets)
    from collections import Counter

    sizes = Counter(r["bucket"] for i, r in got.items() if i != 6)
    assert sizes == {1: 2, 2: 2, 3: 1}


def test_perplexity_buckets_approx_keeps_null_groups(spark):
    """perplexity_buckets must not silently drop NULL-group rows or
    groups whose every doc has NULL bits: NULL-bits docs pin to the
    last bucket."""
    from dgraph_dbpedia_spark.operators.cachectl import release
    from dgraph_dbpedia_spark.operators.textstats import perplexity_buckets

    rows = [
        (1, "en", "the cat sat on the mat"),
        (2, "en", "the dog sat on the rug"),
        (3, None, "null lang doc with words"),  # NULL group
        (4, "xx", ""),  # group whose only doc has NULL bits
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = perplexity_buckets(df, n_buckets=2)
    got = {r["doc_id"]: r for r in out.collect()}
    release(out)
    assert set(got) == {1, 2, 3, 4}
    assert got[4]["bucket"] == 2 and got[4]["bits_per_token"] is None
    assert got[3]["bucket"] is not None


def test_corpus_divergence_jsd(spark):
    """JSD vs a host-computed reference; self-JSD = 0; empty-side
    degeneracy = 0.5; the vocab join frame is persisted and carries a
    release handle."""
    import math
    from collections import Counter

    from dgraph_dbpedia_spark.operators.cachectl import release
    from dgraph_dbpedia_spark.operators.textstats import corpus_divergence

    A = [(1, "the cat sat on the mat"), (2, "a cat and a dog"), (3, "")]
    B = [(4, "the dog ran far"), (5, "quantum flux capacitor dog the")]

    def dist(rows):
        c = Counter(t for _, x in rows for t in x.split())
        return c, sum(c.values())

    ca, ta = dist(A)
    cb, tb = dist(B)
    jsd = 0.0
    for t in set(ca) | set(cb):
        p = ca.get(t, 0) / ta
        q = cb.get(t, 0) / tb
        m = (p + q) / 2
        if p:
            jsd += 0.5 * p * math.log2(p / m)
        if q:
            jsd += 0.5 * q * math.log2(q / m)

    dfa = spark.createDataFrame(A, ["doc_id", "text"])
    dfb = spark.createDataFrame(B, ["doc_id", "text"])
    out = corpus_divergence(dfa, dfb)
    r = out.collect()[0]
    # 4-decimal contract (VERDICT r11 #1: the package-wide round-4
    # practice; round-6 was the registry's only transcendental-derived
    # output and the only row the driver ever hash-flipped)
    assert r["jsd_bits"] == round(jsd, 4)
    assert (r["n_tokens_a"], r["n_tokens_b"]) == (ta, tb)
    assert (r["vocab_a"], r["vocab_b"]) == (len(ca), len(cb))
    assert r["vocab_shared"] == len(set(ca) & set(cb))
    release(out)

    self_ = corpus_divergence(dfa, dfa)
    assert self_.collect()[0]["jsd_bits"] == 0.0
    release(self_)

    empty = spark.createDataFrame([(9, "")], ["doc_id", "text"])
    deg = corpus_divergence(dfa, empty)
    row = deg.collect()[0]
    assert row["jsd_bits"] == 0.5 and row["n_tokens_b"] == 0
    release(deg)


def test_bigram_logprob_interpolated_lm(spark):
    """Per-doc mean interpolated bigram surprisal vs a host-computed
    reference; sub-2-token docs carry 0 / NULL; shuffled token order
    scores worse than natural order under the bigram term; knob
    validation; release handle."""
    import math
    from collections import Counter

    from dgraph_dbpedia_spark.operators.cachectl import release
    from dgraph_dbpedia_spark.operators.textstats import bigram_logprob

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the cat sat on the mat"),
        (3, "mat the on sat cat the"),  # same tokens, shuffled order
        (4, "one"),
        (5, ""),
    ]
    lam, k = 0.7, 1.0
    docs = [(i, s.split()) for i, s in rows]
    c1 = Counter(t for _, ts in docs for t in ts)
    c2 = Counter(
        (ts[i], ts[i + 1]) for _, ts in docs for i in range(len(ts) - 1)
    )
    cu = Counter()
    for (u, _), c in c2.items():
        cu[u] += c
    T, V = sum(c1.values()), len(c1)

    def ref_bits(ts):
        evs = [(ts[i], ts[i + 1]) for i in range(len(ts) - 1)]
        if not evs:
            return None
        bs = sorted(
            -math.log2(
                lam * (c2[e] + k) / (cu[e[0]] + k * V)
                + (1 - lam) * (c1[e[1]] + k) / (T + k * V)
            )
            for e in evs
        )
        acc = 0.0
        for b in bs:
            acc += b
        return round(acc / len(evs), 4)

    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = bigram_logprob(df, lam=lam, smoothing=k)
    got = {r["doc_id"]: r for r in out.collect()}
    release(out)
    for i, ts in docs:
        assert got[i]["n_bigrams"] == max(len(ts) - 1, 0)
        if len(ts) < 2:
            assert got[i]["bits_per_bigram"] is None
        else:
            assert got[i]["bits_per_bigram"] == ref_bits(ts)
    # the shuffled doc's bigrams are all unseen-order -> higher bits
    assert got[3]["bits_per_bigram"] > got[1]["bits_per_bigram"]

    import pytest

    with pytest.raises(ValueError, match="smoothing"):
        bigram_logprob(df, smoothing=0)
    with pytest.raises(ValueError, match="lam"):
        bigram_logprob(df, lam=1.5)


def test_hashed_doc_embeddings_numpy_twin(spark):
    """Vectors equal the host-side twin (same md5 bucket coin, count
    histogram, L2 norm, round-6); token-less docs carry NULL; plan is
    native (no Python eval)."""
    import math as m

    import pytest

    from dgraph_dbpedia_spark.functions.hashing import hash64_py
    from dgraph_dbpedia_spark.operators.textstats import (
        hashed_doc_embeddings,
    )

    rows = [
        (0, "the cat sat on the mat"),
        (1, "cat cat cat"),
        (2, "   "),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["e"]
        for r in hashed_doc_embeddings(df, dims=8).collect()
    }
    assert len(got) == 4
    assert got[2] is None and got[3] is None

    def coin(tok):
        return hash64_py(tok, seed=9) % 8

    for did, text in rows[:2]:
        hist = [0.0] * 8
        for t in text.split():
            hist[coin(t)] += 1.0
        nrm = m.sqrt(sum(x * x for x in hist))
        exp = [round(x / nrm, 6) + 0.0 for x in hist]
        assert got[did] == pytest.approx(exp, abs=1e-12)

    plan = (
        hashed_doc_embeddings(df, dims=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Python" not in plan

    with pytest.raises(ValueError, match="dims"):
        hashed_doc_embeddings(df, dims=0)


def test_text_dedup_composition_planted_twin(spark):
    """End-to-end model-free dedup pin at unit scale: a doc and its
    near-identical twin (one extra token) score >= 0.95 in the hashed
    space, the pair surfaces through the bucket join, and
    near_dup_filter keeps the LOWER id; an unrelated doc survives."""
    from pyspark.sql import functions as F

    from dgraph_dbpedia_spark.operators.dedup import near_dup_filter
    from dgraph_dbpedia_spark.operators.similarity import (
        cosine_near_dup_pairs,
    )
    from dgraph_dbpedia_spark.operators.textstats import (
        hashed_doc_embeddings,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta " * 4
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " extra"),          # near-dup twin, higher id
            (3, "totally different words unrelated content here"),
        ],
        "doc_id long, text string",
    )
    emb = hashed_doc_embeddings(docs, dims=16).where(
        F.col("e").isNotNull()
    )
    pairs = cosine_near_dup_pairs(
        emb, id_col="doc_id", vec_col="e",
        threshold=0.95, n_planes=1, dims=16,
    )
    got = [(r["a"], r["b"]) for r in pairs.collect()]
    assert (1, 2) in got
    survivors = {
        r["doc_id"] for r in near_dup_filter(docs, pairs).collect()
    }
    assert 1 in survivors and 3 in survivors and 2 not in survivors


def test_token_percentiles_hand_computed(spark):
    """Nearest-rank against a hand-built group: src-a has token counts
    [1,2,3,4,5,6,7,8,9,10] -> p50 = rank ceil(10/2)=5 -> value 5,
    p90 = rank 9 -> 9, p99 = rank ceil(9.9)=10 -> 10; src-b is a
    single doc so every percentile is that doc's count."""
    from dgraph_dbpedia_spark.operators.textstats import token_percentiles

    rows = [
        (i, "src-a", " ".join(["w"] * i)) for i in range(1, 11)
    ] + [(99, "src-b", "x y z")]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    got = {
        r["source"]: r for r in token_percentiles(df).collect()
    }
    a = got["src-a"]
    assert (a["n_docs"], a["total_tokens"], a["max_tokens"]) == (10, 55, 10)
    assert (a["p50_tokens"], a["p90_tokens"], a["p99_tokens"]) == (5, 9, 10)
    b = got["src-b"]
    assert (b["n_docs"], b["total_tokens"], b["max_tokens"]) == (1, 3, 3)
    assert (b["p50_tokens"], b["p90_tokens"], b["p99_tokens"]) == (3, 3, 3)


def test_token_percentiles_rational_rank_not_double_ceil(spark):
    """The 0.9-rounds-up-in-binary trap: with n=10 docs the true p90
    rank is ceil(9) = 9, but IEEE ceil(0.9 * 10) = ceil(9.0000...2)
    = 10 — the rational-rank contract must yield rank 9 (value 9
    above), and a 20-doc group must yield rank 18."""
    from dgraph_dbpedia_spark.operators.textstats import token_percentiles

    rows = [(i, "s", " ".join(["w"] * i)) for i in range(1, 21)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    got = token_percentiles(df, percentiles=(0.9,)).collect()[0]
    assert got["p90_tokens"] == 18  # ceil(0.9*20)=18 exactly; IEEE gives 19


def test_token_percentiles_approx_lane_and_validation(spark):
    """Percentiles outside (0, 1] raise."""
    from dgraph_dbpedia_spark.operators.textstats import token_percentiles

    rows = [(i, "s", " ".join(["w"] * (i % 50 + 1))) for i in range(500)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    with pytest.raises(ValueError, match="percentiles"):
        token_percentiles(df, percentiles=(0.0,))
    with pytest.raises(ValueError, match="percentiles"):
        token_percentiles(df, percentiles=(1.5,))


def test_vocab_growth_hand_computed(spark):
    """ids 0..99, doc i contributes tokens {t0, t<i>}: cut at num/den
    is id 0 + 99*num//den; vocab after cut c = c + 2 unique tokens
    (t0 plus t1..t<c> and doc 0's extra), n_docs = c + 1."""
    from dgraph_dbpedia_spark.operators.textstats import vocab_growth

    rows = [(i, f"t0 t{i}") for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["fraction"]: r for r in vocab_growth(df).collect()}
    assert set(got) == {"1/100", "1/10", "1/4", "1/2", "1/1"}
    # cut ids: 99*1//100=0, 99//10=9, 99//4=24, 99//2=49, 99
    for frac, cut in [
        ("1/100", 0), ("1/10", 9), ("1/4", 24), ("1/2", 49), ("1/1", 99),
    ]:
        r = got[frac]
        assert r["cutoff_id"] == cut
        assert r["n_docs"] == cut + 1
        assert r["n_tokens"] == 2 * (cut + 1)
        # vocab: t0 plus t1..t<cut> (t0 repeats; doc 0 adds only t0)
        assert r["vocab"] == cut + 1, frac
    with pytest.raises(ValueError, match="fractions"):
        vocab_growth(df, fractions=((2, 1),))


def test_vocab_coverage_hand_computed(spark):
    """Vocabulary = top-2 tokens of the ref slice (count desc, token
    asc tie-break at the cut); coverage counts TOKEN MASS, not types."""
    from pyspark.sql import functions as F

    from dgraph_dbpedia_spark.operators.textstats import vocab_coverage

    df = spark.createDataFrame(
        [
            (1, "ref", "a a a b b c"),   # ref counts: a3 b2 c1
            (2, "x", "a b c d"),         # covered a,b -> 2/4
            (3, "y", "a a a a"),         # covered 4/4
            (4, "z", "d e f"),           # covered 0/3
        ],
        ["doc_id", "source", "text"],
    )
    got = {
        r["source"]: r
        for r in vocab_coverage(
            df.where(F.col("source") != "ref"),
            ref=df.where(F.col("source") == "ref"),
            vocab_size=2,
        ).collect()
    }
    assert (got["x"]["n_tokens"], got["x"]["covered"], got["x"]["oov"]) == (4, 2, 2)
    assert got["x"]["coverage_rate"] == 0.5
    assert (got["y"]["covered"], got["y"]["coverage_rate"]) == (4, 1.0)
    assert (got["z"]["covered"], got["z"]["coverage_rate"]) == (0, 0.0)


def test_vocab_coverage_tie_break_and_self_ref(spark):
    """At the vocabulary cut, equal counts break by token ASC ('b'
    enters, 'c' stays out); ref=None audits the frame against its own
    head vocabulary."""
    import pytest as _pytest

    from dgraph_dbpedia_spark.operators.textstats import vocab_coverage

    df = spark.createDataFrame(
        [(1, "s", "a a b c")], ["doc_id", "source", "text"]
    )
    got = vocab_coverage(df, vocab_size=2).collect()[0]
    # vocab = {a(2), b(1)} (b beats c on the asc tie) -> covered 3/4
    assert (got["n_tokens"], got["covered"]) == (4, 3)
    assert got["coverage_rate"] == 0.75
    with _pytest.raises(ValueError, match="vocab_size"):
        vocab_coverage(df, vocab_size=0)


def test_text_dedup_cid_composition_planted_twin(spark):
    """The registered r13 composition shape (SemDeDup cid equi-join
    over hashed vectors): the planted twin pair surfaces through the
    WITHIN-CLUSTER join — near-identical vectors share a nearest seed
    centroid — and near_dup_filter keeps the lower id; the unrelated
    doc survives."""
    from pyspark.sql import functions as F

    from dgraph_dbpedia_spark.operators.dedup import near_dup_filter
    from dgraph_dbpedia_spark.operators.similarity import (
        semantic_dedup_pairs,
    )
    from dgraph_dbpedia_spark.operators.textstats import (
        hashed_doc_embeddings,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta " * 4
    docs = spark.createDataFrame(
        [
            # ids 1-2 are the k=2 seed centroids; the twins sit at
            # higher ids so they assign to a seed rather than to
            # themselves (a seed always self-assigns at cosine 1.0 —
            # the SemDeDup seed artifact a twin PAIR of seeds hits)
            (1, base),
            (2, "totally different words unrelated content here"),
            (10, base + " extra"),          # twin of doc 1 / doc 11
            (11, base + " extra more"),
        ],
        "doc_id long, text string",
    )
    emb = hashed_doc_embeddings(docs, dims=16).where(
        F.col("e").isNotNull()
    )
    pairs = semantic_dedup_pairs(
        emb, threshold=0.95, n_centroids=2, id_col="doc_id", vec_col="e"
    )
    got = [(r["a"], r["b"]) for r in pairs.collect()]
    # both twins assign to seed 1's cluster, so the (1, 10) and
    # (10, 11) near-dup pairs both surface through the cid join
    assert (1, 10) in got and (10, 11) in got
    survivors = {
        r["doc_id"] for r in near_dup_filter(docs, pairs).collect()
    }
    assert survivors == {1, 2}


def test_token_percentiles_excludes_null_text(spark):
    """A null-text row is not length-gradable: it must not shift the
    ranks (Spark windows order NULLS FIRST, the oracle NULLS LAST —
    r13 review) and n_docs counts measurable docs only; reserved
    column names raise."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from dgraph_dbpedia_spark.operators.textstats import token_percentiles

    rows = [(i, "s", " ".join(["w"] * i)) for i in range(1, 11)]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )
    with_null = df.unionByName(
        spark.createDataFrame(
            [(99, "s", None)], "doc_id long, source string, text string"
        )
    )
    a = token_percentiles(df).collect()[0]
    b = token_percentiles(with_null).collect()[0]
    assert a == b  # identical distribution, null row invisible
    assert b["n_docs"] == 10
    with _pytest.raises(ValueError, match="reserved"):
        token_percentiles(df.withColumn("__nt", F.lit(1)))


def test_vocab_growth_empty_corpus_zeros(spark):
    """An EMPTY corpus reports 0 docs/tokens/vocab per fraction (not
    NULLs — Spark's global sum over zero rows is NULL while the
    DuckDB oracle's count(*)/coalesce(sum, 0) yield 0; ADVICE r13).
    Cutoff ids stay NULL on both engines (no id range exists)."""
    from dgraph_dbpedia_spark.operators.textstats import vocab_growth

    empty = spark.createDataFrame([], "doc_id long, text string")
    rows = vocab_growth(empty).collect()
    assert len(rows) == 5
    for r in rows:
        assert (r["n_docs"], r["n_tokens"], r["vocab"]) == (0, 0, 0)
        assert r["cutoff_id"] is None


# ---------------------------------------------------------------------------
# r15: filter_attrition_report


def test_filter_attrition_report_matches_gate(spark):
    """The funnel's invariants against gopher_quality_filter itself
    (one definition): last row's n_remaining == the gate's keep
    count; sum of marginals == total - survivors; each rule's
    isolation count >= its marginal count; rows come back in gate
    order 1..6."""
    from dgraph_dbpedia_spark.operators.textstats import (
        filter_attrition_report,
        gopher_quality_filter,
    )

    # a spread of docs: too short, prose-like, no stopwords, long words
    rows = [
        (1, "the cat sat on the mat and it is that for " * 12),
        (2, "word"),
        (3, "zz qq ww ee rr tt yy uu " * 20),
        (4, "pneumonoultramicroscopics " * 60),
        (5, "the of and to in a is that for it " + "normal words here " * 30),
        (6, ""),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    kw = dict(min_words=10, max_words=200, min_mean_word_len=2.0,
              max_mean_word_len=12.0, min_alpha_word_ratio=0.8,
              min_stopwords=2)
    rep = filter_attrition_report(docs, **kw).collect()
    assert [r["rule_order"] for r in rep] == [1, 2, 3, 4, 5, 6]
    assert [r["rule"] for r in rep] == [
        "words_min", "words_max", "mean_word_len_min",
        "mean_word_len_max", "alpha_word_ratio", "stopwords",
    ]
    keep_n = gopher_quality_filter(docs, **kw).where("keep").count()
    assert rep[-1]["n_remaining"] == keep_n
    assert sum(r["n_failed_marginal"] for r in rep) == len(rows) - keep_n
    for r in rep:
        assert r["n_failed"] >= r["n_failed_marginal"]
    # n_remaining is monotone non-increasing from the corpus size
    rem = [len(rows)] + [r["n_remaining"] for r in rep]
    assert all(a >= b for a, b in zip(rem, rem[1:]))


def test_filter_attrition_report_empty_corpus(spark):
    """Empty corpus: six rows, all-zero counters (coalesce'd sums —
    the vocab_growth lesson), not NULLs."""
    from dgraph_dbpedia_spark.operators.textstats import (
        filter_attrition_report,
    )

    docs = spark.createDataFrame([], "doc_id long, text string")
    rep = filter_attrition_report(docs).collect()
    assert len(rep) == 6
    for r in rep:
        assert (r["n_failed"], r["n_failed_marginal"], r["n_remaining"]) == (
            0, 0, 0,
        )


def test_token_bucket_histogram_hand_buckets(spark):
    """Docs of 0/1/2/3/4/7/8 tokens land in buckets [0,0], [1,1],
    [2,3]x2, [4,7]x2, [8,15]; token sums per bucket are exact."""
    from dgraph_dbpedia_spark.operators.textstats import (
        token_bucket_histogram,
    )

    def doc(i, n):
        return (i, " ".join(["w"] * n))

    docs = spark.createDataFrame(
        [doc(1, 0), doc(2, 1), doc(3, 2), doc(4, 3), doc(5, 4),
         doc(6, 7), doc(7, 8)],
        ["doc_id", "text"],
    )
    got = {
        r["bucket_lo"]: r.asDict()
        for r in token_bucket_histogram(docs).collect()
    }
    assert set(got) == {0, 1, 2, 4, 8}
    assert got[0] == {"bucket_lo": 0, "bucket_hi": 0, "n_docs": 1,
                      "n_tokens": 0}
    assert got[1]["n_docs"] == 1 and got[1]["bucket_hi"] == 1
    assert got[2] == {"bucket_lo": 2, "bucket_hi": 3, "n_docs": 2,
                      "n_tokens": 5}
    assert got[4] == {"bucket_lo": 4, "bucket_hi": 7, "n_docs": 2,
                      "n_tokens": 11}
    assert got[8]["n_docs"] == 1 and got[8]["bucket_hi"] == 15
