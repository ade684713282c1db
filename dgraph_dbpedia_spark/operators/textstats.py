"""Text analysis operators for training-data curation.

Extension surface (SURVEY §7.8): language-ID (stopword n-gram
heuristic), quality scoring (length / punctuation / stopword ratios),
token counting (whitespace + BPE-ish regex), and document
fingerprinting (min-hash of character shingles — a rolling-hash
equivalent that is cross-engine checkable).

All native expressions; each operator is one narrow projection over the
documents table, so Catalyst prunes the scan to (id, text) and the whole
stage is codegen — the 100 TB cost is the scan itself.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dgraph_dbpedia_spark.functions.hashing import hash64, tokens
from dgraph_dbpedia_spark.operators.cachectl import CacheScope, persisted_frames

# Tiny per-language stopword profiles for the n-gram/stopword heuristic.
# Deliberately small and public-knowledge; the operator's contract is
# deterministic scoring, not linguistic accuracy.
STOPWORDS = {
    "en": ["the", "of", "and", "to", "in", "a", "is", "that", "for", "it"],
    "de": ["der", "die", "das", "und", "in", "den", "von", "zu", "mit", "ist"],
    "fr": ["le", "la", "les", "de", "des", "et", "en", "un", "une", "est"],
    "es": ["el", "la", "los", "de", "que", "y", "en", "un", "una", "es"],
}

# GPT-2-style pre-tokenizer shape: word pieces, numbers, punctuation runs
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r\f\x0B]+"


def language_id(df: DataFrame) -> DataFrame:
    """Best-guess language by stopword-hit count; deterministic
    tie-break = lexicographic language code. Returns
    ``(id, lang_guess, hits)``.

    Fixed columns: id ``doc_id``, text ``text``."""
    # materialize tokens once; repeated references to the raw tokenize
    # expression would re-run the split per stopword list
    df = df.select(F.col("doc_id"), tokens(F.lower(F.col("text"))).alias("__toks"))
    toks = F.col("__toks")
    scores = [
        (lang, F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))))
        for lang, words in sorted(STOPWORDS.items())
    ]
    best_hits = F.greatest(*[s for _, s in scores])
    guess = F.lit(None).cast("string")
    # first (lexicographic) language achieving the max wins
    for lang, s in reversed(scores):
        guess = F.when(s == best_hits, F.lit(lang)).otherwise(guess)
    # zero evidence in EVERY profile = unidentifiable, not 'de' (the
    # lexicographic tie-break would otherwise label every stopword-free
    # doc — CJK, mojibake, id dumps — with the first profile)
    guess = F.when(best_hits > 0, guess)
    return df.select(
        F.col("doc_id"), guess.alias("lang_guess"), best_hits.alias("hits")
    )


def quality_score(df: DataFrame) -> DataFrame:
    """Heuristic quality features + a [0,1] composite. Returns
    ``(id, n_chars, n_tokens, mean_token_len, punct_ratio,
    stopword_ratio, score)``.

    Fixed columns: id ``doc_id``, text ``text``."""
    df = df.select(
        F.col("doc_id"), F.col("text"), tokens(F.col("text")).alias("__toks")
    )
    text = F.col("text")
    toks = F.col("__toks")
    n_chars = F.length(text)
    n_tokens = F.size(toks)
    # sum of WORD lengths, not n_chars: whitespace runs would otherwise
    # inflate the mean and decide the score band (the
    # gopher_quality_filter rule, applied here too)
    word_chars = F.aggregate(
        toks, F.lit(0), lambda a, t: a + F.length(t)
    )
    mean_tok = F.round(word_chars / F.greatest(n_tokens, F.lit(1)), 4)
    n_punct = F.length(F.regexp_replace(text, r"[^!-/:-@\[-`{-~]", ""))
    punct_ratio = F.round(n_punct / F.greatest(n_chars, F.lit(1)), 4)
    en_stop = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    stop_ratio = F.round(
        F.size(F.array_intersect(toks, en_stop)) / F.greatest(n_tokens, F.lit(1)), 4
    )
    # composite: long enough, words not too long/short, little punctuation
    score = F.round(
        F.when(n_tokens >= 5, 1.0).otherwise(n_tokens / 5.0)
        * F.when((mean_tok >= 3) & (mean_tok <= 10), 1.0).otherwise(0.5)
        * (1 - F.least(punct_ratio * 2, F.lit(1.0))),
        4,
    )
    return df.select(
        F.col("doc_id"),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        mean_tok.alias("mean_token_len"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        score.alias("score"),
    )


def token_counts(df: DataFrame) -> DataFrame:
    """Whitespace and BPE-ish token counts. Returns
    ``(id, n_ws_tokens, n_bpe_tokens)``.

    Fixed columns: id ``doc_id``, text ``text``."""
    return df.select(
        F.col("doc_id"),
        F.size(tokens(F.col("text"))).alias("n_ws_tokens"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(BPE_ISH_PATTERN), 0)
        ).alias("n_bpe_tokens"),
    )


def bm25_topk(df: DataFrame, query_terms: list[str], k: int = 10) -> DataFrame:
    """BM25 relevance top-k over a document table (Lucene-style
    ``ln(1 + (N - df + 0.5)/(df + 0.5))`` idf) — the keyword-relevance
    scorer a corpus-curation pipeline uses to mine topical subsets.

    Returns ``(doc_id, score)`` for the ``k`` best-matching documents,
    score rounded to 4 decimals, ties broken by ``doc_id`` ascending.

    100 TB shape: the query-term set is a small literal, so per-term
    term frequencies are computed NATIVELY inside the row (``F.filter``
    over the token array) — no explode, no (doc, term) shuffle. The only
    exchange is a single 1-row global aggregate (N, avgdl, per-term df)
    broadcast back onto the scan, and the top-k is TakeOrdered, not a
    global sort. Cost = two pruned (id, text) passes — one for the
    corpus stats, one for scoring; a production deployment precomputes
    the stats row once per corpus snapshot and scores in a single pass.

    Fixed columns: id ``doc_id``, text ``text``."""
    terms = sorted({t.lower() for t in query_terms})
    if not terms:
        raise ValueError("query_terms must be non-empty")
    scored, term_score = _bm25_scored(df, terms)
    parts = [term_score(i) for i in range(len(terms))]
    score = F.round(sum(parts[1:], parts[0]), 4)
    return (
        scored.select("doc_id", score.alias("score"))
        .where(F.col("score") > 0)
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def _bm25_scored(df, union_terms):
    """Shared BM25 core (single + batch): per-row native tf columns for
    every term, the 1-row broadcast stats aggregate, and a
    ``term_score(i) -> Column`` builder. ONE definition of the formula —
    the single/batch operators and the shared DuckDB oracle stay
    bit-aligned by construction. BM25 ``k1 = 1.2``, ``b = 0.75``.

    Fixed columns: id ``doc_id``, text ``text``."""
    k1, b = 1.2, 0.75
    base = df.select(
        F.col("doc_id").alias("doc_id"),
        tokens(F.lower(F.col("text"))).alias("__toks"),
    )
    toks = F.col("__toks")

    # NB: a 2-arg lambda would make F.filter pass (element, index) — a
    # default-arg closure trick here silently compares tokens to the
    # array index; bind the term via a real closure instead
    def _tf(w: str):
        return F.size(F.filter(toks, lambda t: t == F.lit(w)))

    feat = base.select(
        "doc_id",
        F.size(toks).alias("dl"),
        *[_tf(w).alias(f"__tf_{i}") for i, w in enumerate(union_terms)],
    )
    stats = feat.agg(
        F.count(F.lit(1)).alias("__n_docs"),
        F.avg("dl").alias("__avgdl"),
        *[
            F.sum((F.col(f"__tf_{i}") > 0).cast("long")).alias(f"__df_{i}")
            for i in range(len(union_terms))
        ],
    )
    scored = feat.crossJoin(F.broadcast(stats))
    n_docs = F.col("__n_docs")
    norm = 1 - b + b * F.col("dl") / F.col("__avgdl")

    def term_score(i: int):
        return (
            F.log(
                1
                + (n_docs - F.col(f"__df_{i}") + 0.5) / (F.col(f"__df_{i}") + 0.5)
            )
            * (F.col(f"__tf_{i}") * (k1 + 1))
            / (F.col(f"__tf_{i}") + k1 * norm)
        )

    return scored, term_score


def bm25_topk_batch(
    df: DataFrame,
    queries: dict[str, list[str]],
    k: int = 10,
) -> DataFrame:
    """BM25 top-k for MANY keyword queries in one plan — corpus mining
    runs hundreds of topical probes; issuing them as one job costs one
    scan instead of one per query.

    Returns ``(query_id, doc_id, score)``; per query, the ``k`` best
    docs, score rounded to 4 decimals, ties broken by ``doc_id``.

    100 TB shape: term frequencies for the UNION of all query terms are
    computed natively per row (no explode of the corpus), the 1-row
    global stats aggregate is broadcast back, per-query scores are
    unpivoted with ``stack`` (rows = docs x queries with a hit, after
    the score>0 filter), and the only real shuffle is the per-query
    top-k window over that already-small hit set.

    Fixed columns: id ``doc_id``, text ``text``."""
    if not queries:
        raise ValueError("queries must be non-empty")
    qterms = {
        qid: sorted({t.lower() for t in terms}) for qid, terms in queries.items()
    }
    if any(not t for t in qterms.values()):
        raise ValueError("every query needs at least one term")
    union_terms = sorted({w for terms in qterms.values() for w in terms})
    idx = {w: i for i, w in enumerate(union_terms)}
    scored, term_score = _bm25_scored(df, union_terms)

    def query_score(terms: list[str]):
        parts = [term_score(idx[w]) for w in terms]
        return F.round(sum(parts[1:], parts[0]), 4)

    # unpivot to (query_id, score) rows via stack: one projection, no
    # join, no repeated scans
    sel = scored.select(
        "doc_id",
        *[c for qid_i, qid in enumerate(sorted(qterms)) for c in (
            F.lit(qid).alias(f"q{qid_i}"),
            query_score(qterms[qid]).alias(f"s{qid_i}"),
        )],
    )
    unpivoted = sel.select(
        "doc_id",
        F.expr(
            f"stack({len(qterms)}, "
            + ", ".join(f"q{i}, s{i}" for i in range(len(qterms)))
            + ") as (query_id, score)"
        ),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        unpivoted.where(F.col("score") > 0)
        .withColumn("__rank", F.row_number().over(w))
        .where(F.col("__rank") <= k)
        .select("query_id", "doc_id", "score")
    )


def fingerprint(df: DataFrame, char_window: int = 16, stride: int = 8) -> DataFrame:
    """Content fingerprint: minimum hash over strided character windows
    (winnowing-style). Equal fingerprints => near-identical prefixes of
    content; robust to small whitespace edits when stride < window.
    Returns ``(id, fp)``.

    Fixed columns: id ``doc_id``, text ``text``."""
    if char_window < 1:
        raise ValueError(f"char_window must be >= 1, got {char_window}")
    if stride < 1:
        raise ValueError(f"stride must be >= 1, got {stride}")
    text = F.col("text")
    # explicit floor: engines disagree on double->int cast rounding
    n_windows = F.greatest(
        F.floor((F.length(text) - char_window) / stride).cast("int") + 1, F.lit(1)
    )
    windows = F.transform(
        F.sequence(F.lit(0), n_windows - 1),
        lambda i: text.substr(i * stride + 1, F.lit(char_window)),
    )
    fp = F.array_min(F.transform(windows, lambda w: hash64(w)))
    return df.select(F.col("doc_id"), fp.alias("fp"))


def frequent_ngrams(df: DataFrame, k: int = 20) -> DataFrame:
    """Top-k most frequent token n-grams across the corpus — the
    boilerplate-discovery probe that feeds :func:`..dedup.paragraph_dedup`
    / ``max_shingle_freq`` tuning. Returns ``(ngram, n_docs)`` ordered by
    count desc (ties broken by ngram asc, so top-k is deterministic).

    Counts DOCUMENT frequency (an n-gram repeated inside one doc counts
    once — the boilerplate signal). Documents shorter than
    3 tokens contribute ONE whole-text pseudo-n-gram (the package's
    shingle convention — short boilerplate like a bare "Login" doc
    still surfaces, but note it ranks among the true n-grams).

    Scale shape: explode n-grams -> groupBy count -> TakeOrdered. The
    count is partially aggregable, so a stop-phrase present in every
    document combines map-side instead of hot-keying the shuffle, and
    2 drops the long singleton tail before the final top-k
    ordering. One shuffle, bounded by distinct-ngram cardinality; the
    full distinct-ngram set is never collected or sorted globally
    (TakeOrdered keeps k per partition).

    Fixed columns: id ``doc_id``, text ``text``."""
    toks = df.select(F.col("doc_id"), tokens(F.col("text")).alias("toks"))
    n_sh = F.greatest(F.size("toks") - (3 - 1), F.lit(1))
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n_sh),
            lambda i: F.concat_ws(" ", F.slice("toks", i, 3)),
        )
    )
    # inline(array(struct)) barrier: exploding a non-foldable computed
    # array trips InferFiltersFromGenerate into re-deriving the whole
    # gram expression inside a pushed filter (the 15x trap measured on
    # the shingle fold, BENCH_SCALE.md r9)
    exploded = (
        toks.select(F.inline(F.array(F.struct(grams.alias("grams")))))
        .select(F.explode("grams").alias("ngram"))
        .where(F.col("ngram") != "")
    )
    return (
        exploded.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), F.col("ngram"))
        .limit(k)
    )


def tfidf_topk_terms(df: DataFrame, k: int = 10, min_df: int = 1) -> DataFrame:
    """Per-document top-k keyword terms by tf-idf — the classic
    keyword-extraction / topical-tagging probe of corpus mining
    (surface a document's distinguishing vocabulary; feed topical
    routing, faceted browse, or a cheap relevance prior). Terms are
    lowercased whitespace tokens (the bm25 convention); idf is the
    sklearn-style smooth form ``ln((1 + N) / (1 + df)) + 1`` (never
    zero, never divides by zero) with raw term count as tf. Returns
    ``(id, term, score)`` — per document the ``k`` best terms, score
    rounded to 4 decimals, ties broken by term ascending.
    ``min_df`` drops hapax noise before scoring.

    100 TB shape: ONE token explode feeding two partially-aggregable
    counts — per-(doc, term) tf, then per-term document frequency
    derived FROM the tf frame (no second corpus pass); the corpus size
    rides a broadcast 1-row frame (the X6 pattern); the idf join is on
    the term key (vocab-bounded, never collected or broadcast); and
    the final top-k is a per-doc window over the already-counted
    frame. No UDF anywhere. The tf frame feeds BOTH the df aggregate
    and the join's left side, so it is persisted (Spark shares no
    subplans across join branches — without the cache the corpus
    explode runs twice); the result carries the release handle
    (cachectl).

    Fixed columns: id ``doc_id``, text ``text``."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if min_df < 1:
        raise ValueError(f"min_df must be >= 1, got {min_df}")
    from pyspark.sql import Window

    base = df.select(
        F.col("doc_id"),
        F.explode(tokens(F.lower(F.col("text")))).alias("term"),
    )
    with CacheScope() as scope:
        tf = scope.persist(
            base.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
        )
        dfc = tf.groupBy("term").agg(F.count(F.lit(1)).alias("__df"))
        if min_df > 1:
            dfc = dfc.where(F.col("__df") >= min_df)
        n = df.groupBy().agg(F.count(F.lit(1)).alias("__n"))
        score = F.round(
            F.col("tf")
            * (
                F.log((F.lit(1) + F.col("__n")) / (F.lit(1) + F.col("__df")))
                + F.lit(1.0)
            ),
            4,
        )
        scored = (
            tf.join(dfc, "term")
            .crossJoin(F.broadcast(n))
            .select(F.col("doc_id"), "term", score.alias("score"))
        )
        w = Window.partitionBy("doc_id").orderBy(
            F.col("score").desc(), F.col("term").asc()
        )
        out = (
            scored.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= k)
            .drop("__rn")
        )
        return scope.hand(out, tf)


def gopher_quality_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_alpha_word_ratio: float = 0.8,
    min_stopwords: int = 2,
) -> DataFrame:
    """Gopher-style rule-based quality gate (Rae et al. 2021, §A1.1):
    per-document rule flags plus the composite ``keep``. Returns
    ``(id, n_words, mean_word_len, alpha_word_ratio, n_stopwords,
    keep)`` for EVERY input row — filtering is the caller's
    ``.where("keep")`` so rejected docs remain auditable (which rule
    fired is recoverable from the feature columns).

    Rules: word count in [min_words, max_words]; mean word length in
    [min, max]; fraction of words containing at least one alphabetic
    character >= min_alpha_word_ratio; at least ``min_stopwords``
    distinct common stopwords present (the "real prose" test —
    case-INSENSITIVE, like :func:`language_id`: a title-cased header
    "The ... It Is" still counts its stopwords).
    The line/bullet/ellipsis rules of the paper need line structure the
    ingest corpus may not carry — they belong in a pre-split pass.

    Pure native projection: one pass, no shuffle, no UDF; mean word
    length is over WORD lengths (not chars/words — whitespace runs
    would skew it), computed with a single aggregate over the token
    array."""
    toks = tokens(F.col(text_col))
    base = df.select(F.col(id_col), toks.alias("__toks"))
    t = F.col("__toks")
    n_words = F.size(t)
    sum_len = F.aggregate(
        t, F.lit(0).cast("bigint"), lambda acc, w: acc + F.length(w)
    )
    mean_len = F.round(sum_len / F.greatest(n_words, F.lit(1)), 4)
    n_alpha = F.size(F.filter(t, lambda w: w.rlike("[A-Za-z]")))
    alpha_ratio = F.round(n_alpha / F.greatest(n_words, F.lit(1)), 4)
    en_stop = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    n_stop = F.size(
        F.array_intersect(F.transform(t, lambda w: F.lower(w)), en_stop)
    )
    keep = (
        (n_words >= min_words)
        & (n_words <= max_words)
        & (mean_len >= min_mean_word_len)
        & (mean_len <= max_mean_word_len)
        & (alpha_ratio >= min_alpha_word_ratio)
        & (n_stop >= min_stopwords)
    )
    return base.select(
        F.col(id_col),
        n_words.alias("n_words"),
        mean_len.alias("mean_word_len"),
        alpha_ratio.alias("alpha_word_ratio"),
        n_stop.alias("n_stopwords"),
        keep.alias("keep"),
    )


def token_bucket_histogram(df: DataFrame) -> DataFrame:
    """Power-of-two token-length histogram (r15): the length
    distribution a packing/context-window decision reads — one row
    per occupied log2 bucket::

        (bucket_lo, bucket_hi, n_docs, n_tokens)

    where a document with ``n >= 1`` tokens lands in ``[2^floor(log2
    n), 2^(floor(log2 n)+1) - 1]`` and empty documents occupy the
    ``[0, 0]`` bucket. All-integer output — the bucket edge is
    ``2^(bit_length(n) - 1)`` computed with exact integer/bit
    arithmetic (``length(bin(n))``, the registry's standing
    bit-length recipe), never ``floor(log2(double))`` whose last-ulp
    behavior at exact powers of two differs between engines.

    100 TB shape: one partial-aggregable groupBy over a scan-fused
    projection; output bounded by ~64 buckets. No UDF, no second
    pass.

    Fixed columns: id ``doc_id``, text ``text``."""
    n = F.size(tokens(F.col("text")))
    # SQL-expr shiftleft: the Python-side F.shiftleft only accepts a
    # literal int bit count, not a column expression
    lo = F.when(F.col("__n") <= 0, F.lit(0).cast("long")).otherwise(
        F.expr("shiftleft(CAST(1 AS BIGINT), length(bin(__n)) - 1)")
    )
    return (
        df.select(F.col("doc_id"), n.alias("__n"))
        .select(F.col("doc_id"), "__n", lo.alias("bucket_lo"))
        .groupBy("bucket_lo")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(F.sum("__n"), F.lit(0)).cast("long").alias("n_tokens"),
        )
        .select(
            "bucket_lo",
            F.when(F.col("bucket_lo") == 0, F.lit(0).cast("long"))
            .otherwise(F.col("bucket_lo") * 2 - 1)
            .alias("bucket_hi"),
            "n_docs",
            "n_tokens",
        )
    )


def filter_attrition_report(
    df: DataFrame,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_stopwords: int = 2,
) -> DataFrame:
    """Per-rule attrition funnel for the Gopher-style quality gate
    (r15): the curation-observability report every large filtering
    run needs before anyone trusts ``keep`` — which rule removes how
    much, both in isolation and marginally in gate order (a rule
    whose marginal kill count is ~0 is redundant; one that removes
    40% of the corpus needs eyes before the run). Returns ONE row per
    rule, in gate order::

        (rule, rule_order, n_failed, n_failed_marginal, n_remaining)

    where ``n_failed`` counts documents failing the rule in
    isolation, ``n_failed_marginal`` counts documents that pass every
    EARLIER rule and fail this one (the docs this rule alone removes
    from the surviving set), and ``n_remaining`` is the surviving
    count after rules ``1..rule_order``. The last row's
    ``n_remaining`` equals ``df.where('keep').count()`` of
    :func:`gopher_quality_filter` by construction — the rule
    thresholds are applied to that function's OWN feature columns
    (one definition: this report can never disagree with the gate it
    audits).

    100 TB shape: one partial-aggregable global aggregate over
    per-document booleans (map-side combine reduces every partition
    to a single 13-counter row before the 1-row shuffle); the
    per-rule explode runs on the single aggregated row. No UDF, no
    second pass over the text.

    Fixed: the alpha-word-ratio floor 0.8; columns id ``doc_id``, text
    ``text``."""
    feats = gopher_quality_filter(
        df,
        min_words=min_words,
        max_words=max_words,
        min_mean_word_len=min_mean_word_len,
        max_mean_word_len=max_mean_word_len,
        min_stopwords=min_stopwords,
    )
    rules = [
        ("words_min", F.col("n_words") >= F.lit(min_words)),
        ("words_max", F.col("n_words") <= F.lit(max_words)),
        (
            "mean_word_len_min",
            F.col("mean_word_len") >= F.lit(float(min_mean_word_len)),
        ),
        (
            "mean_word_len_max",
            F.col("mean_word_len") <= F.lit(float(max_mean_word_len)),
        ),
        (
            "alpha_word_ratio",
            F.col("alpha_word_ratio") >= F.lit(0.8),
        ),
        ("stopwords", F.col("n_stopwords") >= F.lit(min_stopwords)),
    ]
    aggs = [F.count(F.lit(1)).alias("_n")]
    passed_so_far = F.lit(True)
    for i, (_, cond) in enumerate(rules):
        # coalesce(sum, 0): an EMPTY corpus must report 0, not NULL
        # (the vocab_growth lesson, ADVICE r13)
        aggs.append(
            F.coalesce(F.sum((~cond).cast("long")), F.lit(0)).alias(f"_f{i}")
        )
        aggs.append(
            F.coalesce(
                F.sum((passed_so_far & ~cond).cast("long")), F.lit(0)
            ).alias(f"_m{i}")
        )
        passed_so_far = passed_so_far & cond
    one = feats.agg(*aggs)
    cum = F.lit(0).cast("long")
    rows = []
    for i, (name, _) in enumerate(rules):
        cum = cum + F.col(f"_m{i}")
        rows.append(
            F.struct(
                F.lit(name).alias("rule"),
                F.lit(i + 1).cast("long").alias("rule_order"),
                F.col(f"_f{i}").cast("long").alias("n_failed"),
                F.col(f"_m{i}").cast("long").alias("n_failed_marginal"),
                (F.col("_n") - cum).cast("long").alias("n_remaining"),
            )
        )
    return one.select(F.explode(F.array(*rows)).alias("_r")).select("_r.*")


def unigram_logprob(df: DataFrame, smoothing: float = 1.0) -> DataFrame:
    """LM-perplexity quality proxy WITHOUT an external model (the
    CCNet idea, self-trained): fit a unigram model on the corpus
    itself (token -> count, add-k smoothed), then score every document
    by its mean token surprisal in bits. Natural prose full of common
    tokens scores low; rare-token soup (mojibake, id dumps, exotic
    boilerplate) scores high — filter with ``.where("bits_per_token >
    cutoff")`` or feed
    :func:`~dgraph_dbpedia_spark.operators.sampling.weighted_sample`.
    Returns ``(id, n_tokens, bits_per_token)`` (empty docs: 0 tokens,
    NULL bits).

    p(t) = (count(t) + k) / (total + k * |V|); bits = -log2 p.

    100 TB shape: the model is a partial-aggregable groupBy over
    exploded tokens, PERSISTED because it feeds both the scalar
    aggregate and the score join (no cross-branch subplan sharing —
    unpersisted, the corpus-wide explode+groupBy would run per
    branch); scoring re-joins docs to the model ON THE TOKEN KEY — the
    vocabulary is never collected or broadcast (corpus-scale vocab
    exceeds any driver/executor), and both shuffles are bounded by
    total token count. The two global scalars (total, |V|) ride a
    broadcast 1-row crossJoin, the X6 pattern. The result carries the
    model's release handle (cachectl.release after materializing).

    Determinism: the per-doc mean folds the SORTED per-token bits
    sequentially (sort_array + aggregate), not F.avg — a plain float
    avg sums in post-shuffle row order, and float addition is
    non-associative, so the rounded 4th decimal could flip between
    runs or versus the oracle's own summation order.

    Fixed columns: id ``doc_id``, text ``text``."""
    if smoothing <= 0:
        raise ValueError(f"smoothing must be > 0, got {smoothing}")
    toked = df.select(
        F.col("doc_id"), F.explode(tokens(F.col("text"))).alias("tok")
    )
    with CacheScope() as scope:
        model = scope.persist(toked.groupBy("tok").agg(F.count(F.lit(1)).alias("c")))
        scalars = model.agg(
            F.sum("c").alias("__total"), F.count(F.lit(1)).alias("__vocab")
        )
        bits = -F.log2(
            (F.col("c") + F.lit(float(smoothing)))
            / (F.col("__total") + F.lit(float(smoothing)) * F.col("__vocab"))
        )
        scored = (
            toked.join(model, "tok")
            .crossJoin(F.broadcast(scalars))
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_tokens"),
                F.sort_array(F.collect_list(bits)).alias("__bits"),
            )
            .select(
                F.col("doc_id"),
                F.col("n_tokens"),
                F.round(
                    F.aggregate("__bits", F.lit(0.0), lambda a, x: a + x)
                    / F.col("n_tokens"),
                    4,
                ).alias("bits_per_token"),
            )
        )
        # left join: documents with zero tokens still get a row
        out = (
            df.select(F.col("doc_id"))
            .join(scored, "doc_id", "left")
            .select(
                F.col("doc_id"),
                F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
                F.col("bits_per_token"),
            )
        )
        return scope.hand(out, model)


def perplexity_buckets(df: DataFrame, n_buckets: int = 3) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al., LREC 2020 §4.3:
    rank each language's documents by LM perplexity, split into
    head/middle/tail, train on head+middle): documents are scored by
    :func:`unigram_logprob` surprisal and assigned a per-``lang``
    quantile bucket 1..``n_buckets`` (1 = lowest bits/token = the
    CCNet "head"). Returns ``(id, group, n_tokens, bits_per_token,
    bucket)``; filter ``bucket < n_buckets`` to drop the tail.
    Zero-token documents (NULL bits) always land in the LAST bucket —
    explicitly, not via engine-specific NULL ordering.

    Buckets come from ``ntile`` over a per-group window — exact
    quantiles, deterministic (ties broken by id), DuckDB-replayable;
    its sort is per-group, so at corpus scale one giant language is a
    hot window partition. The result carries unigram_logprob's model
    release handle (cachectl.release after materializing).

    Fixed columns: group ``lang``, id ``doc_id``, text ``text``."""
    from pyspark.sql import Window

    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    with CacheScope() as scope:
        scored = unigram_logprob(df, 1.0)
        gcols = ["lang"]
        # persisted: base feeds two branches (ranked + nulls union) —
        # unpersisted, the corpus-wide token scoring would re-run per
        # branch (the unigram_logprob docstring's no-cross-branch-sharing
        # rule). Rides the result's release handle.
        base = scope.persist(
            df.select(F.col("doc_id"), *[F.col(c) for c in gcols]).join(scored, "doc_id")
        )
        w = Window.partitionBy(
            *[F.col(c) for c in gcols]
        ).orderBy(F.col("bits_per_token").asc(), F.col("doc_id").asc())
        # NULL bits are excluded from the ntile ranking entirely and
        # pinned to the last bucket: engines disagree on NULL sort
        # position (Spark NULLS FIRST vs DuckDB NULLS LAST on ASC),
        # and a null doc inside the ntile would also shift every
        # other bucket boundary by engine
        ranked = base.where(F.col("bits_per_token").isNotNull()).withColumn(
            "bucket", F.ntile(n_buckets).over(w)
        )
        nulls = base.where(F.col("bits_per_token").isNull()).withColumn(
            "bucket", F.lit(n_buckets)
        )
        out = ranked.unionByName(nulls).select(
            F.col("doc_id"), *gcols, "n_tokens", "bits_per_token", "bucket"
        )
        return scope.hand(out, base, *persisted_frames(scored))


def bigram_logprob(
    df: DataFrame,
    smoothing: float = 1.0,
    lam: float = 0.7,
) -> DataFrame:
    """Interpolated bigram LM surprisal — the next step up from
    :func:`unigram_logprob` on the CCNet self-trained quality ladder:
    fit unigram AND bigram models on the corpus itself, score every
    document by its mean bigram-event surprisal in bits under the
    Jelinek-Mercer interpolation

        p(w | u) = lam * p2(w | u) + (1 - lam) * p1(w)

    with add-``smoothing`` estimates (``p2 = (c2(u,w) + k) /
    (ctx(u) + k |V|)``, ``p1 = (c1(w) + k) / (T + k |V|)``). Unigram
    surprisal flags rare-TOKEN soup; the bigram term additionally
    flags incoherent token ORDER (shuffled/templated text whose tokens
    are individually common). Returns ``(id, n_bigrams,
    bits_per_bigram)`` — docs with fewer than two tokens carry 0 /
    NULL (unscorable, the unigram_logprob convention).

    100 TB shape: both models are partial-aggregable token-key
    groupBys (bigram model bounded by distinct bigrams — joined on
    the (u, w) key, never collected or broadcast); context totals
    derive FROM the persisted bigram model (a k_bigrams-row re-agg,
    not a second corpus pass); the two global scalars ride a
    broadcast 1-row crossJoin (X6). Scoring is three token-key joins
    plus one per-doc aggregate. The models are persisted (each feeds
    two consumers — no cross-branch subplan sharing) and ride the
    result's release handle.

    Determinism: the per-doc mean folds the SORTED per-event bits
    sequentially (unigram_logprob's rule — float addition is
    non-associative, so the rounded 4th decimal must not depend on
    row order).

    Fixed columns: id ``doc_id``, text ``text``."""
    if smoothing <= 0:
        raise ValueError(f"smoothing must be > 0, got {smoothing}")
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    toks = tokens(F.col("text"))
    t = F.col("__toks")
    grams = F.when(
        F.size(t) >= 2,
        F.zip_with(
            F.slice(t, 1, F.size(t) - 1),
            F.slice(t, 2, F.size(t) - 1),
            lambda u, w: F.struct(u.alias("u"), w.alias("w")),
        ),
    ).otherwise(F.array().cast("array<struct<u:string,w:string>>"))
    # inline(array(struct)) barrier (the _dsir_feats note): exploding
    # the non-foldable grams expression directly lets
    # InferFiltersFromGenerate duplicate the zip_with into a pushed
    # size()>0 filter
    events = (
        df.select(F.col("doc_id"), toks.alias("__toks"))
        .select(
            F.col("doc_id"),
            F.inline(F.array(F.struct(grams.alias("__grams")))),
        )
        .select(F.col("doc_id"), F.explode("__grams").alias("g"))
        .select(F.col("doc_id"), F.col("g.u").alias("u"), F.col("g.w").alias("w"))
    )
    with CacheScope() as scope:
        m1 = scope.persist(
            df.select(F.explode(tokens(F.col("text"))).alias("tok"))
            .groupBy("tok")
            .agg(F.count(F.lit(1)).alias("c1"))
        )
        m2 = scope.persist(
            events.groupBy("u", "w").agg(F.count(F.lit(1)).alias("c2"))
        )
        ctx = m2.groupBy("u").agg(F.sum("c2").alias("cu"))
        scalars = m1.agg(
            F.sum("c1").alias("__total"), F.count(F.lit(1)).alias("__vocab")
        )
        k = F.lit(float(smoothing))
        p2 = (F.col("c2") + k) / (F.col("cu") + k * F.col("__vocab"))
        p1 = (F.col("c1") + k) / (F.col("__total") + k * F.col("__vocab"))
        bits = -F.log2(F.lit(float(lam)) * p2 + F.lit(1.0 - float(lam)) * p1)
        scored = (
            events.join(m2, ["u", "w"])
            .join(ctx, "u")
            # joined on a renamed-key projection, not events["w"] == m1["tok"]
            # (column references from a frame already consumed by prior
            # joins are the ambiguous-reference trap)
            .join(m1.select(F.col("tok").alias("w"), "c1"), "w")
            .crossJoin(F.broadcast(scalars))
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_bigrams"),
                F.sort_array(F.collect_list(bits)).alias("__bits"),
            )
            .select(
                F.col("doc_id"),
                F.col("n_bigrams"),
                F.round(
                    F.aggregate("__bits", F.lit(0.0), lambda a, x: a + x)
                    / F.col("n_bigrams"),
                    4,
                ).alias("bits_per_bigram"),
            )
        )
        out = (
            df.select(F.col("doc_id"))
            .join(scored, "doc_id", "left")
            .select(
                F.col("doc_id"),
                F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
                F.col("bits_per_bigram"),
            )
        )
        return scope.hand(out, m1, m2)


def corpus_divergence(df_a: DataFrame, df_b: DataFrame) -> DataFrame:
    """Jensen-Shannon divergence between two corpora's unigram token
    distributions — the standard drift/mixture diagnostic of corpus
    curation: compare a candidate data source against the existing
    mix, a train split against validation, or this month's crawl
    against last month's. Returns ONE row: ``(n_tokens_a, n_tokens_b,
    vocab_a, vocab_b, vocab_shared, jsd_bits)`` where ``jsd_bits`` is
    the base-2 JSD in [0, 1] rounded to 4 (0 = identical
    distributions, 1 = disjoint vocabularies). Four decimals is the
    cross-engine contract everywhere else in the package (the r11
    registry had 17 round-4 sites and this one round-6 transcendental
    output — the only row the driver ever hash-flipped, twice, while
    staying bit-identical in every local Spark==DuckDB reproduction;
    at 4 decimals the driver's libm would need ~5e-5 of log2 drift to
    flip it — VERDICT r11 #1).

    JSD(P, Q) = 0.5 KL(P || M) + 0.5 KL(Q || M), M = (P + Q) / 2;
    zero-count terms contribute 0 to their KL side by convention. An
    entirely-empty side is degenerate: its KL term vanishes and
    ``jsd_bits`` comes back 0.5 — treat as undefined, not a distance.

    100 TB shape: two partial-aggregable token-count groupBys (shuffle
    bounded by token count), ONE full-outer join on the token key
    (bounded by union vocab — never collected or broadcast), the two
    scalar totals ride a broadcast 1-row crossJoin (the X6 pattern),
    and the final reduction is a single global aggregate. The joined
    vocab frame feeds both the totals and the term sum, so it is
    persisted; the result carries its release handle (cachectl).

    Float determinism: each per-token term is quantized to a 1e-12
    fixed-point long BEFORE the sum, and the sum runs over exact
    decimal(38,0) integers — so the reduction is order-independent by
    construction, immune to Spark's partition-dependent addend order.
    (The pre-r11 version summed raw doubles under a "rounding margin"
    argument and flipped the 6th decimal on the driver's sf0.1 run —
    CORRECTNESS_r10's one red row. The DuckDB oracle replays the
    identical quantization, so the only residual cross-engine exposure
    is a per-token log2 ulp landing exactly on the 1e-12 grid
    boundary — deterministic per engine, not flaky.) The 1e-12 scale
    keeps the quantization error (vocab x 1e-12) far below the final
    round(…, 4) while the decimal accumulator cannot overflow: per-term
    magnitude is bounded by ~0.54 (max of |p log2(p/m)| + the q twin),
    so even a 1e12-token vocab sums to < 1e24 « 1e38.

    Fixed columns: text ``text``."""
    def counts(df: DataFrame, alias: str) -> DataFrame:
        return (
            df.select(F.explode(tokens(F.col("text"))).alias("tok"))
            .groupBy("tok")
            .agg(F.count(F.lit(1)).alias(alias))
        )

    with CacheScope() as scope:
        j = scope.persist(
            counts(df_a, "__ca")
            .join(counts(df_b, "__cb"), "tok", "full_outer")
            .select(
                "tok",
                F.coalesce("__ca", F.lit(0)).alias("__ca"),
                F.coalesce("__cb", F.lit(0)).alias("__cb"),
            )
        )
        tot = j.agg(
            F.sum("__ca").alias("__ta"), F.sum("__cb").alias("__tb")
        )
        # greatest(…, 1): an all-empty side would otherwise hit ANSI
        # division-by-zero INSIDE the other side's when-branch (m references
        # p); with the guard an empty side degenerates to jsd_bits = 0.5
        # (its KL term vanishes) — documented, not an error
        p = F.col("__ca") / F.greatest(F.col("__ta"), F.lit(1))
        q = F.col("__cb") / F.greatest(F.col("__tb"), F.lit(1))
        m = (p + q) / 2
        term = F.when(F.col("__ca") > 0, p * F.log2(p / m)).otherwise(
            F.lit(0.0)
        ) + F.when(F.col("__cb") > 0, q * F.log2(q / m)).otherwise(F.lit(0.0))
        # order-independent reduction: quantize each term to the 1e-12
        # grid (F.round with no scale = HALF_UP to integer, same as
        # DuckDB's round-half-away), sum as exact decimal(38,0) integers,
        # divide/round ONCE at the end — see the docstring's determinism
        # contract (oracle replays the same quantization)
        term_fp = F.round(term * F.lit(1e12)).cast("decimal(38,0)")
        out = (
            j.crossJoin(F.broadcast(tot))
            .agg(
                F.first("__ta").alias("n_tokens_a"),
                F.first("__tb").alias("n_tokens_b"),
                F.sum((F.col("__ca") > 0).cast("long")).alias("vocab_a"),
                F.sum((F.col("__cb") > 0).cast("long")).alias("vocab_b"),
                F.sum(
                    ((F.col("__ca") > 0) & (F.col("__cb") > 0)).cast("long")
                ).alias("vocab_shared"),
                F.round(
                    F.sum(term_fp).cast("double") / F.lit(2e12), 4
                ).alias("jsd_bits"),
            )
        )
        return scope.hand(out, j)


def hashed_doc_embeddings(df: DataFrame, dims: int = 64) -> DataFrame:
    """Model-free document embeddings via the hashing trick
    (Weinberger et al., ICML 2009): every token hashes to one of
    ``dims`` buckets (the cross-engine md5 coin, seeded), the doc's
    vector is its L2-normalized bucket-count histogram, components
    rounded to 6 decimals with the -0.0 fold. Cosine between
    two such vectors approximates token-distribution overlap — the
    bridge that lets the whole embedding-side surface (semantic
    dedup, ANN serves, :func:`..similarity.embedding_outliers`,
    :func:`..similarity.jl_project`) run over a TEXT corpus with no
    model in the loop. Returns ``(id, e)``; a doc with no tokens
    carries NULL ``e`` (no direction — the
    :func:`..similarity.normalize_embeddings` convention).

    100 TB shape: one explode -> partial-aggregable (doc, bucket)
    count, re-agg to the doc key (both shuffles bounded by docs x
    dims rows after map-side combine); the dense array materializes
    via a map lookup over ``sequence(0, dims-1)`` — never a
    dims-wide join. All native expressions; no UDFs.

    Fixed columns: id ``doc_id``, text ``text``."""
    if dims < 1:
        raise ValueError(f"dims must be >= 1, got {dims}")
    bucket = F.pmod(hash64(F.col("tok"), seed=9), F.lit(dims))
    counts = (
        df.select(
            F.col("doc_id"), F.explode(tokens(F.col("text"))).alias("tok")
        )
        .select(F.col("doc_id"), bucket.alias("b"))
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # element_at on a MAP is a by-KEY lookup (not the 1-based array
    # form), so the 0..dims-1 sequence probes the bucket keys directly
    dense = counts.groupBy("doc_id").agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(F.col("b").cast("int"), F.col("c"))
            )
        ).alias("_m")
    )
    v = F.transform(
        F.sequence(F.lit(0), F.lit(dims - 1)),
        lambda i: F.coalesce(
            F.element_at(F.col("_m"), i.cast("int")), F.lit(0)
        ).cast("double"),
    )
    n = F.col("_n")
    out = (
        dense.select(F.col("doc_id"), v.alias("_v"))
        .select(
            F.col("doc_id"),
            F.col("_v"),
            F.sqrt(
                F.aggregate(
                    "_v", F.lit(0.0), lambda a, x: a + x * x
                )
            ).alias("_n"),
        )
        .select(
            F.col("doc_id"),
            F.when(
                n > 0,
                F.transform(
                    F.col("_v"),
                    lambda x: F.round(x / n, 6)
                    + F.lit(0.0),
                ),
            ).alias("e"),
        )
    )
    return df.select(F.col("doc_id")).join(out, "doc_id", "left")


def token_percentiles(
    df: DataFrame,
    percentiles: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Per-group token-count percentile report — the corpus audit a
    curation pipeline runs before setting chunk/pack budgets: how long
    are this source's documents, really? Returns one row per group:
    ``(group, n_docs, total_tokens, max_tokens, p50_tokens,
    p90_tokens, p99_tokens)`` (column names follow ``percentiles``).
    The nearest-rank sibling of :func:`..stats.percentile_stats`
    (which interpolates, ``quantile_cont`` semantics, over any value
    column): this one returns ACTUAL integer token counts from the
    data — the form a length gate consumes
    (:func:`..textclean.trim_length_outliers` applies the same rank
    rule as a filter).

    Exact semantics (oracle-replayable): the p-th
    percentile is the DISCRETE value at rank ``ceil(p * n)`` of the
    group's token counts sorted ``(n_tokens, id)`` — the nearest-rank
    definition, with the rank computed in EXACT RATIONAL arithmetic
    (``Fraction(str(p))``, so 0.99 means 99/100, and ``ceil(a/b) =
    (a + b - 1) div b`` in integer math) — no interpolation and no
    IEEE literal quirks (a double ``0.9 * n`` ceils to n*9/10 + 1 when
    10 | 9n because 0.9 rounds UP in binary; DuckDB's decimal
    literals would disagree), so both engines agree exactly.

    Null-text rows are EXCLUDED from the distribution (``n_docs``
    counts measurable documents only): a null token count is not
    length-gradable, and admitting it would silently shift every rank
    — Spark's window orders NULLS FIRST where the DuckDB oracle
    orders NULLS LAST (r13 review).

    100 TB shape: one shuffle on ``source`` plus a per-group sort
    (rank window) — correct but sort-bound when one source holds
    billions of docs.

    Fixed columns: group ``source``, id ``doc_id``, text ``text``."""
    if not percentiles or any(not 0.0 < p <= 1.0 for p in percentiles):
        raise ValueError(
            f"percentiles must be in (0, 1], got {percentiles}"
        )

    def _pname(p: float) -> str:
        s = f"{p * 100:g}".replace(".", "_")
        return f"p{s}_tokens"

    ranked = ranked_token_counts(df)
    return (
        ranked.groupBy("__g")
        .agg(
            F.max("__n").alias("n_docs"),
            F.sum("__nt").alias("total_tokens"),
            F.max("__nt").alias("max_tokens"),
            *[
                F.max(
                    F.when(
                        F.col("__rn") == nearest_rank_expr(p),
                        F.col("__nt"),
                    )
                ).alias(_pname(p))
                for p in percentiles
            ],
        )
        .withColumnRenamed("__g", "source")
    )


_RANK_RESERVED = ("__g", "__id", "__nt", "__rn", "__n")


def nearest_rank_expr(p: float) -> Column:
    """The nearest-rank percentile rank ``ceil(p * n)`` in EXACT
    RATIONAL arithmetic over the ``__n`` group-size column of
    :func:`ranked_token_counts`: ``Fraction(str(p))`` so 0.99 means
    99/100, and ``ceil(a/b) = (a + b - 1) div b`` in integer math —
    ONE definition shared by :func:`token_percentiles` and
    :func:`..textclean.trim_length_outliers` so the audit and the
    gate (and their oracles) cannot desynchronize (r13 review)."""
    from fractions import Fraction

    fr = Fraction(str(p))
    num, den = fr.numerator, fr.denominator
    return F.expr(f"({num} * __n + {den} - 1) div {den}")


def ranked_token_counts(df: DataFrame) -> DataFrame:
    """``(__g, __nt, __rn, __n)`` — per-group token counts ranked by
    ``(count, id)`` with the group size alongside, over NON-NULL
    counts only (a null token count is not length-gradable, and Spark
    windows order NULLS FIRST where the DuckDB oracle orders NULLS
    LAST — admitting them would silently shift every rank). The
    shared exact-rank core of :func:`token_percentiles` and
    :func:`..textclean.trim_length_outliers`. Raises on input columns
    that collide with the reserved dunder names.

    Fixed columns: group ``source``, id ``doc_id``, text ``text``."""
    from pyspark.sql import Window

    clash = set(df.columns) & set(_RANK_RESERVED)
    if clash:
        raise ValueError(
            f"input columns collide with reserved rank-machinery "
            f"names: {sorted(clash)}"
        )
    counts = df.select(
        F.col("source").alias("__g"),
        F.col("doc_id").alias("__id"),
        F.size(tokens(F.col("text"))).alias("__nt"),
    ).where(F.col("__nt").isNotNull())
    w_rank = Window.partitionBy("__g").orderBy("__nt", "__id")
    w_all = Window.partitionBy("__g")
    return counts.select(
        "__g",
        "__nt",
        F.row_number().over(w_rank).alias("__rn"),
        F.count(F.lit(1)).over(w_all).alias("__n"),
    )


# Heaps-law checkpoint fractions as exact integer ratios (num, den):
# thresholds are id-VALUE cuts, t_f = lo + (hi - lo) * num DIV den —
# integer math both engines, no global row_number (see vocab_growth).
VOCAB_GROWTH_FRACTIONS: tuple[tuple[int, int], ...] = (
    (1, 100), (1, 10), (1, 4), (1, 2), (1, 1),
)


def vocab_growth(
    df: DataFrame,
    fractions: tuple[tuple[int, int], ...] = VOCAB_GROWTH_FRACTIONS,
) -> DataFrame:
    """Heaps-law vocabulary-growth audit: distinct-token vocabulary
    size after the first 1%/10%/25%/50%/100% of the corpus (by id
    order) — the curation diagnostic for "is this source still adding
    new vocabulary, or is it saturated/templated?" (a near-flat tail
    is the signature of boilerplate or a crawler trap; natural text
    grows ~n^0.5-0.8, Heaps 1978). Returns one row per fraction:
    ``(fraction, cutoff_id, n_docs, n_tokens, vocab)``, fraction as
    the exact string ``'num/den'``.

    Checkpoints are id-VALUE cuts, not rank cuts: ``t_f = lo + (hi -
    lo) * num DIV den`` over the corpus id range — exact integer math
    (oracle-identical), and crucially NO global row_number (a rank
    definition would force a single-partition sort of the whole
    corpus at 100 TB). With the synthetic monotone doc_ids the two
    definitions coincide up to id gaps.

    100 TB shape: two partial-aggregable passes — (1) doc-level
    conditional counts/sums against the broadcast 1-row bounds frame;
    (2) token first-occurrence ``groupBy(tok).agg(min(id))`` (the
    shuffle, map-side combinable) followed by conditional counts.
    Nothing sorts, nothing collects.

    Fixed columns: id ``doc_id``, text ``text``."""
    if not fractions or any(
        n <= 0 or d <= 0 or n > d for n, d in fractions
    ):
        raise ValueError(
            f"fractions must be ratios in (0, 1], got {fractions}"
        )
    bounds = df.agg(
        F.min("doc_id").alias("__lo"), F.max("doc_id").alias("__hi")
    )

    def cutoff(num: int, den: int) -> Column:
        # integer `div`, never float: bit-identical to the oracle's
        # `//` for the non-negative span (both truncate toward zero)
        return F.col("__lo") + F.expr(
            f"((__hi - __lo) * {int(num)}) div {int(den)}"
        )

    # pass 1: per-fraction doc counts + token totals (doc-level scan)
    docs = (
        df.select(
            F.col("doc_id"),
            F.size(tokens(F.col("text"))).alias("__nt"),
        )
        .crossJoin(F.broadcast(bounds))
        .agg(
            # coalesce(_, 0): a global sum over ZERO rows is NULL in
            # Spark while the oracle's count(*)/coalesce(sum, 0)
            # subqueries yield 0 — the empty-corpus row must match
            # (ADVICE r13)
            *[
                F.coalesce(
                    F.sum(
                        F.when(F.col("doc_id") <= cutoff(n, d), 1).otherwise(0)
                    ),
                    F.lit(0),
                ).alias(f"__nd_{n}_{d}")
                for n, d in fractions
            ],
            *[
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("doc_id") <= cutoff(n, d), F.col("__nt")
                        ).otherwise(0)
                    ),
                    F.lit(0),
                ).alias(f"__tt_{n}_{d}")
                for n, d in fractions
            ],
            *[
                F.max(cutoff(n, d)).alias(f"__cut_{n}_{d}")
                for n, d in fractions
            ],
        )
    )
    # pass 2: token first occurrence, then per-fraction vocab counts
    first = (
        df.select(
            F.col("doc_id"), F.explode(tokens(F.col("text"))).alias("__tok")
        )
        .groupBy("__tok")
        .agg(F.min("doc_id").alias("__first"))
        .crossJoin(F.broadcast(bounds))
        .agg(
            *[
                F.coalesce(
                    F.sum(
                        F.when(F.col("__first") <= cutoff(n, d), 1).otherwise(0)
                    ),
                    F.lit(0),
                ).alias(f"__v_{n}_{d}")
                for n, d in fractions
            ]
        )
    )
    wide = docs.crossJoin(F.broadcast(first))
    rows = F.array(
        *[
            F.struct(
                F.lit(f"{n}/{d}").alias("fraction"),
                F.col(f"__cut_{n}_{d}").cast("long").alias("cutoff_id"),
                F.col(f"__nd_{n}_{d}").cast("long").alias("n_docs"),
                F.col(f"__tt_{n}_{d}").cast("long").alias("n_tokens"),
                F.col(f"__v_{n}_{d}").cast("long").alias("vocab"),
            )
            for n, d in fractions
        ]
    )
    return wide.select(F.explode(rows).alias("r")).select("r.*")


def vocab_coverage(
    df: DataFrame,
    ref: DataFrame | None = None,
    vocab_size: int = 1000,
) -> DataFrame:
    """Vocabulary-coverage / OOV-rate audit: build the top-
    ``vocab_size`` token vocabulary from ``ref`` (count DESC, token
    ASC tie-break — deterministic at the cut), then report, per
    ``source`` of ``df``, how much of its token mass that
    vocabulary covers. The standard "will my tokenizer/model built on
    corpus A handle corpus B" diagnostic of a curation pipeline — a
    high OOV source needs vocab growth or transliteration/cleanup
    before it earns mixture weight. Returns one row per group:
    ``(group, n_tokens, covered, oov, coverage_rate)`` with the rate
    round-4.

    ``ref=None`` audits ``df`` against its own vocabulary (coverage
    then measures head-vs-tail mass, a Zipf summary).

    100 TB shape: token mass is aggregated per ``(group, token)``
    FIRST (one map-side-combinable shuffle — the join input shrinks
    from corpus-token rows to distinct keys), then the bounded
    vocabulary (``vocab_size`` rows, orderBy+limit on an already
    token-aggregated frame) broadcast-left-joins onto it; nothing
    corpus-sized crosses the broadcast.

    Fixed columns: group ``source``, text ``text``."""
    if vocab_size < 1:
        raise ValueError(f"vocab_size must be >= 1, got {vocab_size}")
    src = ref if ref is not None else df
    vocab = (
        src.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("__c"))
        .orderBy(F.col("__c").desc(), F.col("tok").asc())
        .limit(vocab_size)
        .select("tok", F.lit(1).alias("__in"))
    )
    per_tok = (
        df.select(
            F.col("source"),
            F.explode(tokens(F.col("text"))).alias("tok"),
        )
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    joined = per_tok.join(F.broadcast(vocab), "tok", "left")
    return (
        joined.groupBy("source")
        .agg(
            F.sum("__n").alias("n_tokens"),
            F.sum(
                F.when(F.col("__in").isNotNull(), F.col("__n")).otherwise(0)
            ).alias("covered"),
        )
        .select(
            F.col("source"),
            F.col("n_tokens"),
            F.col("covered"),
            (F.col("n_tokens") - F.col("covered")).alias("oov"),
            F.round(
                F.col("covered") / F.col("n_tokens"), 4
            ).alias("coverage_rate"),
        )
    )
