"""Text cleaning / curation operators for training-data pipelines.

Extension surface (SURVEY §7.8 continuation): boilerplate stripping,
PII redaction, repetition scoring, and deterministic hash-based
sampling — the standard pre-training corpus curation steps that sit
between raw scrape and dedup.

All native Catalyst expressions (regexp_replace / array functions /
md5): each operator is a narrow projection over the documents table, so
at 100 TB the cost is the scan itself — no shuffle, no Python.  Every
regex is written in the common subset of Java regex (Spark) and RE2
(DuckDB): no lookaround, no backreferences — so the same pattern runs
verbatim in the DuckDB oracle.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints must resolve

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dgraph_dbpedia_spark.functions.hashing import WS_CLASS, tokens

# Patterns shared verbatim with the DuckDB oracle (RE2 ∩ Java regex).
HTML_TAG_RE = r"<[^>]*>"
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PHONE_RE = r"\+[0-9][0-9() \-]{6,}[0-9]"
# (?is): case-insensitive + dot-matches-newline — supported by both
# Java regex and RE2; lazy quantifiers likewise
SCRIPT_RE = r"(?is)<script[^>]*>.*?</script>"
STYLE_RE = r"(?is)<style[^>]*>.*?</style>"
COMMENT_RE = r"(?s)<!--.*?-->"
# decode order matters: &lt;/&gt; AFTER tag removal (decoded angle
# brackets must not form fake tags), &amp; LAST (double-encoded
# entities decode one level per pass, the standard stripper rule)
_ENTITIES = [
    ("&nbsp;", " "),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&amp;", "&"),
]


def clean_text(df: DataFrame) -> DataFrame:
    """Boilerplate strip: drop HTML-ish tags, collapse whitespace runs
    to single spaces, trim. Returns ``(id, clean)``.

    Pure projection — the 100 TB plan is scan → regexp project, fully
    whole-stage-codegen, no exchange.

    Fixed columns: id ``doc_id``, text ``text``."""
    c = F.regexp_replace(F.col("text"), HTML_TAG_RE, " ")
    c = F.trim(F.regexp_replace(c, WS_CLASS + "+", " "))
    return df.select(F.col("doc_id"), c.alias("clean"))


def strip_markup(df: DataFrame) -> DataFrame:
    """Full markup strip — the HTML-to-text step of a scrape-ingest
    pipeline, one level up from :func:`clean_text`: removes
    ``<script>``/``<style>`` blocks WITH their contents (tag-only
    stripping leaves the JavaScript/CSS text behind as garbage tokens),
    HTML comments, then all remaining tags; decodes the six common
    entities (``&nbsp; &quot; &#39; &lt; &gt; &amp;`` — angle brackets
    after tag removal so decoded literals can't form fake tags,
    ampersand last so double-encoded entities decode one level);
    collapses whitespace. Returns ``(id, text)``.

    Deliberately regex-based, not a DOM parse: malformed markup
    degrades to extra stripped spans instead of a crash, every pattern
    is in the RE2 ∩ Java-regex subset so the DuckDB oracle runs the
    identical chain, and the plan stays a pure narrow projection —
    scan-speed at 100 TB, no Python, no shuffle. A fidelity-critical
    extraction (tables, boilerplate segmentation) belongs in a real
    extractor upstream; this is the fast curation-grade path.

    Fixed columns: id ``doc_id``, text ``text``."""
    c = F.regexp_replace(F.col("text"), SCRIPT_RE, " ")
    c = F.regexp_replace(c, STYLE_RE, " ")
    c = F.regexp_replace(c, COMMENT_RE, " ")
    c = F.regexp_replace(c, HTML_TAG_RE, " ")
    for ent, rep in _ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(rep))
    c = F.trim(F.regexp_replace(c, WS_CLASS + "+", " "))
    return df.select(F.col("doc_id"), c.alias("text"))


def dedup_lines(df: DataFrame) -> DataFrame:
    """IN-DOCUMENT line dedup (the RefinedWeb/Gopher repetition rule at
    line granularity): within each document, every repeated non-blank
    line keeps only its FIRST occurrence, in original order; blank /
    whitespace-only lines always pass through (they are document
    structure — collapsing them would merge paragraphs). Returns
    ``(id, text)``. Completes the dedup granularity matrix next to
    :func:`..dedup.paragraph_dedup` (corpus-wide paragraphs),
    :func:`..dedup.strip_duplicated_spans` (corpus-wide token windows)
    and the corpus-level document dedup family — here the state is
    per-document, so the operation is a PURE per-row array projection:
    no shuffle, no join, scan-speed at 100 TB.

    first-occurrence test is ``array_position`` per element — O(lines²)
    per document, fine for any realistic document and still narrow;
    lines split on a newline. The split
    binds as an ATTRIBUTE in its own select before the lambda
    references it — inlined, the full-text split would re-evaluate per
    line (the CollapseProject duplicate-eval trap). "Blank" =
    whitespace-only under the regex ``^\\s*$`` (``trim`` strips only
    ASCII spaces — a tab-indented separator line is still document
    structure).

    Fixed columns: id ``doc_id``, text ``text``."""
    import re as _re

    pattern = _re.escape("\n")
    lines = F.col("_lines")
    kept = F.filter(
        lines,
        lambda line, i: line.rlike(f"^{WS_CLASS}*$")
        | (F.array_position(lines, line) == i + 1),
    )
    return (
        df.select(
            F.col("doc_id"),
            F.split(F.col("text"), pattern).alias("_lines"),
        )
        .select(F.col("doc_id"), F.array_join(kept, "\n").alias("text"))
    )


def pii_redact(df: DataFrame) -> DataFrame:
    """Redact emails / IPv4 addresses / international phone numbers with
    typed placeholder tokens. Returns ``(id, redacted, n_emails,
    n_ipv4)`` — the counts make the redaction auditable (how much PII a
    shard carried) without retaining the values.

    Fixed columns: id ``doc_id``, text ``text``."""
    text = F.col("text")
    after_email = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    redacted = F.regexp_replace(after_email, IPV4_RE, "<IP>")
    redacted = F.regexp_replace(redacted, PHONE_RE, "<PHONE>")
    return df.select(
        F.col("doc_id"),
        redacted.alias("redacted"),
        F.size(F.regexp_extract_all(text, F.lit(EMAIL_RE), 0)).alias("n_emails"),
        # count on the EMAIL-redacted text, matching the sequential
        # replacement: an IP embedded in an email address is consumed by
        # <EMAIL> and must not be reported as an <IP> that isn't there
        F.size(F.regexp_extract_all(after_email, F.lit(IPV4_RE), 0)).alias(
            "n_ipv4"
        ),
    )


def _token_ngrams(toks: Column, n: int) -> Column:
    """Token n-grams as space-joined strings; empty array below n
    tokens (guarded — ``sequence(0, -1)`` would count DOWN)."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def repetition_score(df: DataFrame) -> DataFrame:
    """Within-document repetition features: type-token ratio and the
    fraction of duplicated token n-grams. Returns
    ``(id, n_tokens, ttr, dup_ngram_ratio)``.

    High dup_ngram_ratio = boilerplate / TOC / generated spam — the
    standard Gopher/RefinedWeb-style repetition filter signals. Pure
    per-row array math; no shuffle at any scale.

    Fixed columns: id ``doc_id``, text ``text``."""
    df = df.select(F.col("doc_id"), tokens(F.col("text")).alias("__toks"))
    toks = F.col("__toks")
    # alias the n-gram array in its own projection: referenced three
    # times below, and as an inline expression each reference would
    # re-build the array per row (CollapseProject only inlines CHEAP
    # multi-referenced aliases, so the named column is evaluated once
    # — measured 1.06 -> 0.57 s at sf0.1, identical output)
    df = df.select(F.col("doc_id"), toks, _token_ngrams(toks, 3).alias("__grams"))
    grams = F.col("__grams")
    n_grams = F.size(grams)
    dup_ratio = F.when(
        n_grams > 0,
        F.round(1.0 - F.size(F.array_distinct(grams)) / n_grams, 6),
    ).otherwise(F.lit(0.0))
    return df.select(
        F.col("doc_id"),
        F.size(toks).alias("n_tokens"),
        F.round(
            F.size(F.array_distinct(toks)) / F.greatest(F.size(toks), F.lit(1)), 6
        ).alias("ttr"),
        dup_ratio.alias("dup_ngram_ratio"),
    )


def hash_sample(df: DataFrame, rate_num: int = 32) -> DataFrame:
    """Deterministic, engine-independent sampling: keep rows whose
    ``md5(key)`` first byte falls under ``rate_num/256`` (one md5
    byte). Unlike ``df.sample()`` the selection is a pure function of
    the key — stable across runs, engines, partitionings, and cluster
    sizes, which is what makes train/eval splits reproducible at 100 TB.

    Filter-only plan: no shuffle, pushes to the scan's data filters.

    Fixed columns: key ``doc_id``."""
    if not 0 <= rate_num <= 256:
        # out of range silently mis-samples: 256 formats as the 3-char
        # '100', which the 2-char hex comparison treats as ~6%, and a
        # negative rate formats as '-1' and keeps nothing
        raise ValueError(f"rate_num must be in [0, 256], got {rate_num}")
    if rate_num == 256:
        return df
    threshold = f"{rate_num:02x}"
    byte_hex = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    return df.where(byte_hex < F.lit(threshold))


def compression_ratio(df: DataFrame, level: int = 6) -> DataFrame:
    """zlib (DEFLATE) compression ratio per document — the classic
    redundancy signal of web-corpus curation: templated/boilerplate
    text compresses far below natural prose, and high-entropy noise
    (mojibake, base64 blobs) barely compresses at all; filter both
    tails. Returns ``(id, n_bytes, ratio)`` with ``ratio`` =
    compressed/original bytes rounded to 4 (tiny docs can exceed 1.0 —
    the DEFLATE header dominates); empty/NULL docs get a NULL ratio.

    One of the few DELIBERATE Python-lane operators (the multimodal
    kernels' lane): byte-level DEFLATE is not expressible in native
    SQL functions, so this runs as an Arrow-batched pandas UDF over
    stdlib zlib — per-row only, no shuffle, and fully deterministic
    (zlib output length at a fixed level is a pure function of the
    input bytes), so results are stable across runs and partitionings.
    DuckDB SQL cannot express DEFLATE, so the driver oracle is a
    host-computed VALUES table (__spark_entry__._sql_compression_ratio
    — change this operator's output columns, rounding, or level
    default and that generator must change in lockstep); the pytest
    pins planted orderings and determinism.

    Fixed columns: id ``doc_id``, text ``text``."""
    if not 1 <= int(level) <= 9:
        raise ValueError(f"level must be in [1, 9], got {level}")
    from pyspark.sql.functions import pandas_udf

    lvl = int(level)

    @pandas_udf("double")
    def _ratio(s: pd.Series) -> pd.Series:
        import zlib

        def one(t):
            if t is None:
                return None
            b = t.encode("utf-8")
            if not b:
                return None
            return round(len(zlib.compress(b, lvl)) / len(b), 4)

        return s.map(one)

    return df.select(
        F.col("doc_id"),
        F.octet_length(F.col("text")).alias("n_bytes"),
        _ratio(F.col("text")).alias("ratio"),
    )


def normalize_text(df: DataFrame, form: str = "NFC") -> DataFrame:
    """Unicode normalization (NFC / NFKC / NFD / NFKD) — the standard
    first pass of multilingual corpus curation: composed vs decomposed
    accents ("café" in two byte sequences) must hash, dedup, and
    tokenize identically, and NFKC additionally folds compatibility
    forms (fullwidth ASCII, ligatures, circled digits) the way most
    tokenizers expect. Returns ``(id, text)`` with the text normalized;
    NULLs pass through.

    Python-lane by necessity (same lane as :func:`compression_ratio`):
    Spark has no Unicode-normalization expression, so this is an
    Arrow-batched pandas UDF over stdlib ``unicodedata`` — per-row, no
    shuffle, deterministic (normalization is a pure function of the
    code points, pinned by the Unicode version of CPython's data
    tables). The NFC form is oracle-checked against DuckDB's
    ``nfc_normalize`` (bit-equal on the shared corpus — a genuine
    cross-engine check of a non-SQL kernel); NFKC/NFD/NFKD have no
    DuckDB twin and are pinned by pytest against host-side
    ``unicodedata.normalize``.

    Fixed columns: id ``doc_id``, text ``text``."""
    forms = ("NFC", "NFKC", "NFD", "NFKD")
    if form not in forms:
        raise ValueError(f"form must be one of {forms}, got {form!r}")
    from pyspark.sql.functions import pandas_udf

    f = form

    @pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda t: None if t is None else unicodedata.normalize(f, t)
        )

    return df.select(F.col("doc_id"), _norm(F.col("text")).alias("text"))


def trim_length_outliers(
    df: DataFrame,
    lo: float = 0.01,
    hi: float = 0.99,
) -> DataFrame:
    """Per-group length-outlier trim — the actionable form of
    :func:`..textstats.token_percentiles`: keep only documents whose
    token count lies within the group's ``[p_lo, p_hi]`` nearest-rank
    percentile VALUES (truncated fragments below, concatenation blobs
    and crawler traps above — the standard pre-training length gate
    applied per source so a long-form source isn't judged by a
    tweet-length source's distribution). Returns the surviving rows,
    all original columns.

    Determinism: the cut ranks use EXACTLY the shared rank machinery
    of :func:`..textstats.token_percentiles`
    (:func:`..textstats.ranked_token_counts` +
    :func:`..textstats.nearest_rank_expr` — one definition, so the
    audit and the gate cannot desynchronize); the kept range is
    INCLUSIVE of the cut values, so ties at the boundary never depend
    on row order. Null-text rows are excluded from the distribution
    AND dropped by the gate (a null count satisfies neither bound) —
    not length-gradable is not keepable. Raises on input columns
    colliding with the reserved dunder names (the shared machinery's
    guard covers the join columns used here too).

    100 TB shape: one shuffle on ``source`` for the rank window
    over (count, id), a per-group 1-row bounds aggregate, and a
    broadcast join of those bounds back onto a second tokenizing scan
    of the corpus — two cheap projection scans rather than a
    corpus-sized id self-join; the heavy frame never shuffles by
    id.

    Fixed columns: group ``source``, id ``doc_id``, text ``text``."""
    if not 0.0 < lo <= hi <= 1.0:
        raise ValueError(
            f"need 0 < lo <= hi <= 1, got lo={lo} hi={hi}"
        )
    from dgraph_dbpedia_spark.operators.textstats import (
        _RANK_RESERVED,
        nearest_rank_expr,
        ranked_token_counts,
    )

    clash = set(df.columns) & (set(_RANK_RESERVED) | {"__lo_nt", "__hi_nt"})
    if clash:
        raise ValueError(
            f"input columns collide with reserved rank-machinery "
            f"names: {sorted(clash)}"
        )
    ranked = ranked_token_counts(df, "source", "text", "doc_id")
    bounds = ranked.groupBy("__g").agg(
        F.max(
            F.when(F.col("__rn") == nearest_rank_expr(lo), F.col("__nt"))
        ).alias("__lo_nt"),
        F.max(
            F.when(F.col("__rn") == nearest_rank_expr(hi), F.col("__nt"))
        ).alias("__hi_nt"),
    )
    return (
        df.withColumn("__nt", F.size(tokens(F.col("text"))))
        .join(
            F.broadcast(bounds),
            F.col("source") == F.col("__g"),
            "inner",
        )
        .where(
            (F.col("__nt") >= F.col("__lo_nt"))
            & (F.col("__nt") <= F.col("__hi_nt"))
        )
        .drop("__g", "__nt", "__lo_nt", "__hi_nt")
    )
