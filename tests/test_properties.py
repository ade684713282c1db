"""Property tests (hypothesis): the native-expression rewrites must
match a direct host-side implementation of the reference's Scala
semantics on arbitrary inputs.

- extract_datatype vs extractDataType (DbpediaDgraphSparkApp.scala:544-553)
- ttl line parse vs dropRight(2).split(" ", 3) (DbpediaToParquetSparkApp.scala:147)

Batched: hypothesis generates input lists, one Spark job per list.
"""

from __future__ import annotations

import os

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from dgraph_dbpedia_spark.functions.rdf import extract_datatype
from dgraph_dbpedia_spark.sources.ttl import parse_ttl_lines


def ref_extract_datatype(value: str) -> tuple[str, str | None]:
    """Host-side port of the reference UDF's exact split/rejoin logic.

    Scala/Java ``split`` with the default limit drops TRAILING empty
    fields (Python's keeps them), so the port strips trailing carets
    first — trailing empty fields correspond 1:1 to trailing separators.
    All-caret inputs (``'^^'``) crash the Scala UDF (``.last`` of an
    empty array); the engine defines them as (v='', t='') instead, and
    the stripped-then-split model here yields exactly that.
    """
    if value.startswith("<"):
        return value, "<uri>"
    if "^^" in value:
        fields = value.rstrip("^").split("^")
        return "^".join(fields[:-2]), fields[-1]
    return value, None


_object_strings = st.one_of(
    st.text(
        alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters="\n\r"),
        min_size=1,
        max_size=40,
    ),
    # caret-dense strings to hammer the Scala trailing-empty-drop edge
    st.text("ab^", min_size=1, max_size=12),
    st.builds(lambda v, t: f'"{v}"^^<{t}>', st.text("abc^", min_size=0, max_size=8),
              st.text("xyz", min_size=1, max_size=5)),
    st.builds(lambda b, n: b + "^" * n, st.text("ab^", min_size=0, max_size=6),
              st.integers(min_value=1, max_value=4)),
    st.builds(lambda u: f"<http://{u}>", st.text("abc./", min_size=1, max_size=12)),
)


_EXAMPLES = int(os.environ.get("SPARK_GRAFT_HYPOTHESIS_EXAMPLES", "40"))


@settings(max_examples=_EXAMPLES, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(_object_strings, min_size=1, max_size=50))
def test_extract_datatype_matches_reference(spark, values):
    df = spark.createDataFrame([(v,) for v in values], ["o"])
    v, t = extract_datatype(F.col("o"))
    got = [(r["v"], r["t"]) for r in df.select(v.alias("v"), t.alias("t")).collect()]
    want = [ref_extract_datatype(x) for x in values]
    assert got == want


def ref_parse(line: str) -> tuple[str, ...] | None:
    if line.startswith("#") or len(line) <= 2:
        return None
    parts = line[:-2].split(" ", 2)
    return tuple(parts + [""] * (3 - len(parts)))


_line_bodies = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters="\n\r"),
    min_size=1,
    max_size=60,
)


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.builds(lambda b: f"{b} .", _line_bodies), min_size=1, max_size=30))
def test_ttl_parse_matches_reference(spark, lines):
    df = spark.createDataFrame([(l,) for l in lines], ["value"])
    got = [
        (r["s"] or "", r["p"] or "", r["o"] or "")
        for r in parse_ttl_lines(df).collect()
    ]
    want = [p for p in (ref_parse(l) for l in lines) if p is not None]
    assert got == want


# ---- BM25 vs a straightforward host-side reference implementation


def ref_bm25(docs: list[tuple[int, str]], terms: list[str], k: int,
             k1: float = 1.2, b: float = 0.75):
    terms = sorted({t.lower() for t in terms})
    toks = {i: [w for w in txt.lower().split() if w] for i, txt in docs}
    n = len(docs)
    avgdl = sum(len(t) for t in toks.values()) / n
    import math

    out = []
    for i, _ in docs:
        dl = len(toks[i])
        score = 0.0
        for w in terms:
            tf = toks[i].count(w)
            df = sum(1 for t in toks.values() if w in t)
            idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
            score = score + idf * (tf * (k1 + 1)) / (
                tf + k1 * (1 - b + b * dl / avgdl)
            )
        score = round(score, 4)
        if score > 0:
            out.append((i, score))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]


_words = st.sampled_from(["spark", "data", "row", "scan", "agg", "the", "a"])
_doc_texts = st.lists(_words, min_size=1, max_size=12).map(" ".join)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(_doc_texts, min_size=2, max_size=20))
def test_bm25_matches_reference(spark, texts):
    from dgraph_dbpedia_spark.operators.textstats import bm25_topk

    docs = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = [
        (r["doc_id"], r["score"])
        for r in bm25_topk(docs, ["spark", "data"], k=5).collect()
    ]
    want = ref_bm25(list(enumerate(texts)), ["spark", "data"], k=5)
    assert got == want


# ---- pack_offsets vs a host-side cumulative-sum reference


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(_doc_texts, min_size=1, max_size=25))
def test_pack_offsets_matches_reference(spark, texts):
    from dgraph_dbpedia_spark.operators.sampling import pack_offsets
    from dgraph_dbpedia_spark.functions.hashing import hash64_py

    max_tokens, n_shards = 8, 3
    got = {
        r["doc_id"]: (r["shard"], r["start_tok"], r["end_tok"],
                      r["first_pack"], r["last_pack"])
        for r in pack_offsets(
            spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"]),
            max_tokens=max_tokens, n_shards=n_shards,
        ).collect()
    }
    shards: dict[int, list[int]] = {}
    for i, _ in enumerate(texts):
        shards.setdefault(hash64_py(str(i)) % n_shards, []).append(i)
    want = {}
    for shard, ids in shards.items():
        cursor = 0
        for i in sorted(ids):
            n_tok = len(texts[i].split())
            end = cursor + n_tok
            want[i] = (
                shard, cursor, end,
                cursor // max_tokens, max(end - 1, cursor) // max_tokens,
            )
            cursor = end
    assert got == want


_chunk_tokens = st.lists(
    st.text(alphabet="abcdefg", min_size=1, max_size=4),
    min_size=0,
    max_size=40,
)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(_chunk_tokens, min_size=1, max_size=10),
    st.integers(min_value=1, max_value=8),
    st.data(),
)
def test_chunk_documents_properties(spark, token_lists, chunk_tokens, data):
    """Host-checkable invariants of the sliding-window chunker:
    every token position is covered by at least one chunk; chunk 0
    starts at 0 and consecutive chunks advance by exactly
    chunk_tokens - overlap; every chunk except the last is full-size;
    concatenating each chunk's unseen suffix reconstructs the doc."""
    from dgraph_dbpedia_spark.operators.sampling import chunk_documents

    overlap = data.draw(st.integers(min_value=0, max_value=chunk_tokens - 1))
    stride = chunk_tokens - overlap
    docs = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(token_lists)],
        ["doc_id", "text"],
    )
    rows = chunk_documents(
        docs, chunk_tokens=chunk_tokens, overlap=overlap
    ).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, toks in enumerate(token_lists):
        chunks = sorted(by_doc.get(i, []), key=lambda r: r["chunk_idx"])
        if not toks:
            assert chunks == []
            continue
        assert [c["chunk_idx"] for c in chunks] == list(range(len(chunks)))
        # full coverage + exact stride + reconstruction
        rebuilt: list[str] = []
        for j, c in enumerate(chunks):
            start = j * stride
            want = toks[start : start + chunk_tokens]
            got_toks = c["chunk_text"].split(" ") if c["chunk_text"] else []
            assert got_toks == want
            assert c["n_tokens"] == len(want)
            rebuilt.extend(want[len(rebuilt) - start :])
        assert rebuilt == toks
        # no chunk beyond the stop rule, none missing before it
        n = len(toks)
        expected_starts = [0] + [
            s for s in range(stride, n, stride) if s + overlap < n
        ]
        assert len(chunks) == len(expected_starts)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.sampled_from(["a", "b", "c"]), min_size=30, max_size=120
    ),
    st.data(),
)
def test_mixture_sample_rate_matches_weight(spark, domains, data):
    """The realized keep set is exactly the per-row hash rule — verified
    host-side by replaying weighted_sample's documented coin."""
    from dgraph_dbpedia_spark.functions.hashing import hash64_py
    from dgraph_dbpedia_spark.operators.sampling import mixture_sample

    w = {
        "a": data.draw(st.sampled_from([0.0, 0.3, 1.0])),
        "b": data.draw(st.sampled_from([0.0, 0.5, 1.0])),
    }
    default = 0.25
    docs = spark.createDataFrame(
        list(enumerate(domains)), ["doc_id", "source"]
    )
    got = {
        r["doc_id"]
        for r in mixture_sample(docs, w, default_weight=default).collect()
    }
    # hash64 seed=1 replayed host-side: same coin, same survivors
    def coin(doc_id: int) -> float:
        return (hash64_py(str(doc_id), seed=1) % 1_000_000) / 1_000_000.0

    want = {
        i
        for i, d in enumerate(domains)
        if coin(i) < w.get(d, default)
    }
    assert got == want


def ref_strip_spans(rows: list[tuple[int, str]], L: int) -> dict[int, str]:
    """Host-side reference of strip_duplicated_spans: exact token-tuple
    windows (the engine hashes them — 60-bit collisions are
    probabilistically absent at test sizes), first occurrence by
    (doc_id, position), every other occurrence's positions removed,
    docs rebuilt space-joined."""
    toks = {i: t.split() for i, t in rows}
    first: dict[tuple, tuple[int, int]] = {}
    for i in sorted(toks):
        tk = toks[i]
        for p in range(len(tk) - L + 1):
            g = tuple(tk[p : p + L])
            if g not in first:
                first[g] = (i, p)
    covered: dict[int, set[int]] = {i: set() for i in toks}
    for i in sorted(toks):
        tk = toks[i]
        for p in range(len(tk) - L + 1):
            if first[tuple(tk[p : p + L])] != (i, p):
                covered[i].update(range(p, p + L))
    return {
        i: " ".join(t for j, t in enumerate(toks[i]) if j not in covered[i])
        for i in toks
    }


_span_texts = st.lists(
    st.lists(st.sampled_from("abcdefg"), min_size=0, max_size=14).map(
        " ".join
    ),
    min_size=1,
    max_size=12,
)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(_span_texts, st.integers(min_value=2, max_value=4))
def test_strip_spans_matches_reference(spark, texts, L):
    """Single-character tokens from a 7-letter alphabet force heavy
    window repetition across and within docs — the regime where the
    first-occurrence bookkeeping must be exact."""
    from dgraph_dbpedia_spark.operators.cachectl import release
    from dgraph_dbpedia_spark.operators.dedup import strip_duplicated_spans

    rows = list(enumerate(texts))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = strip_duplicated_spans(docs, L=L)
    got = {r["doc_id"]: r["text"] for r in out.collect()}
    release(out)
    assert got == ref_strip_spans(rows, L)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.text("abcdefg ", min_size=0, max_size=40), min_size=1, max_size=8
    ),
    st.integers(min_value=1, max_value=4),
    st.integers(min_value=1, max_value=5),
)
def test_winnow_guarantee_properties(spark, texts, k, w):
    """The paper's coverage guarantee on adversarial inputs (tiny
    alphabet => heavy hash ties and repeats): every window of w
    consecutive shingle positions contains at least one SELECTED
    position, selected hashes are true window minima, and the
    fingerprint hash SET is invariant under the tie rule."""
    import hashlib

    from dgraph_dbpedia_spark.operators.dedup import winnow_fingerprints

    MASK60 = (1 << 60) - 1

    def fold(hs):
        acc = 0
        for t in hs:
            acc = (((acc & ((1 << 53) - 1)) << 7) + (acc >> 53)) ^ t
        return acc

    def pos_hashes(text):
        th = [
            int(hashlib.md5(t.encode()).hexdigest()[:15], 16) & MASK60
            for t in text.split()
        ]
        return [
            fold(th[i : i + k]) for i in range(max(len(th) - (k - 1), 1))
        ]

    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    by_doc: dict[int, set] = {i: set() for i, _ in rows}
    for r in winnow_fingerprints(df, k=k, w=w).collect():
        by_doc[r["doc_id"]].add((r["pos"], r["fp"]))
    right = {i: set() for i, _ in rows}
    for r in winnow_fingerprints(df, k=k, w=w, tie="right").collect():
        right[r["doc_id"]].add((r["pos"], r["fp"]))

    for i, text in rows:
        ph = pos_hashes(text)
        sel = by_doc[i]
        # every selected (pos, fp) is consistent with the hash stream
        for pos, fp in sel:
            assert ph[pos - 1] == fp
        # coverage: every full window of w positions holds >= 1 selection
        sel_pos = {p for p, _ in sel}
        for p in range(max(len(ph) - (w - 1), 1)):
            window = set(range(p + 1, p + 1 + min(w, len(ph))))
            assert window & sel_pos, (text, k, w, p)
        # tie-rule invariance of the hash set
        assert {f for _, f in sel} == {f for _, f in right[i]}


@settings(max_examples=max(_EXAMPLES // 4, 8), deadline=None,
          suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.integers(min_value=0, max_value=6),
        ),
        min_size=1,
        max_size=30,
    ),
    st.integers(min_value=1, max_value=25),
)
def test_token_budget_sample_matches_host_model(spark, rows, budget):
    """token_budget_sample vs a direct host model on arbitrary
    (group, token-count) inputs: same kept ids for any grouping,
    any length distribution, any budget — and the kept set is a
    coin-order PREFIX per group (a doc is kept iff every coin-earlier
    doc in its group with cum-before < budget is also kept)."""
    from dgraph_dbpedia_spark.functions.hashing import hash64_py
    from dgraph_dbpedia_spark.operators.sampling import token_budget_sample

    data = [
        (i, g, "w " * k) for i, (g, k) in enumerate(rows)
    ]
    df = spark.createDataFrame(data, ["doc_id", "source", "text"])
    got = sorted(
        r["doc_id"]
        for r in token_budget_sample(
            df, budget_tokens=budget, seed=1
        ).collect()
    )

    per_group: dict[str, list] = {}
    for i, (g, k) in enumerate(rows):
        per_group.setdefault(g, []).append((hash64_py(str(i), seed=1), i, k))
    want = []
    for g, docs in per_group.items():
        cum = 0
        for _, i, k in sorted(docs):
            if cum < budget:
                want.append(i)
            cum += k
    assert got == sorted(want)
