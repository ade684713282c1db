"""Cross-engine deterministic hashing and shingling primitives.

All dedup/similarity operators hash with ``md5 -> first 15 hex chars ->
int64`` instead of Spark's xxhash64/murmur: md5 is bit-identical across
engines (Spark, DuckDB, Python), which makes every hash-based operator
oracle-checkable, and 15 hex chars (60 bits) stay inside a signed int64
in every engine. Seeded families come from suffixing the input with
``#<seed>``.

Scale note: md5 is ~2-3x slower than xxhash64 per call but both are
memory-bandwidth-trivial next to the shuffle these operators feed, so
md5 is the only hash: it is the one DuckDB and :func:`hash64_py` can
replay. All functions are native Catalyst expressions — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def hash64(col: Column, seed: int | None = None) -> Column:
    """Deterministic 60-bit integer hash of a string column (md5, first
    15 hex chars); :func:`hash64_sql` and :func:`hash64_py` are its
    DuckDB and host-side twins."""
    if seed is not None:
        col = F.concat(col, F.lit(f"#{seed}"))
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def hash64_sql(expr: str) -> str:
    """DuckDB equivalent of :func:`hash64` for oracle queries."""
    return f"('0x' || substring(md5({expr}), 1, 15))::BIGINT"


def hash64_py(value: str, seed: int | None = None) -> int:
    """Host-side twin of :func:`hash64` (identical md5 math) for
    precomputing constants like LSH hyperplanes."""
    import hashlib

    if seed is not None:
        value = f"{value}#{seed}"
    return int(hashlib.md5(value.encode()).hexdigest()[:15], 16)


# The whitespace class, spelled explicitly: Java's \s is exactly
# [ \t\n\x0B\f\r] while RE2's \s EXCLUDES \x0B, so a bare \s in any
# Spark-regex / DuckDB-oracle pair silently diverges on documents
# containing a vertical tab. This spelling is valid and identical in
# BOTH engines (Java and RE2 each accept \t \n \r \f \x0B escapes) and
# reproduces Java's \s bit-for-bit — use it in every paired regex
# instead of \s.
WS_CLASS = r"[ \t\n\r\f\x0B]"


def tokens(text: Column) -> Column:
    """Whitespace tokenization (empty-string-safe)."""
    return F.filter(F.split(F.trim(text), WS_CLASS + "+"), lambda t: t != "")


def tokens_sql(expr: str) -> str:
    return (
        f"list_filter(regexp_split_to_array(trim({expr}), "
        f"'{WS_CLASS}+'), t -> t != '')"
    )


def shingles_sql(toks_expr: str, w: int) -> str:
    """DuckDB string shingles (w tokens joined by a space, distinct;
    docs shorter than ``w`` produce one whole-text shingle). Spark-side
    shingling is hash-native (:func:`rolling_shingle_hashes` below) —
    this string form survives for the hash-AGNOSTIC oracles
    (ngram-Jaccard, decontamination), which join on shingle equality,
    where string equality and 60-bit-hash equality coincide."""
    return (
        f"list_distinct(list_transform("
        f"range(1, greatest(len({toks_expr}) - {w - 1}, 1) + 1), "
        f"i -> array_to_string(list_slice({toks_expr}, i, i + {w - 1}), ' ')))"
    )


# ---------------------------------------------------------------------------
# Rolling shingle hashing: hash each TOKEN once, then combine w token-hashes
# per shingle with an order-sensitive integer mix. Bytes digested drop ~w×
# vs hashing each w-token concatenated string (w=13 for decontamination),
# and every step stays a native Catalyst expression AND is replicable in
# DuckDB SQL (`rolling_shingle_hashes_sql`) — so the oracle contract holds.
#
# The mix is a rotate-xor fold over 60-bit values:
#     h_0 = 0;  h = rotl60(h, 7) XOR token_hash
# Token j of an L-token shingle lands rotated by 7*(L-1-j) mod 60; since
# gcd(7, 60) = 1 those rotations are distinct for all L <= 60, so the fold
# is order-sensitive for any realistic w. All values stay in [0, 2^60)
# (non-negative), so <<, >>, & behave identically in Spark and DuckDB and
# nothing can overflow a signed int64.

MASK60 = (1 << 60) - 1
_M53 = (1 << 53) - 1  # low 60-7 bits: the part that survives a left-rot by 7


def _rotl60(x: Column) -> Column:
    """Rotate a value in [0, 2^60) left by 7 within 60 bits."""
    return F.shiftleft(x.bitwiseAND(F.lit(_M53)), 7) + F.shiftrightunsigned(x, 53)


def token_hashes(toks: Column) -> Column:
    """Per-token 60-bit hashes (one digest per token — the only byte
    hashing in the rolling-shingle path). The &MASK60 pins every token
    hash to the non-negative 60-bit domain the rotate-xor fold needs;
    md5's 15 hex chars already sit there, and the mask is part of every
    hashed plan and of :func:`token_hashes_sql`."""
    return F.transform(toks, lambda t: hash64(t).bitwiseAND(F.lit(MASK60)))


def positional_shingle_hashes(toks_h: Column, w: int) -> Column:
    """POSITIONAL w-token shingle hashes from per-token hashes, via the
    rotate-xor fold: element ``i`` (1-based) of the result is the hash
    of the shingle starting at token position ``i`` — no dedup, so
    position-aware consumers (winnowing, span dedup) can map a hash
    back to where it occurred. Short-doc convention matches
    :func:`shingles_sql`: documents shorter than ``w`` tokens produce
    one whole-text shingle; an empty document folds to the single hash
    0 (the SQL twin's empty-list CASE matches)."""
    n = F.greatest(F.size(toks_h) - (w - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.aggregate(
            F.slice(toks_h, i, w),
            F.lit(0).cast("bigint"),
            lambda acc, t: _rotl60(acc).bitwiseXOR(t),
        ),
    )


def rolling_shingle_hashes(toks_h: Column, w: int) -> Column:
    """Distinct w-token shingle hashes — the positional fold above with
    positions collapsed (the set form every containment/Jaccard
    operator joins on)."""
    return F.array_distinct(positional_shingle_hashes(toks_h, w))


def token_hashes_sql(toks_expr: str) -> str:
    """DuckDB twin of :func:`token_hashes`, mask included. Built on
    :func:`hash64_sql` so the digest recipe has exactly one
    definition per engine."""
    return f"list_transform({toks_expr}, t -> {hash64_sql('t')} & {MASK60})"


def positional_shingle_hashes_sql(toks_h_expr: str, w: int) -> str:
    """DuckDB twin of :func:`positional_shingle_hashes`. `list_reduce`
    seeds with the first element — identical to the init-0 fold because
    rotl60(0)^t0 = t0 — and errors on an empty list, hence the CASE
    (matching Spark's aggregate-over-empty = init = 0)."""
    return (
        f"list_transform("
        f"range(1, greatest(len({toks_h_expr}) - {w - 1}, 1) + 1), "
        f"i -> CASE WHEN len({toks_h_expr}) = 0 THEN 0 ELSE "
        f"list_reduce(list_slice({toks_h_expr}, i, i + {w - 1}), "
        f"(acc, t) -> xor(((acc & {_M53}) << 7) + (acc >> 53), t)) END)"
    )


def rolling_shingle_hashes_sql(toks_h_expr: str, w: int) -> str:
    """DuckDB twin of :func:`rolling_shingle_hashes`."""
    return f"list_distinct({positional_shingle_hashes_sql(toks_h_expr, w)})"
