"""Corpus snapshot versioning: diff two releases of a document table.

A training-data pipeline re-crawls, re-filters, and re-curates; every
release must be auditable against the last ("what changed between
corpus v3 and v4, and how much of the token budget moved?"). These
operators diff two snapshots BY CONTENT — the cross-engine md5 of the
text (functions/hashing.py), never object identity — so a re-crawled
document with byte-identical text counts as unchanged even if it was
re-fetched, re-partitioned, or re-ordered.

No reference-repo equivalent: the reference (DbpediaDgraphSparkApp)
processes one dump at a time; snapshot diffing is part of the
LLM-pipeline extension surface (dataset version audits a la HF dataset
revisions / DVC).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dgraph_dbpedia_spark.functions.hashing import hash64

__all__ = ["corpus_diff", "corpus_diff_report", "category_shift_report"]


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document diff of two corpus snapshots: full-outer join on
    ``id_col`` over content hashes, labelling each id

    - ``added``     — in ``new`` only,
    - ``removed``   — in ``old`` only,
    - ``changed``   — in both, content hash differs,
    - ``unchanged`` — in both, content hash equal (NULL text on both
      sides is equal: a metadata-only row that stayed a metadata-only
      row did not change).

    Returns ``(id, status)``, one row per id present in either
    snapshot. Each snapshot must carry UNIQUE ids — a duplicated id
    fans out the full-outer join (2 rows for a one-side dup, 4 for a
    both-side dup) and inflates :func:`corpus_diff_report`'s counts;
    deduplicate first (:func:`..dedup.exact_dedup`) if the source can
    repeat ids, as re-crawl snapshots often do.

    100 TB shape: content hashes are narrow per-side projections
    (scan-speed, 8-byte hash instead of the text through the join);
    ONE id-keyed full-outer shuffle join; no UDFs, no collects. Both
    sides shuffle-partition by the same id key, so a catalog table
    bucketed by id (``bucketBy`` + ``saveAsTable``) makes the join
    Exchange-free."""
    def side(df: DataFrame, h: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias("_id"),
            # null-flag + coalesce: hash64(NULL) is NULL, and two
            # NULLs must compare EQUAL (eqNullSafe below)
            hash64(F.col(text_col)).alias(h),
            F.lit(1).alias(f"_in{h}"),
        )

    o = side(old, "_ho")
    n = side(new, "_hn")
    joined = o.join(n, "_id", "full_outer")
    status = (
        F.when(F.col("_in_ho").isNull(), F.lit("added"))
        .when(F.col("_in_hn").isNull(), F.lit("removed"))
        .when(F.col("_ho").eqNullSafe(F.col("_hn")), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select(F.col("_id").alias(id_col), status.alias("status"))


def corpus_diff_report(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """One-row release audit over :func:`corpus_diff`: counts per
    status plus churn — ``round((added + changed) / new_total, 4)`` —
    the fraction of the NEW snapshot's id universe that is not
    carried over intact from the old release (``new_total`` counts
    ids in ``new``, i.e. added + changed + unchanged; removed ids are
    reported in ``n_removed`` but are not part of the new universe,
    and an empty new snapshot reports NULL churn via try_divide).

    Returns ``(n_added, n_removed, n_changed, n_unchanged, churn)``.

    100 TB shape: the diff's one shuffle join, then a
    partial-aggregable global count fold (map-side combine; one row
    out)."""
    d = corpus_diff(old, new, id_col=id_col, text_col=text_col)
    cnt = lambda s: F.sum(  # noqa: E731
        F.when(F.col("status") == s, 1).otherwise(0)
    )
    return d.agg(
        cnt("added").alias("n_added"),
        cnt("removed").alias("n_removed"),
        cnt("changed").alias("n_changed"),
        cnt("unchanged").alias("n_unchanged"),
    ).select(
        "n_added",
        "n_removed",
        "n_changed",
        "n_unchanged",
        F.round(
            F.try_divide(
                F.col("n_added") + F.col("n_changed"),
                F.col("n_added")
                + F.col("n_changed")
                + F.col("n_unchanged"),
            ),
            4,
        ).alias("churn"),
    )


def category_shift_report(
    old: DataFrame,
    new: DataFrame,
    group_col: str = "source",
) -> DataFrame:
    """Metadata-distribution drift between two corpus snapshots: for
    each ``group_col`` category, the document counts and shares on
    both sides plus the category's total-variation contribution —
    "did release v4 quietly halve the code share and double the
    forums share?" (the mixture-audit sibling of
    :func:`corpus_diff_report`, which diffs CONTENT; token-level
    drift is :func:`..textstats.corpus_divergence`). Returns one row
    per category present on either side: ``(group, n_old, n_new,
    share_old, share_new, tvd_term)`` with shares and the term
    round-6; ``sum(tvd_term)`` is the total variation distance.

    100 TB shape: two map-side-combinable count aggregations
    (category-key shuffles over k-row outputs), a full-outer k-row
    join on the category spine, and two broadcast 1-row totals —
    nothing corpus-sized shuffles.

    The spine join is NULL-SAFE (ADVICE r13): with a plain equality a
    NULL category present in BOTH snapshots never matches itself, so
    it produced two spine rows (one n_new=0, one n_old=0) and its
    tvd_term was double-counted; ``eqNullSafe`` (oracle: ``IS NOT
    DISTINCT FROM``) folds it into one row like any other category."""
    co = old.groupBy(F.col(group_col).alias("__g_old")).agg(
        F.count(F.lit(1)).alias("n_old")
    )
    cn = new.groupBy(F.col(group_col).alias("__g_new")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    spine = (
        co.join(
            cn, F.col("__g_old").eqNullSafe(F.col("__g_new")), "full_outer"
        )
        .select(
            F.coalesce("__g_old", "__g_new").alias("g"),
            F.coalesce("n_old", F.lit(0)).alias("n_old"),
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
        )
    )
    totals = spine.agg(
        F.sum("n_old").alias("__to"), F.sum("n_new").alias("__tn")
    )
    share_old = F.col("n_old") / F.greatest(F.col("__to"), F.lit(1))
    share_new = F.col("n_new") / F.greatest(F.col("__tn"), F.lit(1))
    return (
        spine.crossJoin(F.broadcast(totals))
        .select(
            F.col("g").alias(group_col),
            "n_old",
            "n_new",
            F.round(share_old, 6).alias("share_old"),
            F.round(share_new, 6).alias("share_new"),
            F.round(F.abs(share_old - share_new) / 2, 6).alias(
                "tvd_term"
            ),
        )
    )
