"""Corpus snapshot diff (operators/versioning.py)."""

from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_corpus_diff_hand_computed(spark):
    """Each status assigned by content, not identity: a byte-identical
    re-crawled doc is unchanged, NULL->NULL text is unchanged,
    NULL->real and real->NULL are changed."""
    from dgraph_dbpedia_spark.operators.versioning import corpus_diff

    old = _docs(
        spark,
        [
            (1, "alpha"),
            (2, "beta"),
            (3, "gamma"),
            (4, None),
            (5, None),
            (6, "zeta"),
        ],
    )
    new = _docs(
        spark,
        [
            (1, "alpha"),      # unchanged
            (2, "beta v2"),    # changed
            # 3 removed
            (4, None),         # NULL -> NULL: unchanged
            (5, "now real"),   # NULL -> text: changed
            (6, None),         # text -> NULL: changed
            (7, "new doc"),    # added
        ],
    )
    got = {
        r["doc_id"]: r["status"]
        for r in corpus_diff(old, new).collect()
    }
    assert got == {
        1: "unchanged",
        2: "changed",
        3: "removed",
        4: "unchanged",
        5: "changed",
        6: "changed",
        7: "added",
    }


def test_corpus_diff_report_counts_and_churn(spark):
    """Report counts match the per-doc statuses; churn is
    (added + changed) / |new| round-4; an empty NEW snapshot yields
    NULL churn (try_divide), an empty OLD snapshot is all-added
    churn 1.0."""
    from dgraph_dbpedia_spark.operators.versioning import (
        corpus_diff_report,
    )

    old = _docs(spark, [(1, "a"), (2, "b"), (3, "c")])
    new = _docs(spark, [(1, "a"), (2, "B"), (4, "d"), (5, "e")])
    r = corpus_diff_report(old, new).collect()[0]
    assert (
        r["n_added"],
        r["n_removed"],
        r["n_changed"],
        r["n_unchanged"],
    ) == (2, 1, 1, 1)
    assert r["churn"] == 0.75  # (2 + 1) / 4

    empty = old.where(F.lit(False))
    r2 = corpus_diff_report(old, empty).collect()[0]
    assert (r2["n_removed"], r2["n_added"]) == (3, 0)
    assert r2["churn"] is None
    r3 = corpus_diff_report(empty, new).collect()[0]
    assert (r3["n_added"], r3["churn"]) == (4, 1.0)


def test_corpus_diff_single_shuffle_plan(spark):
    """Scale shape: ONE join (SortMerge or Hash) on the id key, no
    Python eval in the plan, and the text column never crosses the
    join — only the 8-byte hash does."""
    from dgraph_dbpedia_spark.operators.versioning import corpus_diff

    old = _docs(spark, [(1, "a")])
    new = _docs(spark, [(1, "a")])
    plan = (
        corpus_diff(old, new)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Python" not in plan
    joins = plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") + plan.count(
        "BroadcastHashJoin"
    )
    assert joins == 1


def test_category_shift_report_hand_computed(spark):
    """old = 4 'a' + 4 'b'; new = 6 'a' + 2 'c': shares (0.5, 0.75 /
    0.5, 0 / 0, 0.25), tvd terms (0.125, 0.25, 0.125) -> TVD 0.5; a
    category present on one side only still spines in with zero
    counts on the other."""
    from dgraph_dbpedia_spark.operators.versioning import (
        category_shift_report,
    )

    old = spark.createDataFrame(
        [(i, "a") for i in range(4)] + [(i + 10, "b") for i in range(4)],
        ["doc_id", "source"],
    )
    new = spark.createDataFrame(
        [(i, "a") for i in range(6)] + [(i + 20, "c") for i in range(2)],
        ["doc_id", "source"],
    )
    got = {
        r["source"]: r
        for r in category_shift_report(old, new).collect()
    }
    assert set(got) == {"a", "b", "c"}
    assert (got["a"]["n_old"], got["a"]["n_new"]) == (4, 6)
    assert (got["a"]["share_old"], got["a"]["share_new"]) == (0.5, 0.75)
    assert got["a"]["tvd_term"] == 0.125
    assert (got["b"]["n_new"], got["b"]["share_new"]) == (0, 0.0)
    assert got["b"]["tvd_term"] == 0.25
    assert got["c"]["tvd_term"] == 0.125
    assert round(sum(r["tvd_term"] for r in got.values()), 6) == 0.5


def test_category_shift_report_null_category_single_row(spark):
    """A NULL category present in BOTH snapshots folds into ONE spine
    row via the null-safe join (ADVICE r13: a plain equality split it
    into two rows — one n_new=0, one n_old=0 — double-counting its
    tvd_term)."""
    from dgraph_dbpedia_spark.operators.versioning import (
        category_shift_report,
    )

    old = spark.createDataFrame(
        [(1, "a"), (2, None), (3, None)], ["doc_id", "source"]
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, None)], ["doc_id", "source"]
    )
    rows = category_shift_report(old, new).collect()
    null_rows = [r for r in rows if r["source"] is None]
    assert len(null_rows) == 1
    r = null_rows[0]
    assert (r["n_old"], r["n_new"]) == (2, 1)
    # shares 2/3 vs 1/2 -> tvd term |2/3 - 1/2| / 2 = 1/12
    assert r["tvd_term"] == round(abs(2 / 3 - 1 / 2) / 2, 6)
