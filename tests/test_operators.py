from __future__ import annotations

from pyspark.sql import functions as F

from dgraph_dbpedia_spark.operators.topk import filter_to_top_k, top_k_per_group
from dgraph_dbpedia_spark.operators.majority import (
    filter_to_majority,
    majority_value_per_group,
)
from dgraph_dbpedia_spark.operators.stats import (
    dataset_counts,
    datasets_counts,
    rollup_group,
    stats_table_pivot,
)


def _freq_df(spark):
    rows = []
    # lang=a: x*3, y*2, z*1 ; lang=b: ties m*2, n*2
    rows += [("a", "x")] * 3 + [("a", "y")] * 2 + [("a", "z")]
    rows += [("b", "m")] * 2 + [("b", "n")] * 2
    return spark.createDataFrame(rows, ["lang", "p"])


def test_top_k_per_group(spark):
    out = top_k_per_group(_freq_df(spark), "p", 2)
    got = {(r["lang"], r["p"]): r["count"] for r in out.collect()}
    assert got == {("a", "x"): 3, ("a", "y"): 2, ("b", "m"): 2, ("b", "n"): 2}


def test_top_k_tie_break_deterministic(spark):
    out = top_k_per_group(_freq_df(spark), "p", 1)
    got = {r["lang"]: r["p"] for r in out.collect()}
    # b has a tie m/n at count 2 -> lexicographic winner m
    assert got == {"a": "x", "b": "m"}


def test_filter_to_top_k(spark):
    df = _freq_df(spark)
    out = filter_to_top_k(df, "p", 1)
    assert out.count() == 3 + 2  # a/x rows + b/m rows
    assert set(r["p"] for r in out.collect()) == {"x", "m"}


def test_majority_tie_break(spark):
    rows = [("p1", "int")] * 3 + [("p1", "str")] + [("p2", "a"), ("p2", "b")]
    df = spark.createDataFrame(rows, ["p", "t"])
    out = majority_value_per_group(df, ["p"], "t")
    got = {r["p"]: r["t"] for r in out.collect()}
    assert got == {"p1": "int", "p2": "a"}


def test_filter_to_majority(spark):
    rows = [("p1", "int", 1), ("p1", "int", 2), ("p1", "str", 3)]
    df = spark.createDataFrame(rows, ["p", "t", "id"])
    out = filter_to_majority(df, ["p"], "t")
    assert sorted(r["id"] for r in out.collect()) == [1, 2]


def test_dataset_counts(spark):
    df = spark.createDataFrame(
        [("s1", "p1", "o", "en"), ("s1", "p2", "o", "en"), ("s2", "p1", "o", "de")],
        ["s", "p", "o", "lang"],
    )
    c = dataset_counts(df)
    assert c == {"triples": 3, "nodes": 2, "predicates": 2}


def test_datasets_counts_equals_per_frame_counts(spark):
    """The fused aggregation equals one dataset_counts per frame on the
    edge inputs: an empty frame (0/0/0), NULL s/p (counted as triples,
    not as distinct values), and one source frame bound to two names —
    the shape of transform's infobox_properties / top-k pair."""
    schema = "s string, p string, o string, lang string"
    empty = spark.createDataFrame([], schema)
    nulls = spark.createDataFrame(
        [("s1", None, "o", "en"), (None, "p1", "o", "en"), (None, None, "o", "de"),
         ("s1", "p1", "o", "de")],
        schema,
    )
    shared = spark.createDataFrame(
        [("s1", "p1", "o", "en"), ("s1", "p2", "o", "en"), ("s2", "p1", "o", "de")],
        schema,
    )
    frames = {"empty": empty, "nulls": nulls, "shared": shared,
              "shared again": shared.where(F.col("lang") == "en"), "same": shared}
    fused = datasets_counts(frames)
    assert list(fused) == list(frames)
    assert fused == {name: dataset_counts(df) for name, df in frames.items()}
    assert fused["empty"] == {"triples": 0, "nodes": 0, "predicates": 0}
    assert fused["nulls"] == {"triples": 4, "nodes": 1, "predicates": 1}
    assert fused["same"] == fused["shared"] == {"triples": 3, "nodes": 2, "predicates": 2}
    assert fused["shared again"] == {"triples": 2, "nodes": 1, "predicates": 2}


def test_datasets_counts_job_count(spark):
    """Work counter: the counts of transform's eight stats datasets are
    ONE aggregation (<= 3 Spark jobs under AQE: two shuffle map stages
    and the result stage), where one dataset_counts per frame submits
    3 jobs per frame (24)."""
    sc = spark.sparkContext
    frames = {
        f"d{i}": spark.createDataFrame(
            [(f"s{j % 5}", f"p{j % 3}", "o", "en") for j in range(3 * i)],
            "s string, p string, o string, lang string",
        )
        for i in range(8)
    }
    sc.setJobGroup("test_datasets_counts_job_count", "fused stats counts")
    try:
        datasets_counts(frames)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("test_datasets_counts_job_count")
    assert 1 <= len(jobs) <= 3


def test_stats_table_fold_and_pivot_agree(spark):
    """The pivot yields the J4 full-outer fold's table: every group of
    any dataset, a missing cell reads 0."""
    a = spark.createDataFrame([("en",), ("en",), ("de",)], ["lang"])
    b = spark.createDataFrame([("en",), ("vi",)], ["lang"])
    piv = stats_table_pivot({"a": a, "b": b})
    piv_rows = {r["lang"]: (r["a"], r["b"]) for r in piv.collect()}
    assert piv_rows == {"en": (2, 1), "de": (1, 0), "vi": (0, 1)}


def test_rollup_group(spark):
    df = spark.createDataFrame(
        [("en", 10), ("en-de", 5), ("en-vi", 3)], ["lang", "n"]
    )
    out = rollup_group(df, lambda c: c.startswith("en-"), "en-*")
    got = {r["lang"]: r["n"] for r in out.collect()}
    assert got["en-*"] == 8 and got["en"] == 10


def test_percentile_stats_exact_and_approx(spark):
    from dgraph_dbpedia_spark.operators.stats import percentile_stats

    df = spark.createDataFrame(
        [("a", v) for v in range(1, 11)] + [("b", 100)], ["g", "v"]
    )
    out = {r["g"]: r for r in percentile_stats(df, ["g"], "v").collect()}
    # p50 of 1..10 = interpolated 5.5; single-value group = that value
    assert out["a"]["p50"] == 5.5
    assert out["a"]["p90"] == 9.1
    assert out["b"]["p50"] == 100.0

    import pytest as _pytest

    with _pytest.raises(ValueError):
        percentile_stats(df, ["g"], "v", names=["only_one"])


def test_percentile_stats_name_rounding(spark):
    from dgraph_dbpedia_spark.operators.stats import percentile_stats

    df = spark.createDataFrame([("a", v) for v in range(1, 11)], ["g", "v"])
    cols = percentile_stats(df, ["g"], "v", ps=[0.29, 0.57]).columns
    assert cols == ["g", "p29", "p57"]  # int() would give p28/p56


def test_stats_table_null_group_merges_like_pivot(spark):
    """A NULL group key present in several datasets must merge into ONE
    row (the null-safe J4 fold's result)."""
    a = spark.createDataFrame([("en",), (None,)], "lang string")
    b = spark.createDataFrame([(None,), (None,)], "lang string")
    frames = {"d1": a, "d2": b}
    piv = {
        r["lang"]: (r["d1"], r["d2"])
        for r in stats_table_pivot(frames).collect()
    }
    assert piv == {None: (1, 2), "en": (1, 0)}


def test_rollup_group_empty_pred_and_float_columns(spark):
    """A predicate matching zero rows appends NOTHING (no phantom
    all-NULL row); float columns roll up with the union schema intact
    (sums cast back to the source dtype)."""
    from dgraph_dbpedia_spark.operators.stats import rollup_group

    df = spark.createDataFrame(
        [("en-a", 2, 1.5), ("en-b", 3, 2.5), ("de", 4, 9.0)],
        ["lang", "n", "score"],
    ).withColumn("score", F.col("score").cast("float"))

    rolled = rollup_group(
        df, lambda c: c.startswith("en-"), "en-*"
    )
    rows = {r["lang"]: (r["n"], r["score"]) for r in rolled.collect()}
    assert rows["en-*"] == (5, 4.0)
    assert len(rows) == 4

    none = rollup_group(
        df, lambda c: c.startswith("zz-"), "zz-*"
    )
    assert none.count() == 3  # nothing appended, no phantom NULL row
