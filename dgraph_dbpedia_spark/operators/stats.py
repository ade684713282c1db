"""Dataset statistics — counts, distinct counts, per-group pivots.

Reference behavior: per-dataset triple/node/predicate counts
(DbpediaToParquetSparkApp.scala:98-106, DbpediaDgraphSparkApp.scala:154-158),
a per-language stats table assembled by folding full-outer joins on
``lang`` over one count-frame per dataset (J4, :157), an ``en-*`` rollup
row appended via groupBy().sum() + union (A4+U2, :163-171).

The per-language table is built as ONE tag + union + pivot
(:func:`stats_table_pivot`), which yields the J4 fold's table in a
single shuffle (SURVEY §1 allows either form). Likewise the
per-dataset counts are one tagged union and ONE ``groupBy(dataset)``
aggregation for any number of datasets (:func:`datasets_counts`), not
one aggregation per dataset.

Scale notes: exact ``countDistinct`` on an unbounded column is a full
shuffle of that column.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dgraph_dbpedia_spark.operators.cachectl import CacheScope


def datasets_counts(frames: dict[str, DataFrame]) -> dict[str, dict[str, int]]:
    """triples / distinct nodes / distinct predicates (A5+A6) of every
    frame in ``frames``, keyed by its name, from ONE aggregation: each
    frame's ``(s, p)`` is tagged with its name, the tagged frames are
    unioned and a single ``groupBy(dataset)`` computes all three counts
    — one shuffle for any number of datasets instead of one aggregation
    each. A dataset with no rows reads 0/0/0; one frame may be bound to
    several names (each name counts it in full)."""
    tag = "__dataset"
    tagged = [
        df.select(F.lit(name).alias(tag), "s", "p") for name, df in frames.items()
    ]
    rows = (
        reduce(DataFrame.unionByName, tagged)
        .groupBy(tag)
        .agg(
            F.count(F.lit(1)).alias("triples"),
            F.countDistinct("s").alias("nodes"),
            F.countDistinct("p").alias("predicates"),
        )
        .collect()
    )
    counts = {name: {"triples": 0, "nodes": 0, "predicates": 0} for name in frames}
    for r in rows:
        counts[r[tag]] = {k: r[k] for k in ("triples", "nodes", "predicates")}
    return counts


def dataset_counts(df: DataFrame) -> dict[str, int]:
    """:func:`datasets_counts` of one frame."""
    return datasets_counts({"": df})[""]


def counts_per_group(df: DataFrame) -> DataFrame:
    """``groupBy(lang).count()`` as ``(lang, n)`` (A3,
    DbpediaDgraphSparkApp.scala:156).

    Fixed columns: group ``lang``, count ``n``."""
    return df.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))


def stats_table_pivot(frames: dict[str, DataFrame]) -> DataFrame:
    """Per-group x per-dataset row counts, missing cells 0: the table
    the reference builds by folding full-outer joins on ``lang``
    over one count frame per dataset (J4), computed as tag + union +
    pivot — one shuffle however many datasets there are. A NULL group
    is one row, counted across every dataset.

    Fixed columns: group ``lang``."""
    tagged = [
        df.select(F.col("lang"), F.lit(name).alias("__dataset"))
        for name, df in frames.items()
    ]
    unioned = reduce(DataFrame.unionByName, tagged)
    return (
        unioned.groupBy("lang")
        .pivot("__dataset", list(frames.keys()))
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


def rollup_group(df: DataFrame, pred, label: str) -> DataFrame:
    """Aggregate all rows matching ``pred`` into a single labelled row and
    append it (A4+U2, DbpediaDgraphSparkApp.scala:163-171) — the
    reference's ``en-*`` rollup.

    Fixed columns: group ``lang``."""
    dtypes = dict(df.dtypes)
    num_cols = [
        c
        for c, t in df.dtypes
        if c != "lang"
        and (t in ("bigint", "int", "smallint", "tinyint", "double", "float")
             or t.startswith("decimal"))
    ]
    # WIDEN the base columns to the sums' natural types (sum(int) is
    # bigint, sum(float) is double, sum(decimal(p,s)) is
    # decimal(p+10,s)) — casting the sums DOWN would overflow (ANSI
    # ArithmeticException, or a silent wrap/NULL) on any rollup
    # exceeding the source type's range; widening is lossless. groupBy
    # on the literal label — NOT a global agg — so a predicate matching
    # zero rows appends NOTHING instead of a phantom all-NULL row
    rolled = (
        df.where(pred(F.col("lang")))
        .groupBy(F.lit(label).alias("lang"))
        .agg(*[F.sum(c).alias(c) for c in num_cols])
        .select("lang", *num_cols)
    )
    rolled_types = dict(rolled.dtypes)
    base = df
    for c in num_cols:
        if dtypes[c] != rolled_types[c]:
            base = base.withColumn(c, F.col(c).cast(rolled_types[c]))
    return base.unionByName(rolled)


def per_lang_stats_tables(frames: dict[str, DataFrame]) -> tuple[DataFrame, DataFrame]:
    """The reference flagship's per-language x per-dataset count tables
    (DbpediaDgraphSparkApp.scala:155-179): the per-dataset counts as
    ONE tag + union + pivot (:func:`stats_table_pivot`, equal to the
    reference's J4 full-outer fold), split into

    - the MAIN table: all non-``en-*`` languages plus ONE ``en-*``
      rollup row (groupBy().sum() over the pseudo-language rows, U2),
      ordered by language;
    - the EN-STAR table: the individual ``en-*`` rows, ordered.

    Both inputs to the union come from one cached pivot, so the fact
    frames are scanned once per dataset regardless of how many tables
    are printed.

    Fixed columns: group ``lang``."""
    with CacheScope() as scope:
        tbl = scope.persist(stats_table_pivot(frames))
        num_cols = [c for c in tbl.columns if c != "lang"]
        en_star = tbl.where(F.col("lang").startswith("en-"))
        rolled = (
            en_star.withColumn("lang", F.lit("en-*"))
            .groupBy("lang")
            .agg(*[F.sum(c).alias(c) for c in num_cols])
        )
        main = (
            tbl.where(~F.col("lang").startswith("en-"))
            .unionByName(rolled)
            .orderBy("lang")
        )
        # both outputs carry the pivot's cache handle so a caller can free
        # it (cachectl.release)
        return (
            scope.hand(main, tbl),
            scope.hand(en_star.orderBy("lang"), tbl),
        )


def percentile_stats(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    ps: list[float] = (0.5, 0.9, 0.99),
    names: list[str] | None = None,
) -> DataFrame:
    """Per-group value-distribution percentiles — the corpus profiling
    step (document length / token count / score distributions) that
    gates curation thresholds.

    Uses the exact ``percentile`` aggregate (linear interpolation at
    ``p*(n-1)``, matching SQL ``quantile_cont``), so the DuckDB oracle
    replays it; the aggregate buffers each group's values.

    Returns one row per group with a rounded double column per
    percentile (default names ``p50, p90, p99``).

    Interpolating sibling of :func:`..textstats.token_percentiles`,
    which returns exact NEAREST-RANK integer token counts (the form a
    length gate consumes) rather than interpolated doubles.
    """
    # round, not int(): int(0.29 * 100) float-truncates to 28
    names = names or [f"p{round(p * 100)}" for p in ps]
    if len(names) != len(ps):
        raise ValueError("names must match ps")
    clash = set(names) & set(group_cols)
    if clash:
        raise ValueError(
            f"percentile names collide with group columns: {sorted(clash)}"
        )
    agg = F.percentile(value_col, F.array(*[F.lit(p) for p in ps]))
    # collision-proof temp alias (same hazard ADVICE r5 flagged for a
    # fixed "__rn" in stratified_sample)
    tmp = "__ps"
    while tmp in group_cols:
        tmp = "_" + tmp
    grouped = df.groupBy(*group_cols).agg(agg.alias(tmp))
    return grouped.select(
        *group_cols,
        *[
            F.round(F.col(tmp).getItem(i).cast("double"), 4).alias(n)
            for i, n in enumerate(names)
        ],
    )
