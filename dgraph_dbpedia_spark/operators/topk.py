"""Top-k values per group — the reference's flagship operator (W1+J2).

Reference semantics (DbpediaDgraphSparkApp.scala:121-137, SPARK.md:195-222):
count occurrences of a value per group, rank per group by count
descending with a *lexicographic tie-break on the value* for
determinism, keep rank <= k, then use the survivors as a left-semi-join
dimension to filter the fact table.

Scale shape: the count is a partial+final hash aggregate (map-side
combine — one shuffle over (group, value), cardinality = #distinct
pairs, tiny relative to the fact table). The window runs over the
*aggregated* frame, so its sort is proportional to #distinct pairs, not
#rows. The resulting dimension is k * #groups rows — always broadcast
it; the semi-join then touches each fact row exactly once with no
fact-side shuffle. That plan survives a 1000-executor / 100 TB scale-up:
the only full-data movement is the initial scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def top_k_per_group(
    df: DataFrame,
    value_col: str,
    k: int,
    count_col: str = "count",
) -> DataFrame:
    """Return ``(lang, value_col, count_col)`` for the k most frequent
    values per language; deterministic tie-break = value asc.

    Fixed columns: group ``lang``."""
    counts = df.groupBy("lang", value_col).agg(F.count(F.lit(1)).alias(count_col))
    w = Window.partitionBy("lang").orderBy(F.col(count_col).desc(), F.col(value_col).asc())
    return (
        counts.withColumn("__rank", F.row_number().over(w))
        .where(F.col("__rank") <= k)
        .drop("__rank")
    )


def filter_to_top_k(
    df: DataFrame,
    value_col: str,
    k: int,
) -> DataFrame:
    """Keep only rows whose value is in their language's top-k (J2
    semi-join).

    Fixed columns: group ``lang``."""
    dim = top_k_per_group(df, value_col, k).select("lang", value_col)
    return df.join(F.broadcast(dim), ["lang", value_col], "left_semi")
