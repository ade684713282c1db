"""Per-group majority vote (argmax by frequency) — W2+J1.

Reference semantics (DbpediaDgraphSparkApp.scala:199-217, SPARK.md:159-185):
for each predicate, find the most frequent datatype (ties broken
lexicographically on the datatype for determinism), then keep only the
fact rows whose (predicate, datatype) matches the winner — a left-semi
join against the 1-row-per-group winners dimension.

This is ``top_k_per_group`` with k=1; kept as its own named operator
because the reference treats it as a distinct semantic step (datatype
disambiguation) and the tie-break column differs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def majority_value_per_group(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    count_col: str = "count",
) -> DataFrame:
    """One row per group: the most frequent value (tie -> value asc)."""
    counts = df.groupBy(*group_cols, value_col).agg(F.count(F.lit(1)).alias(count_col))
    w = Window.partitionBy(*group_cols).orderBy(F.col(count_col).desc(), F.col(value_col).asc())
    return (
        counts.withColumn("__rank", F.row_number().over(w))
        .where(F.col("__rank") == 1)
        .drop("__rank")
    )


def filter_to_majority(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Keep only rows matching their group's majority value (J1)."""
    dim = majority_value_per_group(df, group_cols, value_col).select(
        *group_cols, value_col
    )
    return df.join(F.broadcast(dim), [*group_cols, value_col], "left_semi")
