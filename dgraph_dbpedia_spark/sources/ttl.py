"""Turtle N-Triples line reader — text scan + native-expression parser.

Reference behavior (DbpediaToParquetSparkApp.scala:142-149, SPARK.md:39-49):
read ``.ttl`` files as lines, drop ``#`` comments, strip the trailing
`` .``, split into subject / predicate / object at the first two spaces
(the object may itself contain spaces), attach a constant ``lang``.

The reference does this with a typed ``Dataset.map`` (JVM lambda). A
Python translation would put a row-at-a-time UDF in the hottest path of
the whole engine, so instead the parse is pure native expressions —
``F.split(value, ' ', 3)`` (split-with-limit, Spark >= 3.0) — which keeps
every row inside whole-stage codegen. At 100 TB this is the difference
between a scan-rate pipeline and a Python-serde bottleneck.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def parse_ttl_lines(lines: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """``value: string`` lines -> ``s, p, o`` triple columns (plus any
    ``keep`` passthrough columns, e.g. a partition-discovered ``lang``
    — this is the ONE definition of the line parse; the RDF read-back
    in plans/transform.py reuses it rather than forking the
    load-bearing split expression).

    Native-only pipeline: comment filter (P1), trailing `` .`` strip +
    3-way limited split (P2), projection (P3).

    Fixed columns: value ``value``."""
    value = F.col("value")
    # strip the trailing " ." (2 chars) then split at the first two
    # spaces. Column-API substring, not an f-string F.expr
    parts = F.split(
        F.substring(value, F.lit(1), F.length(value) - 2), " ", 3
    )
    return (
        lines.where(~value.startswith("#"))
        .where(F.length(value) > 2)
        .select(
            # F.get (not getItem): ANSI mode throws on short splits; a
            # malformed line yields nulls instead of failing the job
            F.get(parts, 0).alias("s"),
            F.get(parts, 1).alias("p"),
            F.get(parts, 2).alias("o"),
            *[F.col(c) for c in keep],
        )
    )


def read_ttl(spark: SparkSession, *paths: str, lang: str | None = None) -> DataFrame:
    """Read one or more ``.ttl`` files into the triple table (S1).

    When ``lang`` is given, attaches the constant column (P4,
    DbpediaToParquetSparkApp.scala:77).
    """
    df = parse_ttl_lines(spark.read.text(list(paths)))
    if lang is not None:
        df = df.withColumn("lang", F.lit(lang))
    return df
