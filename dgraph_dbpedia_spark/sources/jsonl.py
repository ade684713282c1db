"""JSONL (newline-delimited JSON) corpus connector.

JSONL is the de-facto interchange format of LLM training corpora
(one document object per line — RedPajama, Dolma, FineWeb all ship
it), so the engine reads and writes it natively alongside the
reference's text/Parquet surface (SURVEY §2.1; the reference itself
is ttl+Parquet only — this is extension surface).

Scale rules encoded here:
- ALWAYS an explicit schema. ``inferSchema`` is a full extra pass
  over the data — at 100 TB that doubles the scan before any work
  happens, and a drifting inferred type silently changes downstream
  plans.
- ``multiLine=False`` (set explicitly): line-delimited files
  split by NEWLINE across executors, so a single 1 TB shard still
  parallelizes; multiLine JSON is one-task-per-file.
- PERMISSIVE mode with an explicit corrupt-record column: a broken
  line in a trillion-line corpus must neither kill the job
  (FAILFAST) nor vanish silently (DROPMALFORMED) — it lands in
  ``_corrupt`` for audit, count, and quarantine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def read_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Read a JSONL corpus with the scale rules above. The returned
    frame has the ``DOCUMENTS_SCHEMA`` columns plus ``_corrupt`` (the
    raw line of a malformed record, NULL for clean rows); use
    :func:`split_corrupt` to quarantine."""
    # fresh StructType: StructType.add MUTATES the receiver, which
    # would grow the shared module-level schema on every call
    full = T.StructType(
        list(DOCUMENTS_SCHEMA.fields) + [T.StructField("_corrupt", T.StringType())]
    )
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        # explicit, not the implicit default: multiLine=True would be
        # one-task-per-file on TB shards (module-header scale rule)
        .option("multiLine", False)
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
    )


def split_corrupt(df: DataFrame, cache: bool = True) -> tuple[DataFrame, DataFrame]:
    """(clean_rows_without_the_audit_column, corrupt_lines) — the
    quarantine split every permissive ingest should end with.

    ``cache=True`` persists the parsed frame: Spark REFUSES a query
    whose only referenced column on a raw JSON scan is the corrupt
    record (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN — a
    bare ``bad.count()`` is exactly that after pruning), and caching
    is the engine's documented escape. It also means one parse feeds
    both halves. Both returned frames carry the release handle
    (cachectl). Set ``cache=False`` when only the clean half will be
    read and the corpus is too large to pin — then query ``bad`` only
    with at least one data column in the plan.

    Fixed columns: corrupt record ``_corrupt``."""
    from dgraph_dbpedia_spark.operators.cachectl import CacheScope

    with CacheScope() as scope:
        handles = [scope.persist(df)] if cache else []
        clean = df.where(F.col("_corrupt").isNull()).drop("_corrupt")
        bad = df.where(F.col("_corrupt").isNotNull()).select("_corrupt")
        return scope.hand(clean, *handles), scope.hand(bad, *handles)


def write_jsonl(df: DataFrame, path: str, n_files: int | None = None) -> None:
    """Write line-delimited JSON (UTF-8, one object per line — inner
    newlines are JSON-escaped so the line contract holds for any
    text). ``n_files`` coalesces for handoff to line-oriented
    consumers; leave None to keep the input parallelism."""
    out = df.coalesce(n_files) if n_files else df
    out.write.mode("overwrite").json(path)
