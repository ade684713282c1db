"""Parquet triple source with partition pruning and missing-input fallback.

Reference behavior (DbpediaDgraphSparkApp.scala:474-489):
- read the partitioned triple parquet for one dataset (S2)
- filter to the selected languages — a filter on the ``lang`` partition
  column, so Catalyst prunes partition directories before the scan (P5)
- if the dataset path does not exist, substitute an empty, correctly
  typed DataFrame so downstream unions/joins still resolve (S4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dgraph_dbpedia_spark.model import TRIPLE_SCHEMA


def fs_exists(spark: SparkSession, path: str) -> bool:
    """Path existence through Spark's Hadoop filesystem layer — the
    check that stays correct when ``path`` is hdfs:// or s3a:// on a
    real cluster (a bare ``os.path.exists`` only sees the driver's
    local disk and silently reports False for every remote path,
    turning the S4 fallback into an always-empty read). Bare and
    ``file:`` paths go through Hadoop's LocalFileSystem. A filesystem
    the session cannot reach (no client for the scheme, no
    credentials) raises: it is not a missing dataset."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def fs_delete(spark: SparkSession, path: str) -> None:
    """Recursive delete through the Hadoop FS layer (the overwrite-
    semantics twin of :func:`fs_exists`). A missing path is a no-op; an
    unreachable filesystem raises, like :func:`fs_exists`."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(hpath, True)


def read_triples_parquet(
    spark: SparkSession,
    path: str,
    languages: list[str] | None = None,
) -> DataFrame:
    if not fs_exists(spark, path):
        return spark.createDataFrame([], TRIPLE_SCHEMA)
    # explicit schema, not inference: an empty dataset under the
    # selected languages writes a _SUCCESS-only dir, and schema
    # inference on it raises UNABLE_TO_INFER_SCHEMA — the exact case
    # this S4 fallback exists to tolerate. The known schema also skips
    # a footer-read job on the happy path.
    df = spark.read.schema(TRIPLE_SCHEMA).parquet(path)
    if languages:
        # partition-column filter -> directory pruning, no data read for
        # unselected languages
        df = df.where(F.col("lang").isin(languages))
    return df
