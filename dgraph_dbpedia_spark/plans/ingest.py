"""Ingest pipeline: .ttl text -> partitioned sorted Parquet triple tables.

Parity with ``DbpediaToParquetSparkApp`` (DbpediaToParquetSparkApp.scala:41-135):
per dataset, read each language's ttl file, attach ``lang``, conditionally
union the ``{dataset}_en_uris_{lang}`` file under pseudo-language
``en-{lang}`` when ``en`` is selected, fold-union all languages, and write
partitioned by ``lang`` / file-split by ``s`` / sorted by ``(s, p, o)``.
Prints the reference's triples/nodes/predicates stats per dataset.

Layout on disk: ``{out}/{dataset}.parquet/lang=*/part-*`` — readers get
lang-partition pruning for free (SURVEY §4).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dgraph_dbpedia_spark.observability import phase
from dgraph_dbpedia_spark.sources.parquet import fs_delete, fs_exists, read_triples_parquet
from dgraph_dbpedia_spark.sources.ttl import read_ttl
from dgraph_dbpedia_spark.sources.writers import write_partitioned_by
from dgraph_dbpedia_spark.sources import catalog
from dgraph_dbpedia_spark.operators.stats import dataset_counts


@dataclass
class IngestResult:
    dataset: str
    path: str
    stats: dict[str, int] = field(default_factory=dict)


def load_dataset(
    spark: SparkSession,
    root: str,
    dataset: str,
    languages: list[str],
) -> DataFrame:
    """Union of all languages' ttl files for one dataset, with the
    conditional en_uris union (U1+U3,
    DbpediaToParquetSparkApp.scala:73-84)."""
    frames: list[DataFrame] = []
    for lang in languages:
        path = catalog.dataset_path(root, lang, dataset)
        # Hadoop-FS existence (not os.path): the ingest root is
        # hdfs://-or-s3a:// on a real cluster, where a driver-local
        # check would silently skip every language
        if not fs_exists(spark, path):
            continue
        df = read_ttl(spark, path, lang=lang)
        en_uris = catalog.dataset_path(root, lang, f"{dataset}_en_uris")
        if "en" in languages and fs_exists(spark, en_uris):
            df = df.unionByName(read_ttl(spark, en_uris, lang=f"en-{lang}"))
        frames.append(df)
    if not frames:
        from dgraph_dbpedia_spark.model import TRIPLE_SCHEMA

        return spark.createDataFrame([], TRIPLE_SCHEMA)
    return reduce(DataFrame.unionByName, frames)


#: concurrent per-dataset ingest jobs
INGEST_WORKERS = 4


def ingest(
    spark: SparkSession,
    root: str,
    out: str,
    languages: list[str] | None = None,
    datasets: list[str] | None = None,
    print_stats: bool = True,
) -> list[IngestResult]:
    """Per-dataset jobs are independent (separate inputs, separate output
    trees), so they are submitted from a small driver-side thread pool
    (``INGEST_WORKERS`` wide):
    Spark's scheduler interleaves their stages and keeps executors busy
    while any one job is in its sampling/commit phases. The reference
    runs datasets serially (DbpediaToParquetSparkApp.scala:71-95); the
    result is identical, only the job submission overlaps. Each
    dataset's jobs run as phase ``ingest.<dataset>``."""
    languages = languages or catalog.list_languages(root)
    datasets = datasets or catalog.list_datasets(root)
    datasets = [d for d in datasets if not d.endswith("_en_uris")]

    def run(dataset: str) -> IngestResult:
        parquet_path = os.path.join(out, f"{dataset}.parquet")
        try:
            with phase(spark, f"ingest.{dataset}"):
                df = load_dataset(spark, root, dataset, languages)
                write_partitioned_by(
                    df,
                    partition_cols=["lang"],
                    more_file_cols=["s"],
                    sort_cols=["p", "o"],
                    path=parquet_path,
                )
                result = IngestResult(dataset, parquet_path)
                if print_stats:
                    # read back through the schema-aware reader: a dataset
                    # with zero rows under the selected languages writes a
                    # _SUCCESS-only dir, where schema inference would raise
                    result.stats = dataset_counts(
                        read_triples_parquet(spark, parquet_path)
                    )
                return result
        except BaseException:
            # a failed dataset leaves no table behind (partial, or a
            # previous run's) that a later transform could read as whole
            fs_delete(spark, parquet_path)
            raise

    from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait

    with ThreadPoolExecutor(max_workers=INGEST_WORKERS) as pool:
        futures = [pool.submit(run, d) for d in datasets]
        # fail fast (transform's shape): on the first failed dataset,
        # cancel every dataset that has not started and re-raise — left
        # to the pool's exit, every queued dataset would be written and
        # read back before the error surfaced. Datasets already running
        # finish (the pool's exit waits for them); their Spark jobs are
        # not cancelled. The failed dataset's output is deleted (run).
        done, _ = wait(futures, return_when=FIRST_EXCEPTION)
        failed = [f for f in futures if f in done and f.exception()]
        if failed:
            for f in futures:
                f.cancel()
            failed[0].result()
        return [f.result() for f in futures]
