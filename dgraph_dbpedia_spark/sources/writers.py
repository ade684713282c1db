"""Partitioned, sorted, evenly-sized sinks.

Re-implements the semantics of the reference's ``writePartitionedBy``
helper (used at DbpediaToParquetSparkApp.scala:89-95 and
DbpediaDgraphSparkApp.scala:503-510; the reference pulls it from the
spark-extension library): range-repartition the frame by the partition
columns plus optional extra file columns so output files are evenly
sized and few per small partition, sort within each task by the full
sort key for clustered deterministic files, then write with Hive-style
``partitionBy`` so readers get partition pruning for free.

Scale note: ``repartitionByRange`` inserts one range-partitioner shuffle
(with a sampling pass) — that is the *only* shuffle this sink adds, and
it simultaneously solves small-files, skewed-partition-size, and
unsorted-output. At 100 TB, `n_partitions` should be sized so each task
writes ~128-512 MB; AQE does not coalesce after an explicit
repartitionByRange, which is what we want here (the layout is the point).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame


def write_partitioned_by(
    df: DataFrame,
    partition_cols: Sequence[str],
    more_file_cols: Sequence[str] = (),
    sort_cols: Sequence[str] = (),
    n_partitions: int | None = None,
    projection: Sequence[Column] | None = None,
    fmt: str = "parquet",
    options: dict[str, str] | None = None,
    path: str | None = None,
    coalesce_to: int | None = None,
) -> None:
    """Range-partition + sort-within + partitionBy write (S5/S6/S8).

    ``partition_cols`` become Hive partition directories; ``more_file_cols``
    additionally spread large partitions across several files;
    ``sort_cols`` order rows inside each file (after the implicit
    partition/file columns). ``coalesce_to`` replaces the range shuffle
    with a plain coalesce — N tasks total, so each partition dir gets at
    most N files (the reference's ``coalesce(1)`` schema sink, S7/X3);
    only sensible for frames that are small at any scale.
    """
    range_cols = [*partition_cols, *more_file_cols]
    full_sort = [*partition_cols, *more_file_cols, *sort_cols]

    if coalesce_to:
        out = df.coalesce(coalesce_to)
    elif n_partitions:
        out = df.repartitionByRange(n_partitions, *range_cols)
    else:
        out = df.repartitionByRange(*range_cols)
    out = out.sortWithinPartitions(*full_sort)
    if projection is not None:
        # projection applied after the sort so sort keys need not survive it
        out = out.select(*projection, *[c for c in partition_cols])
    writer = out.write.mode("overwrite").partitionBy(*partition_cols)
    for k, v in (options or {}).items():
        writer = writer.option(k, v)
    writer.format(fmt).save(path)
