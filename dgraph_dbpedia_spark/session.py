"""SparkSession builder tuned for the engine.

Mirrors the reference's session setup (local master + AQE on,
DbpediaDgraphSparkApp.scala:68-76) but sized for modern Spark: AQE
coalescing + skew-join handling on, Arrow enabled for the few Pandas-UDF
operators, shuffle partitions matched to cores in local mode.

At cluster scale the same builder applies — only master/memory confs
change; the plan-level decisions (broadcast hints, repartitionByRange,
partitioned writes) live in the operators, not in session conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Entries of Spark's generated-code cache (``spark.sql.codegen.cache.maxEntries``,
#: default 100). A pass compiles a few hundred distinct classes, so at 100
#: every class is evicted before the next pass can reuse it and a warm
#: pass compiles as much as a cold one. Measured with
#: ``observability.codegen_compiles`` on 4 vCPUs, 2g driver (perfbench:
#: pipeline = ingest + transform of 5k subjects, registry = 14 rows at
#: sf0.01), classes compiled per warm pass, 100 -> 1000 entries: pipeline
#: 321 -> 0-4 (cold 327 / 313), registry 342-426 -> 10-52. Medians of
#: alternating runs: registry (10 pairs) 0.995 -> 1.168 rows/s, pipeline
#: (6 pairs) 7480 -> 8749 triples/s, CPU per item -13% / -14%. Plans and
#: outputs are unchanged.
CODEGEN_CACHE_ENTRIES = 1000


def build_session(
    app_name: str = "dgraph_dbpedia_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # FAIR lets the pipelines' concurrently-submitted independent
        # write jobs (plans/ingest.py, plans/transform.py) share executor
        # slots instead of queueing whole jobs FIFO — measured ~1.9x on
        # the transform pipeline
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # harmless compat shim: current testdata ships ts as
        # TIMESTAMP_NTZ (no-op), but older TIMESTAMP(NANOS) layouts read
        # as long under this conf and the event-time helpers
        # (streaming/events.py) adapt to either
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # gzip text sinks: zlib level is a CPU-vs-size dial, honored by
        # the Hadoop codec even on the built-in (non-native) path.
        # Measured on the transform pipeline at 600k subjects: BEST_SPEED
        # 20.9s / 804k triples/s / 28.4 B/triple vs DEFAULT_COMPRESSION
        # 26.2s / 642k/s / 26.2 B/triple — +25% throughput for +8%
        # bytes, the right trade for CPU-bound 100 TB sinks (the .gz
        # format is identical; only the ratio changes)
        .config("spark.hadoop.zlib.compress.level", "BEST_SPEED")
        # scan-split size: intentionally Spark's built-in 128 MB —
        # smaller splits were MEASURED WORSE at scale (32 MB: 2x slower
        # at 168M triples, BENCH_SCALE.md — more scan tasks means more
        # concurrent sort streams per heap); re-measure at the target
        # scale before changing it
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # local mode: the driver heap IS the executor heap. History: with
        # retained frames cached in the unified pool (pre-r6), 12g +
        # spill beat larger heaps (24g lost to full-GC pauses). After the
        # r6 sink fix (DISK_ONLY retained frames + 5-worker waves) the
        # unified pool holds only execution memory, and the calculus
        # INVERTED — 16g ParallelGC now wins at every scale measured
        # (BENCH_SCALE.md r6): sf0.1 18.0s/935k vs 22.8s/738k at 12g;
        # 84M triples 70.3s/1.19M vs 71.8s/1.17M (spill 9.6 GB -> ~1);
        # 168M triples 174s/964k vs 214s/785k (spill 70 GB -> 13).
        # Re-measure this pair whenever the sink phase changes shape.
        # Only effective when this process launches the JVM; cluster
        # deployments size executors instead.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # throughput GC for batch pipelines: measured transform 38.3s
        # (ParallelGC) vs 43.5s (G1) at 600k subjects on local[32]; G1's
        # concurrent cycles pay off for latency, not these bulk jobs.
        # Only effective when this process launches the JVM (CLI,
        # tools/pipeline_bench.py) — a pre-existing JVM keeps its GC
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        # keep every class a pass generates compiled (CODEGEN_CACHE_ENTRIES).
        # A static SQL conf: the cache is sized once per JVM, so this is
        # only effective when this process builds the first session — a
        # pre-existing session keeps its cache
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
