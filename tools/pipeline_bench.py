"""Standalone pipeline benchmark: generate a reference-shaped ttl
corpus, run ingest (.ttl -> parquet) and transform (parquet -> RDF +
schema), and print ONE JSON line with wall-clock, triples/s, output
footprint, and spill metrics.

Run by bench.py in a SUBPROCESS so the pipelines get a fresh JVM: the
query suite that precedes them in bench.py leaves the shared driver
heap fragmented/grown (measured ~1.7x slower transform in the shared
JVM vs a fresh one at 600k subjects), which would understate pipeline
throughput for no reason a cluster deployment would share.

Usage: python tools/pipeline_bench.py [sf]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dgraph_dbpedia_spark.session import build_session


def bench_pipelines(spark, sf: float) -> dict[str, float]:
    """Ingest and transform wall-clock + triples/s on a generated
    corpus. Corpus generation and the throughput-denominator counts run
    outside the timed windows."""
    from benchgen import LANGS, generate_ttl_corpus, tree_bytes
    from dgraph_dbpedia_spark.plans.ingest import ingest
    from dgraph_dbpedia_spark.plans.transform import TransformConfig, transform

    # 6M*sf subjects (600k at sf0.1): large enough that per-job fixed
    # overhead (commit protocol, range sampling, 9 independent sinks)
    # stops dominating — throughput at 60k subjects understated the
    # pipeline by >2x (r1 verdict)
    n_subjects = int(os.environ.get("SPARK_GRAFT_BENCH_SUBJECTS", int(6_000_000 * sf)))
    # validate the knob BEFORE paying for corpus generation. Default 4:
    # r8 observed a monotone warm-up..iter2 improvement (43.7 -> 27.4 s
    # transform) on a page-cache-churned box — best-of-2 under-damps —
    # and the r15 session measured post-warmup samples [51.7, 40.2,
    # 40.9, 27.8, 29.4] on a HEALTHY canary: best-of-3 would have
    # recorded 40.2 for a pipeline whose converged number is ~28. The
    # fourth sample is ~35 s of insurance on the round's headline gate.
    iters = int(os.environ.get("SPARK_GRAFT_PIPELINE_ITERS", "4"))
    if iters < 1:
        raise ValueError(
            "SPARK_GRAFT_PIPELINE_ITERS must be >= 1 (set "
            "SPARK_GRAFT_PIPELINE=0 in bench.py to skip the section)"
        )
    work = tempfile.mkdtemp(prefix="sparkgraft-bench-")
    try:
        ttl_root = f"{work}/ttl"
        generate_ttl_corpus(spark, ttl_root, n_subjects)

        # steady-state throughput: one untimed WARM-UP run (JIT, codegen
        # cache, sink committers, page cache for the ttl corpus), then
        # `iters` timed runs, best-of. A single sample right after heavy
        # unrelated work (page-cache eviction, cold JIT) measured up to
        # 2.6x slower than the same pipeline seconds later — machine
        # state, not plan quality — and best-of-2 WITHOUT a warm-up
        # still recorded a 1.5x ingest swing between r6 and r7. All
        # samples are reported so a noisy run is visible in the artifact.
        warmup = os.environ.get("SPARK_GRAFT_PIPELINE_WARMUP", "1") != "0"

        ingest_samples: list[float] = []
        for i in range(iters + (1 if warmup else 0)):
            start = time.perf_counter()
            results = ingest(spark, ttl_root, f"{work}/parquet", print_stats=False)
            took = time.perf_counter() - start
            if not (warmup and i == 0):
                ingest_samples.append(round(took, 3))
        ingest_s = min(ingest_samples)
        in_triples = sum(
            spark.read.parquet(r.path).count() for r in results
        )

        cfg = TransformConfig(
            write_types=True,
            externalise_uris=True,
            remove_language_tags=True,
            top_infobox_properties_per_lang=100,
            print_stats=False,
        )
        transform_samples: list[float] = []
        for i in range(iters + (1 if warmup else 0)):
            start = time.perf_counter()
            outputs = transform(
                spark, f"{work}/parquet", f"{work}/rdf", languages=list(LANGS), cfg=cfg
            )
            took = time.perf_counter() - start
            if not (warmup and i == 0):
                transform_samples.append(round(took, 3))
        transform_s = min(transform_samples)
        out_triples = sum(df.count() for df in outputs.values())

        parquet_bytes = tree_bytes(f"{work}/parquet")
        rdf_gz_bytes = tree_bytes(f"{work}/rdf")

        from dgraph_dbpedia_spark.observability import collect_spill_metrics

        spill = collect_spill_metrics(spark)

        return {
            "subjects": n_subjects,
            "ingest_sec": round(ingest_s, 3),
            "ingest_samples": ingest_samples,
            "ingest_triples": in_triples,
            "ingest_triples_per_sec": round(in_triples / ingest_s),
            "transform_sec": round(transform_s, 3),
            "transform_samples": transform_samples,
            "transform_out_triples": out_triples,
            "transform_triples_per_sec": round(in_triples / transform_s),
            # footprint comparables: BASELINE parquet 42 GB / RDF.gz 21 GB
            # at 2.17 B triples ~= 19 / 9.7 bytes per triple
            "parquet_bytes_per_triple": round(parquet_bytes / in_triples, 2),
            "rdf_gz_bytes_per_triple": round(rdf_gz_bytes / out_triples, 2),
            # X5 parity: the reference prints spill/peak at end of run
            "memory_spill_gb": round(spill.memory_bytes_spilled / 1024**3, 3),
            "disk_spill_gb": round(spill.disk_bytes_spilled / 1024**3, 3),
            "peak_execution_memory_mb": round(
                spill.peak_execution_memory / 1024**2, 1
            ),
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> None:
    sf = float(sys.argv[1]) if len(sys.argv) > 1 else 0.1
    spark = build_session(app_name="dgraph_dbpedia_spark-pipeline-bench")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        print(json.dumps(bench_pipelines(spark, sf)))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
