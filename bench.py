"""Benchmark: run the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print TWO JSON
lines: first the full detail {"metric": ..., "value": total_sec,
"unit": "sec", "queries": {name: sec}, "sf": ..., "pipelines": ...},
then a COMPACT summary (totals + pipelines + 5 slowest queries) as the
LAST line — the driver keeps only a bounded stdout tail and parses the
final line, and the 70-query detail line overflows that window.

Each query is executed with a `noop`-format write so EVERY output column
is evaluated — a plain count() lets Catalyst prune the projection and
times a row-count scan instead of the operator (confirmed for ~13
projection-only queries in round 1). Timing covers plan + execution
(not session startup).

Additionally measures the two reference pipelines end-to-end on a
generated reference-shaped ttl corpus (~20 triples/subject, subjects
scaled by sf) and reports triples/s under "pipelines" — the unit
BASELINE.md publishes (ingest ~300k, transform ~400k triples/s on
8 cores). Set SPARK_GRAFT_PIPELINE=0 to skip that section.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod
from dgraph_dbpedia_spark.session import build_session


def machine_canary() -> dict[str, float]:
    """Fixed machine-state probe (VERDICT r12 #4): a single-threaded
    512x512 numpy matmul (GFLOPS) and a pure-Python xorshift loop
    (M ops/s), each in a SUBPROCESS with BLAS pinned to one thread so
    the reading is a direct CPU-clock measurement independent of the
    suite's thread pools. Recorded at bench start AND end: a sandbox
    CPU-throttled run (BENCH_SCALE r12 documented monotone afternoon
    degradation) now self-documents in the artifact instead of being
    narrated. A canary failure is recorded as {'error': ...} rather
    than aborting the bench before a single measurement (ADVICE r13)."""
    code = (
        "import time\n"
        "import numpy as np\n"
        "a = np.ones((512, 512)); b = np.ones((512, 512))\n"
        "a @ b; a @ b\n"
        "t0 = time.perf_counter()\n"
        "for _ in range(40): a @ b\n"
        "dt = time.perf_counter() - t0\n"
        "x = 0x9E3779B9\n"
        "t1 = time.perf_counter()\n"
        "for _ in range(2_000_000):\n"
        "    x ^= (x << 13) & 0xFFFFFFFF; x ^= x >> 17\n"
        "dp = time.perf_counter() - t1\n"
        "import json\n"
        "print(json.dumps({'gflops_1t': round(2 * 512**3 * 40 / dt / 1e9, 2),"
        " 'py_mops': round(2 * 2_000_000 / dp / 1e6, 2)}))\n"
    )
    env = dict(
        os.environ,
        OMP_NUM_THREADS="1",
        OPENBLAS_NUM_THREADS="1",
        MKL_NUM_THREADS="1",
        BLIS_NUM_THREADS="1",
    )
    import subprocess

    try:
        out = subprocess.run(
            [sys.executable, "-c", code],
            capture_output=True,
            text=True,
            env=env,
            check=True,
        )
        return json.loads(out.stdout.strip().splitlines()[-1])
    except (subprocess.SubprocessError, OSError, ValueError, IndexError) as e:
        # IndexError: a zero-exit subprocess with EMPTY stdout makes
        # splitlines()[-1] raise outside the original tuple (ADVICE r14)
        # a transient canary failure must not abort the bench before a
        # single measurement is taken (ADVICE r13)
        return {"error": f"{type(e).__name__}: {e}"}


def bench_pipelines(sf: float) -> dict[str, float]:
    """Ingest (.ttl -> parquet) and transform (parquet -> RDF + schema)
    wall-clock + triples/s, run in a SUBPROCESS (tools/pipeline_bench.py)
    so the pipelines get a fresh JVM: after the 50+ query suite the
    shared driver heap is grown/fragmented and the same transform runs
    ~1.7x slower than in a clean session — state no cluster deployment
    of the pipeline would carry."""
    import subprocess

    script = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "tools", "pipeline_bench.py"
    )
    out = subprocess.run(
        [sys.executable, script, str(sf)],
        capture_output=True,
        text=True,
        check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    canary_start = machine_canary()
    spark = build_session(app_name="dgraph_dbpedia_spark-bench")

    # warm the JVM/codegen paths so the first timed query doesn't carry
    # one-time engine costs: parquet footer reads, the codegen compiler,
    # BroadcastExchange + BroadcastNestedLoopJoin (crossJoin-broadcast),
    # higher-order array lambdas, TakeOrdered, and the noop datasource.
    # Measured: a query using these paths runs ~3.6s cold vs ~0.9s warm
    # at sf0.1 — that delta is engine class-loading/JIT, not plan cost,
    # and it previously landed on whichever query happened to run first.
    from pyspark.sql import functions as _F

    _warm = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(100)
    _dim = _warm.select("lang").distinct()
    _one = _warm.agg(_F.avg(_F.length("text")).alias("__avg"))
    (
        _warm.join(_F.broadcast(_dim), "lang")
        .withColumn(
            "__hof",
            _F.size(_F.filter(_F.split("text", " "), lambda t: t != "")),
        )
        .crossJoin(_F.broadcast(_one))
        .groupBy("lang")
        .agg(_F.count(_F.lit(1)).alias("n"), _F.avg("__hof").alias("h"))
        .orderBy(_F.col("n").desc(), _F.col("lang").asc())
        .limit(5)
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    # warm the Python/Arrow worker pool too: the first pandas_udf in a
    # session pays worker fork + Arrow init (~1.5 s measured — the
    # embed_binary cold/warm delta), a per-SESSION cost that would
    # otherwise land on whichever Arrow-backed query runs first
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _warm_arrow(s):
        return s * 2

    _warm.select(_warm_arrow(_F.length("text"))).write.format("noop").mode(
        "overwrite"
    ).save()

    # pre-build the served-IVF index (a one-time, reused-on-disk build)
    # so every serve-path query times the partition-pruned probe, not
    # the two corpus-write build jobs. Calls the index mechanism
    # directly — NOT a query name — so the warm-up survives any future
    # rotation of the serve-path queries out of the registry.
    # Unguarded on purpose (same policy as the warm-ups below): a
    # build failure here would otherwise be silently absorbed into the
    # timed serve-path queries, and a missing embeddings table fails
    # the timed loop anyway — the only exceptions a guard could catch
    # are real defects
    entry_mod._served_ivf_index(spark, sf_dir)

    # warm the shingle/self-join/window codepaths on a 64-doc slice:
    # the first higher-order-fold + pair-join + rank-window in a session
    # pays JIT/codegen that would otherwise land on whichever
    # shingle-family query runs first (decontaminate measured 2.4 s
    # cold vs 1.0 s warm — the same untimed-warm-up rationale as the
    # pipeline section). Unguarded on purpose: documents.parquet was
    # already read above, so any exception here is a real defect and a
    # silently-dead warm-up would corrupt the timings it exists for.
    from dgraph_dbpedia_spark.operators.cachectl import release
    from dgraph_dbpedia_spark.operators.dedup import (
        dedup_clusters_star,
        ngram_jaccard_pairs,
    )

    _w = ngram_jaccard_pairs(_warm.limit(64), threshold=0.9)
    _w.write.format("noop").mode("overwrite").save()
    release(_w)

    # ...and the JL random-projection lane: the first jl_topk in a
    # session pays codegen of the out_dims x dims plane-literal array
    # expression (measured 13-15 s first sample vs ~2 s warm on the
    # jl rows at sf0.1 — r14), which otherwise lands the jl rows in
    # the slowest-5 by cold sample alone and displaces genuinely-slow
    # rows from the warm re-run budget
    from dgraph_dbpedia_spark.operators.similarity import jl_topk

    _emb64 = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(64)
    jl_topk(
        _emb64,
        _emb64.limit(1).select(_F.col("embedding").alias("q")),
        k=2,
    ).write.format("noop").mode("overwrite").save()

    # ...and the iterative checkpoint loop (localCheckpoint +
    # observe() machinery), which otherwise lands on whichever
    # connected-components query runs first. Needs no input table, so
    # it is independent of the shingle warm-up above.
    _nodes = spark.range(4).selectExpr("id AS doc_id")
    _pairs = spark.range(3).selectExpr("id AS a", "id + 1 AS b")
    dedup_clusters_star(_nodes, _pairs).write.format("noop").mode(
        "overwrite"
    ).save()

    # fixed Spark-side canary (post-warm-up so it reads machine state,
    # not JIT): 200M-row range sum over exactly 32 partitions —
    # independent of the session's shuffle/config knobs
    _ct0 = time.perf_counter()
    spark.range(0, 200_000_000, 1, 32).selectExpr(
        "sum(id % 7) AS s"
    ).collect()
    spark_canary_sec = round(time.perf_counter() - _ct0, 3)

    qs = entry_mod.queries()
    timings: dict[str, float] = {}
    for name, fn in qs.items():
        start = time.perf_counter()
        df = fn(spark, sf_dir)
        # noop sink: full evaluation of all output columns, no pruning
        df.write.format("noop").mode("overwrite").save()
        timings[name] = round(time.perf_counter() - start, 3)

    # the 5 slowest queries drive the verdict's perf audit — give them
    # the same warm best-of-n damping the pipelines get (VERDICT r9 #4):
    # the first pass above IS the warm-up, then two more timed runs
    # each, best of all samples recorded (samples kept for the
    # artifact). clearCache between runs: the pair-finding queries
    # persist self-join intermediates that would otherwise make run 2
    # time a cache hit instead of the plan. A query that cannot re-run
    # (the streaming memory-sink family conflicts on its queryName)
    # keeps its single-shot sample.
    samples: dict[str, list[float]] = {}
    for name in sorted(timings, key=lambda k: -timings[k])[:5]:
        samples[name] = [timings[name]]
        for _ in range(2):
            spark.catalog.clearCache()
            try:
                start = time.perf_counter()
                qs[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                samples[name].append(round(time.perf_counter() - start, 3))
            except Exception:
                break
        timings[name] = min(samples[name])

    # the pair-finding queries persist self-join intermediates (their
    # results carry release handles; the suite doesn't call release to
    # keep per-query timing honest) — drop them all before the pipeline
    # section so transform doesn't compete with stale cached partitions
    # (measured 2x transform slowdown from the leftover storage)
    spark.catalog.clearCache()

    # stop the query-suite session BEFORE the pipeline subprocess so the
    # two JVMs don't compete for cores
    spark.stop()

    pipelines: dict[str, float] = {}
    if os.environ.get("SPARK_GRAFT_PIPELINE", "1") != "0":
        pipelines = bench_pipelines(sf)

    canary_end = machine_canary()
    canary = {
        "start": canary_start,
        "end": canary_end,
        "spark_range_200m_32p_sec": spark_canary_sec,
    }

    total = round(sum(timings.values()), 3)
    detail = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "action": "noop_write_all_columns",  # r2: was count(); count() let Catalyst prune projection-only queries
        "queries": timings,
        "slowest_samples": samples,
        "sf": sf,
        "pipelines": pipelines,
        "canary": canary,
    }
    # full per-query detail on its own (long) line first...
    print(json.dumps(detail))
    # ...AND to a committed file (VERDICT r16 #1): the driver keeps only
    # a ~2000-char stdout tail, so the detail line never survives into
    # the artifacts and PERF rounds graded on a single total
    # (PERF_r16: per_query {}, geomean null). The file is overwritten
    # per run — a timestamped copy per round gets committed as
    # BENCH_DETAIL_r<N>.json so round-over-round per-query comparison
    # is a file diff. Written AFTER all timing (outside every timed
    # region); a read-only checkout must not fail the bench.
    try:
        out_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
        )
        with open(out_path, "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
            f.write("\n")
    except OSError as e:
        print(f"BENCH_DETAIL.json not written: {e}", file=sys.stderr)
    # ...then a COMPACT summary as the LAST line: the driver records a
    # bounded stdout tail (2000 chars) and json-parses the final line;
    # the detail line with 70 query timings overflows that window and
    # left BENCH_r06/r07 "parsed": null. Totals + pipelines + the five
    # slowest queries fit in ~700 chars with room to spare.
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:5])
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "n_queries": len(timings),
                "slowest": slowest,
                "slowest_samples": samples,
                # the slowest-5 are warm best-of-3 (first pass = warm-up,
                # two timed re-runs, samples recorded above); the rest
                # stay single-shot — cross-run deltas within the
                # documented +-20-30% machine-state band (BENCH_SCALE.md)
                # are noise, not regressions. The pipeline numbers are
                # damped the same way (warm-up + best-of-3).
                "query_timing": "slowest-5 warm best-of-3; rest single-shot",
                "pipelines": pipelines,
                # machine-state canary (r12 #4): fixed 1T numpy matmul
                # GFLOPS + pure-Python M ops/s at start/end, and a fixed
                # 200M-row/32-partition Spark range-sum — a throttled
                # sandbox self-documents here instead of being narrated
                "canary": canary,
            }
        )
    )


if __name__ == "__main__":
    main()
