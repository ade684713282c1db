"""PQ scale point: synthetic hash-derived vectors (uniform — the
no-cluster-structure worst case), one planted identical twin per
query. Measures train / encode / ADC-serve wall-clock, bytes per
vector of the code table vs the float table, twin recall over
``n_queries`` probes (rank-1, top-100 shortlist, and rank-1 through
the exact re-rank composition).

Recall is scored over a served corpus that EXCLUDES the query ids
(ADVICE r11): with the queries left in, the query's own row carries
identical codes to its twin and a lower id, so it always wins the
(sim desc, id asc) tie and rank-1 recall is structurally 0 regardless
of PQ quality — the metric measured the tie-break, not the index.

Usage: python tools/scale_pq.py [n] [dims] [m] [k_sub] [n_queries]
Prints ONE JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from benchgen import hashed_vector, tree_bytes
from dgraph_dbpedia_spark.session import build_session


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    dims = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    m = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    k_sub = int(sys.argv[4]) if len(sys.argv) > 4 else 32
    n_queries = int(sys.argv[5]) if len(sys.argv) > 5 else 20
    spark = build_session(app_name="scale-pq")
    spark.sparkContext.setLogLevel("ERROR")

    from dgraph_dbpedia_spark.operators.pq import (
        pq_encode,
        pq_rerank_topk,
        pq_topk,
        pq_train,
    )

    base = spark.range(n).select(
        F.col("id").alias("vec_id"), hashed_vector(F.col("id"), dims, 7).alias("embedding")
    )
    # plant one identical twin per future query vector (queries are
    # vec_ids 0..n_queries-1; twins live at +10M)
    twins = base.where(F.col("vec_id") < n_queries).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    corpus = base.unionByName(twins).localCheckpoint()

    # an untimed warm-up run first (JIT/codegen/page cache), then
    # training timed as train + localCheckpoint materialization only
    pq_train(corpus, dims=dims, m=m, k_sub=k_sub, n_iter=1).localCheckpoint()
    t0 = time.perf_counter()
    cb = pq_train(corpus, dims=dims, m=m, k_sub=k_sub, n_iter=1)
    cb = cb.localCheckpoint()  # materialize: training is the timed unit
    train_s = round(time.perf_counter() - t0, 3)

    work = tempfile.mkdtemp(prefix="sparkgraft-pq-")
    t0 = time.perf_counter()
    pq_encode(corpus, cb, dims=dims, m=m).write.parquet(f"{work}/codes")
    encode_s = round(time.perf_counter() - t0, 3)
    codes = spark.read.parquet(f"{work}/codes")
    base.select("vec_id", "embedding").write.parquet(f"{work}/floats")

    code_bytes = tree_bytes(f"{work}/codes")
    float_bytes = tree_bytes(f"{work}/floats")

    # served corpus excludes the query ids (see module docstring) —
    # the twin is the nearest remaining neighbor by construction
    served = codes.where(F.col("vec_id") >= n_queries).localCheckpoint()
    served_floats = corpus.where(F.col("vec_id") >= n_queries)

    hits1 = hits100 = 0
    t0 = time.perf_counter()
    for qid in range(n_queries):
        q = base.where(F.col("vec_id") == qid).select(
            F.col("embedding").alias("q")
        )
        rows = pq_topk(served, cb, q, dims=dims, m=m, k=100).collect()
        ids = [r["vec_id"] for r in rows]
        hits1 += int(bool(ids) and ids[0] == qid + 10_000_000)
        hits100 += int(qid + 10_000_000 in ids)
    serve_s = round(time.perf_counter() - t0, 3)

    # the deployed two-stage contract: ADC shortlist-100 -> exact
    # re-rank; the twin must be rank 1 with exact sim 1.0 whenever the
    # shortlist admitted it
    rr_hits1 = 0
    t0 = time.perf_counter()
    for qid in range(n_queries):
        q = base.where(F.col("vec_id") == qid).select(
            F.col("embedding").alias("q")
        )
        rows = pq_rerank_topk(
            served, cb, served_floats, q, dims=dims, m=m, k=10,
            shortlist_n=100,
        ).collect()
        rr_hits1 += int(
            bool(rows) and rows[0]["vec_id"] == qid + 10_000_000
        )
    rerank_s = round(time.perf_counter() - t0, 3)

    import shutil

    shutil.rmtree(work, ignore_errors=True)
    print(
        json.dumps(
            {
                "n": n,
                "dims": dims,
                "m": m,
                "k_sub": k_sub,
                "train_sec": train_s,
                "encode_sec": encode_s,
                "encode_vecs_per_sec": round((n + n_queries) / encode_s),
                "serve_sec_total": serve_s,
                "serve_sec_per_query": round(serve_s / n_queries, 3),
                "rerank_sec_per_query": round(rerank_s / n_queries, 3),
                "code_bytes_per_vec": round(code_bytes / (n + n_queries), 2),
                "float_bytes_per_vec": round(float_bytes / n, 2),
                "compression_x": round(float_bytes / n
                                       / (code_bytes / (n + n_queries)), 2),
                "twin_rank1_recall": round(hits1 / n_queries, 3),
                "twin_top100_recall": round(hits100 / n_queries, 3),
                "rerank_twin_rank1_recall": round(rr_hits1 / n_queries, 3),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
