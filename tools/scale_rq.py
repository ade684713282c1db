"""RQ scale point — the residual-quantization mirror of
tools/scale_pq.py: synthetic hash-derived uniform vectors (the
no-structure worst case), one planted identical twin per query,
queries EXCLUDED from the served corpus (the ADVICE r11 recall rule).
Measures train / encode / additive-ADC serve / exact-re-rank
wall-clock, code bytes vs float bytes, and twin recall — plus the
reconstruction-error split between the two stages (the quantity RQ
exists to improve).

Usage: python tools/scale_rq.py [n] [dims] [k_sub] [n_queries]
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
    k_sub = int(sys.argv[3]) if len(sys.argv) > 3 else 256
    n_queries = int(sys.argv[4]) if len(sys.argv) > 4 else 20
    spark = build_session(app_name="scale-rq")
    spark.sparkContext.setLogLevel("ERROR")

    from dgraph_dbpedia_spark.operators.rq import (
        rq_encode,
        rq_rerank_topk,
        rq_topk,
        rq_train,
    )

    base = spark.range(n).select(
        F.col("id").alias("vec_id"), hashed_vector(F.col("id"), dims, 7).alias("embedding")
    )
    twins = base.where(F.col("vec_id") < n_queries).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    corpus = base.unionByName(twins).localCheckpoint()

    t0 = time.perf_counter()
    cb = rq_train(
        corpus, dims=dims, k_sub=k_sub, n_levels=2, n_iter=1
    ).localCheckpoint()
    train_s = round(time.perf_counter() - t0, 3)

    work = tempfile.mkdtemp(prefix="sparkgraft-rq-")
    t0 = time.perf_counter()
    rq_encode(corpus, cb, dims=dims, n_levels=2).write.parquet(
        f"{work}/codes"
    )
    encode_s = round(time.perf_counter() - t0, 3)
    codes = spark.read.parquet(f"{work}/codes")
    base.select("vec_id", "embedding").write.parquet(f"{work}/floats")

    code_bytes = tree_bytes(f"{work}/codes")
    float_bytes = tree_bytes(f"{work}/floats")

    # per-stage reconstruction MSE over a bounded sample — the RQ
    # quality claim (stage 2 strictly reduces stage 1's error)
    import numpy as np

    cents = {
        (r["lvl"], r["cid"]): np.asarray(list(r["c"]), dtype=np.float64)
        for r in cb.collect()
    }
    sample = (
        codes.join(corpus, "vec_id")
        .where(F.col("vec_id") % 100 == 0)
        .select("vec_id", "codes", "embedding")
        .collect()
    )
    e1 = e2 = 0.0
    for r in sample:
        v = np.asarray(list(r["embedding"]), dtype=np.float64)
        c1 = cents[(0, r["codes"][0])]
        c2 = cents[(1, r["codes"][1])]
        e1 += float(((v - c1) ** 2).sum())
        e2 += float(((v - c1 - c2) ** 2).sum())
    mse1 = e1 / max(len(sample), 1)
    mse2 = e2 / max(len(sample), 1)

    served = codes.where(F.col("vec_id") >= n_queries).localCheckpoint()
    served_floats = corpus.where(F.col("vec_id") >= n_queries)

    hits1 = hits100 = 0
    t0 = time.perf_counter()
    for qid in range(n_queries):
        q = base.where(F.col("vec_id") == qid).select(
            F.col("embedding").alias("q")
        )
        rows = rq_topk(served, cb, q, dims=dims, k=100).collect()
        ids = [r["vec_id"] for r in rows]
        hits1 += int(bool(ids) and ids[0] == qid + 10_000_000)
        hits100 += int(qid + 10_000_000 in ids)
    serve_s = round(time.perf_counter() - t0, 3)

    rr_hits1 = 0
    t0 = time.perf_counter()
    for qid in range(n_queries):
        q = base.where(F.col("vec_id") == qid).select(
            F.col("embedding").alias("q")
        )
        rows = rq_rerank_topk(
            served, cb, served_floats, q, dims=dims, k=10,
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
                "k_sub": k_sub,
                "n_levels": 2,
                "train_sec": train_s,
                "encode_sec": encode_s,
                "encode_vecs_per_sec": round((n + n_queries) / encode_s),
                "serve_sec_per_query": round(serve_s / n_queries, 3),
                "rerank_sec_per_query": round(rerank_s / n_queries, 3),
                "code_bytes_per_vec": round(code_bytes / (n + n_queries), 2),
                "float_bytes_per_vec": round(float_bytes / n, 2),
                "compression_x": round(float_bytes / n
                                       / (code_bytes / (n + n_queries)), 2),
                "mse_stage1": round(mse1, 4),
                "mse_stage1plus2": round(mse2, 4),
                "mse_reduction_pct": round(100 * (1 - mse2 / mse1), 1)
                if mse1 else None,
                "twin_rank1_recall": round(hits1 / n_queries, 3),
                "twin_top100_recall": round(hits100 / n_queries, 3),
                "rerank_twin_rank1_recall": round(rr_hits1 / n_queries, 3),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
