"""JL projection scale point: synthetic hash-derived vectors (uniform
— the no-cluster-structure worst case for rank preservation), one
planted identical twin per query. Measures jl_project throughput at
the 200k point, the projected-space shortlist's exact-top-10
containment at several shortlist depths, twin rank-1 recall through
the two-stage jl_rerank_topk composition (served corpus EXCLUDES the
query ids — the scale_pq scoring rule), and the byte ratio of the
projected table vs the float table.

Usage: python tools/scale_jl.py [n] [dims] [out_dims] [n_queries]
Prints ONE JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from dgraph_dbpedia_spark.session import build_session


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    dims = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    out_dims = int(sys.argv[3]) if len(sys.argv) > 3 else 16
    n_queries = int(sys.argv[4]) if len(sys.argv) > 4 else 20
    spark = build_session(app_name="scale-jl")
    spark.sparkContext.setLogLevel("ERROR")

    from dgraph_dbpedia_spark.functions.hashing import hash64
    from dgraph_dbpedia_spark.operators.similarity import (
        cosine_topk,
        jl_project,
        jl_rerank_topk,
        jl_topk,
    )

    def vec(idc):
        return F.array(*[
            (
                F.pmod(
                    hash64(
                        F.concat(idc.cast("string"), F.lit(f":{d}")), seed=7
                    ),
                    F.lit(1_000_000),
                )
                / 500_000.0
                - 1.0
            )
            for d in range(dims)
        ])

    base = spark.range(n).select(
        F.col("id").alias("vec_id"), vec(F.col("id")).alias("embedding")
    )
    twins = base.where(F.col("vec_id") < n_queries).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    # served corpus excludes the query ids (the scale_pq rule): the
    # query's own row would otherwise win every rank-1 tie
    served = (
        base.where(F.col("vec_id") >= n_queries)
        .unionByName(twins)
        .localCheckpoint()
    )

    # projection throughput: untimed warm-up, then projection +
    # localCheckpoint materialization timed (the scale_pq timing rule)
    jl_project(served, out_dims, dims).localCheckpoint()
    t0 = time.perf_counter()
    jl_project(served, out_dims, dims).localCheckpoint()
    project_s = round(time.perf_counter() - t0, 3)
    n_served = served.count()

    qrows = base.where(F.col("vec_id") < n_queries).collect()

    hits1 = 0
    containment = {50: 0, 200: 0}
    t_serve = 0.0
    for qr in qrows:
        q = spark.createDataFrame(
            [(qr["embedding"],)], "q array<double>"
        )
        exact = {
            r["vec_id"]
            for r in cosine_topk(served, q, k=10).collect()
        }
        for depth in containment:
            sl = {
                r["vec_id"]
                for r in jl_topk(
                    served, q, k=depth, out_dims=out_dims, dims=dims
                ).collect()
            }
            containment[depth] += len(exact & sl) / 10.0
        t0 = time.perf_counter()
        top = jl_rerank_topk(
            served,
            q,
            k=10,
            shortlist_n=200,
            out_dims=out_dims,
            dims=dims,
        ).collect()
        t_serve += time.perf_counter() - t0
        if top and top[0]["vec_id"] == qr["vec_id"] + 10_000_000:
            hits1 += 1

    print(
        json.dumps(
            {
                "n": n_served,
                "dims": dims,
                "out_dims": out_dims,
                "n_queries": n_queries,
                "project_sec": project_s,
                "project_vecs_per_sec": int(n_served / project_s),
                "bytes_ratio": round(out_dims / dims, 4),
                "twin_rank1_recall_rerank200": round(
                    hits1 / n_queries, 3
                ),
                "exact_top10_containment": {
                    str(d): round(v / n_queries, 3)
                    for d, v in containment.items()
                },
                "rerank_serve_sec_per_query": round(
                    t_serve / n_queries, 3
                ),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
