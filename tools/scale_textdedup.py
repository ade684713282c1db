"""Model-free text semantic-dedup scale point: synthetic hash-derived
word-soup documents (~`words`-token docs over a bounded vocab), one
planted near-duplicate twin per probe doc (same text + one extra
token -> cosine just under 1.0 in the hashed space). Measures
hashed_doc_embeddings throughput, the full
pairs -> keep-lowest-id chain wall-clock, survivor count, and planted
twin removal recall (every twin carries the HIGHER id, so a correct
chain drops exactly the twins among the planted population).

Usage: python tools/scale_textdedup.py [n] [n_twins] [words] [dims] [n_planes]
Prints ONE JSON line.

Pass ``cid`` as the 5th argument to measure the r13 registered shape
instead: semantic_dedup_pairs' within-cluster equi-join with the
adaptive k = max(8, 2^ceil(log2(n)/2)) ~ sqrt(n) seed centroids
(__spark_entry__._adaptive_centroids).
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
    n_twins = int(sys.argv[2]) if len(sys.argv) > 2 else 200
    words = int(sys.argv[3]) if len(sys.argv) > 3 else 50
    dims = int(sys.argv[4]) if len(sys.argv) > 4 else 64
    mode = sys.argv[5] if len(sys.argv) > 5 else "8"
    use_cid = mode == "cid"
    n_planes = None if use_cid else int(mode)
    offset = 10_000_000
    if n_twins < 1:
        raise SystemExit("n_twins must be >= 1 (recall is per-twin)")
    if n + n_twins > offset:
        raise SystemExit(
            f"n + n_twins must stay below the twin-id offset {offset} "
            "(base ids would collide with twin ids and corrupt the "
            "recall metric)"
        )
    spark = build_session(app_name="scale-textdedup")
    spark.sparkContext.setLogLevel("ERROR")

    from dgraph_dbpedia_spark.functions.hashing import hash64
    from dgraph_dbpedia_spark.operators.dedup import near_dup_filter
    from dgraph_dbpedia_spark.operators.similarity import (
        cosine_near_dup_pairs,
    )
    from dgraph_dbpedia_spark.operators.textstats import (
        hashed_doc_embeddings,
    )

    vocab = 1000

    def word(idc, i):
        return F.concat(
            F.lit("w"),
            (
                F.pmod(
                    hash64(
                        F.concat(idc.cast("string"), F.lit(f":{i}")),
                        seed=3,
                    ),
                    F.lit(vocab),
                )
            ).cast("string"),
        )

    text = F.concat_ws(
        " ", *[word(F.col("id"), i) for i in range(words)]
    )
    base = spark.range(n).select(
        F.col("id").alias("doc_id"), text.alias("text")
    )
    twins = base.where(F.col("doc_id") < n_twins).select(
        (F.col("doc_id") + offset).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extraTok")).alias("text"),
    )
    corpus = base.unionByName(twins).localCheckpoint()
    n_total = corpus.count()

    # embedding throughput: untimed warm-up, then timed + materialized
    hashed_doc_embeddings(corpus, dims=dims).localCheckpoint()
    t0 = time.perf_counter()
    emb = hashed_doc_embeddings(corpus, dims=dims).localCheckpoint()
    embed_s = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    e = emb.where(F.col("e").isNotNull())
    if use_cid:
        from dgraph_dbpedia_spark.operators.similarity import (
            semantic_dedup_pairs,
        )

        # the registered dial itself, not a copy — if the adaptive k
        # is ever retuned, this tool keeps measuring production
        from __spark_entry__ import _adaptive_centroids

        n_centroids = _adaptive_centroids(n_total)
        pairs_lazy = semantic_dedup_pairs(
            e, threshold=0.95, n_centroids=n_centroids,
            id_col="doc_id", vec_col="e",
        )
        pairs = pairs_lazy.localCheckpoint()
        # r17 (VERDICT r16 #5): dump the pairs plan so the within-
        # cluster equi-join shape is checkable at the scale point
        # (stderr, keeps the one-line-JSON stdout contract). Dumped
        # AFTER the checkpoint ran it, so AQE reports the final plan
        # (isFinalPlan=true), not the pre-execution one
        print(
            pairs_lazy._jdf.queryExecution().executedPlan().toString(),
            file=sys.stderr,
        )
    else:
        n_centroids = None
        pairs = cosine_near_dup_pairs(
            e, id_col="doc_id", vec_col="e",
            threshold=0.95, n_planes=n_planes, dims=dims,
        ).localCheckpoint()
    n_pairs = pairs.count()
    survivors = near_dup_filter(corpus, pairs)
    n_surv = survivors.count()
    chain_s = round(time.perf_counter() - t0, 3)

    twins_dropped = n_twins - survivors.where(
        F.col("doc_id") >= offset
    ).count()

    print(
        json.dumps(
            {
                "n_docs": n_total,
                "n_planes": n_planes,
                "n_centroids": n_centroids,
                "words": words,
                "dims": dims,
                "embed_sec": embed_s,
                "embed_docs_per_sec": int(n_total / embed_s),
                "dedup_chain_sec": chain_s,
                "n_pairs": n_pairs,
                "n_survivors": n_surv,
                "planted_twin_recall": round(twins_dropped / n_twins, 3),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
