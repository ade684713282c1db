"""Scale point for the winnowing family: fingerprint extraction
throughput on a synthetic corpus, and cross-corpus matching with a
planted quote shared between the two halves. Verifies the planted
pairs are found and reports docs/sec for both stages.

Usage: python tools/scale_winnow.py [n_docs] [quote_fraction]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from dgraph_dbpedia_spark.operators.cachectl import release
from dgraph_dbpedia_spark.operators.dedup import (
    winnow_fingerprints,
    winnow_matches,
)
from dgraph_dbpedia_spark.session import build_session


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    frac = float(sys.argv[2]) if len(sys.argv) > 2 else 0.01
    planted = max(min(round(frac * n_docs), n_docs), 0)
    if planted == 1:
        raise SystemExit(
            "quote_fraction plants a single doc (always id 0, a-half "
            "only) — cross-half matching needs planted >= 2 or 0"
        )
    spark = build_session(app_name="scale-winnow")
    quote = " ".join(f"quote{w}" for w in range(10))
    # unique 24-token bodies; exactly `planted` evenly-strided ids
    # (0, s, 2s, ..., (planted-1)*s) carry the quote — the stride
    # spreads them over both halves, and the explicit id upper bound
    # makes the count exact at any fraction (including 0: no plant)
    body = F.concat_ws(
        " ",
        *[
            F.concat(F.lit(f"w{j}tok"), F.col("id").cast("string"))
            for j in range(24)
        ],
    )
    stride = n_docs // planted if planted else 0
    plant_cond = (
        (F.col("id") % stride == 0) & (F.col("id") < planted * stride)
        if planted
        else F.lit(False)
    )
    docs = (
        spark.range(n_docs)
        .select(
            F.col("id").alias("doc_id"),
            F.when(plant_cond, F.concat(body, F.lit(" " + quote)))
            .otherwise(body)
            .alias("text"),
        )
        .localCheckpoint()
    )

    # stage 1: fingerprint extraction throughput (noop sink)
    fp_samples = []
    for _ in range(2):
        t0 = time.perf_counter()
        winnow_fingerprints(docs, k=5, w=4).write.format("noop").mode(
            "overwrite"
        ).save()
        fp_samples.append(round(time.perf_counter() - t0, 3))

    # stage 2: cross-half matching (planted quote links the halves)
    half = n_docs // 2
    a = docs.where(F.col("doc_id") < half)
    b = docs.where(F.col("doc_id") >= half)
    t0 = time.perf_counter()
    m = winnow_matches(a, b, k=5, w=4, min_shared=1, max_fp_freq=None)
    n_matches = m.count()
    match_sec = round(time.perf_counter() - t0, 3)
    release(m)

    print(
        json.dumps(
            {
                "n_docs": n_docs,
                "planted_quote_docs": planted,
                "fingerprint_best_sec": min(fp_samples),
                "fingerprint_samples": fp_samples,
                "fingerprint_docs_per_sec": int(n_docs / min(fp_samples)),
                "match_sec": match_sec,
                "n_matches": n_matches,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
