"""Scale point for strip_duplicated_spans on its TARGET regime: a
boilerplate license block planted into a large fraction of a synthetic
corpus (the case document-level dedup cannot touch). Measures
end-to-end wall clock and verifies exactly one occurrence of the block
survives.

Usage: python tools/scale_strip_spans.py [n_docs] [dup_fraction]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from dgraph_dbpedia_spark.operators.cachectl import release
from dgraph_dbpedia_spark.operators.dedup import strip_duplicated_spans
from dgraph_dbpedia_spark.session import build_session


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    frac = float(sys.argv[2]) if len(sys.argv) > 2 else 0.5
    spark = build_session(app_name="scale-strip-spans")
    block = " ".join(f"license{w}" for w in range(12))
    # unique per-doc body + the planted block on the first
    # round(frac * n_docs) ids — exact at any fraction (the earlier
    # `id % int(1/frac)` form silently rounded frac>0.5 up to 1.0 and
    # miscounted when the modulus didn't divide n_docs)
    planted = max(min(round(frac * n_docs), n_docs), 0)
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") < planted,
            F.concat(
                F.lit("document body "),
                F.col("id").cast("string"),
                F.lit(" unique words here " + block + " trailing "),
                F.col("id").cast("string"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("document body "),
                F.col("id").cast("string"),
                F.lit(" unique words here trailing "),
                F.col("id").cast("string"),
            )
        )
        .alias("text"),
    ).localCheckpoint()  # pin the synthetic input out of the timing

    # warm
    o = strip_duplicated_spans(docs.limit(2000), L=8)
    o.write.format("noop").mode("overwrite").save()
    release(o)
    spark.catalog.clearCache()

    samples = []
    for _ in range(2):
        t0 = time.perf_counter()
        out = strip_duplicated_spans(docs, L=8)
        out.write.format("noop").mode("overwrite").save()
        samples.append(round(time.perf_counter() - t0, 3))
        release(out)
        spark.catalog.clearCache()
    out = strip_duplicated_spans(docs, L=8)
    survivors = out.where(F.col("text").contains("license0")).count()
    release(out)
    print(
        json.dumps(
            {
                "n_docs": n_docs,
                "planted_copies": planted,
                "best_sec": min(samples),
                "samples": samples,
                "docs_per_sec": int(n_docs / min(samples)),
                "block_occurrences_after": survivors,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
