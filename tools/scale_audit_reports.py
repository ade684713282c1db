"""10x scale spot-check of the r15 observability/audit operators
(VERDICT r15 #6): ivf_list_skew_report, filter_attrition_report and
pack_efficiency_report at BENCH_SCALE synthetic volumes — cheap
insurance that the audit layer never becomes the bottleneck it
audits. All three are one-pass partial-aggregable shapes, so the
expected behavior is scan-speed throughput and a bounded result.

Synthetic inputs (hash-derived, deterministic): word-soup documents
(the scale_textdedup recipe) for the two text audits; a skewed
power-law-ish cid assignment (cid = floor(sqrt(hash % lists^2)) for
genuine imbalance) for the list-skew audit.

Usage: python tools/scale_audit_reports.py [n_docs] [n_vectors]
Prints ONE JSON line with wall-clock + rows/s for each report.
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
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    n_vectors = int(sys.argv[2]) if len(sys.argv) > 2 else 200_000
    spark = build_session(app_name="scale-audit-reports")
    spark.sparkContext.setLogLevel("ERROR")

    from dgraph_dbpedia_spark.functions.hashing import hash64
    from dgraph_dbpedia_spark.operators.sampling import (
        pack_efficiency_report,
    )
    from dgraph_dbpedia_spark.operators.similarity import (
        ivf_list_skew_report,
    )
    from dgraph_dbpedia_spark.operators.textstats import (
        filter_attrition_report,
    )

    # word-soup docs: ~40 tokens over a bounded vocab, deterministic
    words = 40
    vocab = 5_000
    tok = lambda i: F.concat(  # noqa: E731
        F.lit("w"),
        (F.pmod(hash64(F.concat(F.col("doc_id"), F.lit(f":{i}"))), F.lit(vocab))).cast(
            "string"
        ),
    )
    docs = (
        spark.range(n_docs)
        .select(F.col("id").alias("doc_id"))
        .select(
            "doc_id",
            F.concat_ws(" ", *[tok(i) for i in range(words)]).alias("text"),
        )
        .persist()
    )
    docs.count()  # corpus generation outside the timed windows

    out: dict = {"n_docs": n_docs, "n_vectors": n_vectors}
    for name, fn in (
        (
            "filter_attrition_report",
            lambda: filter_attrition_report(
                docs, min_words=25, max_words=100_000,
                min_mean_word_len=2.0, max_mean_word_len=12.0,
                min_stopwords=0,
            ),
        ),
        (
            "pack_efficiency_report",
            lambda: pack_efficiency_report(docs, max_tokens=512, n_shards=4),
        ),
    ):
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn().write.format("noop").mode("overwrite").save()
            samples.append(round(time.perf_counter() - t0, 3))
        best = min(samples)
        out[name] = {
            "samples": samples,
            "best_sec": best,
            "docs_per_sec": round(n_docs / best),
        }

    assigned = (
        spark.range(n_vectors)
        .select(F.col("id").alias("vec_id"))
        .select(
            "vec_id",
            F.floor(
                F.sqrt(F.pmod(hash64(F.col("vec_id").cast("string")), F.lit(256 * 256)))
            ).cast("long").alias("cid"),
        )
    )
    samples = []
    for _ in range(3):
        t0 = time.perf_counter()
        ivf_list_skew_report(assigned).write.format("noop").mode(
            "overwrite"
        ).save()
        samples.append(round(time.perf_counter() - t0, 3))
    best = min(samples)
    out["ivf_list_skew_report"] = {
        "samples": samples,
        "best_sec": best,
        "vectors_per_sec": round(n_vectors / best),
    }
    docs.unpersist()
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
