"""Scale point for ann_join: synthetic unit-ish vectors on both sides
(hash-derived components, RNG-free), each a-vector given one planted
twin in b (identical vector, id + offset) so recall is checkable at
any scale: the twin shares every hyperplane bucket bit by
construction, so rank-1 recall of the twin must be 1.0.

Usage: python tools/scale_ann_join.py [n_a] [n_b] [dims] [n_planes]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from dgraph_dbpedia_spark.operators.similarity import ann_join
from dgraph_dbpedia_spark.session import build_session


def main() -> None:
    n_a = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    n_b = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000
    dims = int(sys.argv[3]) if len(sys.argv) > 3 else 64
    n_planes = int(sys.argv[4]) if len(sys.argv) > 4 else 8
    spark = build_session(app_name="scale-ann-join")

    # deterministic pseudo-random components in [-1, 1): one xxhash64
    # per (id, dim) mapped through mod — no RNG, reproducible anywhere
    def vec(seed_col):
        return F.array(
            *[
                (
                    F.pmod(
                        F.xxhash64(seed_col.cast("string"), F.lit(d)),
                        F.lit(1_000_000),
                    )
                    / 500_000.0
                    - 1.0
                )
                for d in range(dims)
            ]
        )

    a = (
        spark.range(n_a)
        .select(F.col("id").alias("vec_id"), vec(F.col("id")).alias("embedding"))
        .localCheckpoint()
    )
    # b = fresh vectors PLUS each a-vector's identical twin at id+10M.
    # Fresh-b SEEDS live at +20M — a disjoint range, so no fresh-b
    # vector can alias an a-vector and beat the twin on the id
    # tie-break (which would spuriously depress measured recall).
    # Fresh-b IDS start past the twin range too (twins end at
    # n_a + 10M < 20M for any plausible n_a): duplicate vec_ids
    # between fresh rows and twins would let a fresh row win the id
    # tie-break over a same-id twin — the same aliasing hazard, on
    # the id axis instead of the seed axis
    assert n_a < 10_000_000, "twin id range would collide with fresh-b ids"
    b = (
        spark.range(n_b)
        .select(
            (F.col("id") + 20_000_000).alias("vec_id"),
            vec(F.col("id") + 20_000_000).alias("embedding"),
        )
        .unionByName(
            a.select(
                (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
            )
        )
        .localCheckpoint()
    )

    t0 = time.perf_counter()
    out = ann_join(a, b, k=1, dims=dims, n_planes=n_planes)
    # ONE action: counting hits and total separately would execute the
    # whole plan twice and halve the reported throughput
    total, hits = out.agg(
        F.count(F.lit(1)),
        F.sum(
            (F.col("b") == F.col("a") + 10_000_000).cast("long")
        ),
    ).first()
    dt = round(time.perf_counter() - t0, 3)
    print(
        json.dumps(
            {
                "n_a": n_a,
                "n_b": n_b + n_a,
                "dims": dims,
                "n_planes": n_planes,
                "sec": dt,
                "pairs_ranked": total,
                "twin_rank1_recall": round(hits / n_a, 4),
                "a_vectors_per_sec": int(n_a / dt),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
