"""semantic_decontaminate scale + recall point: 200k uniform
hash-derived corpus vectors, a 1k-row benchmark set, and planted
near-duplicate leaks at controlled cosines. Measures, per
(n_planes, n_bands) setting:

- leak recall by cosine tier (t in the mix b + t*p gives cosine
  ~= 1/sqrt(1+t^2): t=0.1 -> ~0.995, 0.2 -> ~0.981, 0.3 -> ~0.957 —
  all above the 0.95 threshold and so MUST be dropped; t=0.45 ->
  ~0.912 is the below-threshold control that must SURVIVE),
- wall-clock of the full filter,
- banded candidate-pair count (the cost the OR-amplification pays).

This is the measured form of the r12 review finding: single-band
hyperplane hashing misses threshold-level pairs with probability
1 - p^n_planes (p = 1 - acos(theta)/pi), which OR-amplified banding
drives to (1 - p^n_planes)^n_bands.

Usage: python tools/scale_decon.py [n] [dims] [n_bench] [n_leaks]
Prints ONE JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from benchgen import hashed_vector
from dgraph_dbpedia_spark.session import build_session

TIERS = [0.1, 0.2, 0.3, 0.45]  # last tier is the below-threshold control
THRESHOLD = 0.95


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    dims = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    n_bench = int(sys.argv[3]) if len(sys.argv) > 3 else 1_000
    n_leaks = int(sys.argv[4]) if len(sys.argv) > 4 else 200
    spark = build_session(app_name="scale-decon")
    spark.sparkContext.setLogLevel("ERROR")

    from dgraph_dbpedia_spark.operators.similarity import (
        semantic_decontaminate,
    )

    base = spark.range(n).select(
        F.col("id").alias("vec_id"), hashed_vector(F.col("id"), dims, 7).alias("embedding")
    )
    bench = spark.range(n_bench).select(
        (F.col("id") + 10_000_000).alias("vec_id"),
        hashed_vector(F.col("id") + 10_000_000, dims, 11).alias("embedding"),
    )
    # planted leaks: benchmark vector i mixed with an independent
    # perturbation at tier t = TIERS[i % len(TIERS)] — cosine to its
    # source is ~1/sqrt(1+t^2) (uniform vectors, near-equal norms)
    leak_parts = []
    for ti, t in enumerate(TIERS):
        src = spark.range(n_leaks // len(TIERS)).select(
            (F.col("id") * len(TIERS) + ti).alias("k")
        )
        leak_parts.append(
            src.select(
                (F.col("k") + 20_000_000).alias("vec_id"),
                F.zip_with(
                    hashed_vector(F.col("k") + 10_000_000, dims, 11),
                    hashed_vector(F.col("k") + 30_000_000, dims, 13),
                    lambda b, p: b + F.lit(float(t)) * p,
                ).alias("embedding"),
                F.lit(ti).alias("tier"),
            )
        )
    leaks = leak_parts[0]
    for lp in leak_parts[1:]:
        leaks = leaks.unionByName(lp)
    leaks = leaks.localCheckpoint()
    corpus = base.unionByName(
        leaks.select("vec_id", "embedding")
    ).localCheckpoint()
    bench = bench.localCheckpoint()

    tiers_of = {
        r["vec_id"]: r["tier"] for r in leaks.select("vec_id", "tier").collect()
    }

    out: dict = {
        "n": n, "dims": dims, "n_bench": n_bench,
        # report the PLANTED count (n_leaks rounds down to a multiple
        # of len(TIERS)), not the requested one
        "n_leaks": len(tiers_of),
        "threshold": THRESHOLD, "tiers_t": TIERS, "settings": {},
    }
    for n_planes, n_bands in [(8, 1), (4, 8), (8, 7)]:
        t0 = time.perf_counter()
        kept = semantic_decontaminate(
            corpus, bench, threshold=THRESHOLD,
            n_planes=n_planes, n_bands=n_bands, dims=dims,
        )
        kept_ids = {
            r["vec_id"] for r in kept.select("vec_id").collect()
        }
        wall = round(time.perf_counter() - t0, 3)
        per_tier: dict[int, list] = {}
        for vid, tier in tiers_of.items():
            per_tier.setdefault(tier, []).append(vid not in kept_ids)
        # tiers 0..2 are above-threshold (dropped = recall); the last
        # tier is the control (dropped = false positive)
        recall = {
            f"t{TIERS[t]}": round(sum(d) / len(d), 3)
            for t, d in sorted(per_tier.items())
        }
        out["settings"][f"planes{n_planes}_bands{n_bands}"] = {
            "wall_sec": wall,
            "dropped_total": n + len(tiers_of) - len(kept_ids),
            "leak_drop_rate_by_tier": recall,
        }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
