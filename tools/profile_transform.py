"""Per-phase breakdown of the transform pipeline: generates the bench
corpus, ingests it, runs one untimed warm-up transform, then prints the
phase counters (``observability.phase_counters``) of each timed run. For
every run, the warm-up included, it prints the JVM-wide count of
generated classes compiled (``observability.codegen_compiles``).

Usage: python tools/profile_transform.py [n_subjects] [--iters N]
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from benchgen import LANGS, generate_ttl_corpus
from dgraph_dbpedia_spark.observability import codegen_compiles, mark, phase_counters
from dgraph_dbpedia_spark.plans import transform as T
from dgraph_dbpedia_spark.plans.ingest import ingest
from dgraph_dbpedia_spark.session import build_session


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("n_subjects", nargs="?", type=int, default=60_000)
    ap.add_argument("--iters", type=int, default=1)
    args = ap.parse_args()
    spark = build_session(app_name="profile-transform")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="sparkgraft-prof-")
    cfg = T.TransformConfig(
        write_types=True, externalise_uris=True, remove_language_tags=True,
        top_infobox_properties_per_lang=100, print_stats=False,
    )
    try:
        generate_ttl_corpus(spark, f"{work}/ttl", args.n_subjects)
        ingest(spark, f"{work}/ttl", f"{work}/parquet", print_stats=False)
        for run in range(args.iters + 1):
            since, compiles = mark(spark), codegen_compiles(spark)
            T.transform(spark, f"{work}/parquet", f"{work}/rdf", languages=list(LANGS), cfg=cfg)
            label = f"run {run}" if run else "warm-up"
            print(f"{label} (subjects={args.n_subjects}, "
                  f"classes compiled={codegen_compiles(spark) - compiles})")
            if run == 0:
                continue
            print(f"  {'phase':36s} {'jobs':>5s} {'tasks':>6s} {'wall_s':>7s} {'cpu_s':>7s} "
                  f"{'shuffle_MB':>10s} {'spill_MB':>8s}")
            for name, c in sorted(phase_counters(spark, since).items(), key=lambda kv: str(kv[0])):
                print(f"  {str(name):36s} {c.jobs:5d} {c.tasks:6d} {c.wall_s:7.2f} {c.cpu_s:7.2f} "
                      f"{c.shuffle_write_bytes / 2**20:10.1f} {c.spill_bytes / 2**20:8.1f}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
