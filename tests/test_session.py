"""The session builder's generated-code cache: sized to the engine's
working set, so a warm pass reuses the classes a cold pass compiled."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from dgraph_dbpedia_spark.session import CODEGEN_CACHE_ENTRIES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs in a fresh JVM: the cache is sized once per JVM and is shared by
# every test of this process, so only a new process has a cold first pass.
WARM_PASS = """
import contextlib, io, json, sys
from dgraph_dbpedia_spark.observability import codegen_compiles
from dgraph_dbpedia_spark.plans.ingest import ingest
from dgraph_dbpedia_spark.plans.transform import transform
from dgraph_dbpedia_spark.session import build_session
from tests import fixtures
from tests.test_pipeline import _cli_reference_cfg

work = sys.argv[1]
spark = build_session(app_name="warm-pass-compiles", shuffle_partitions=8)
spark.sparkContext.setLogLevel("ERROR")
fixtures.generate(f"{work}/ttl")
ingest(spark, f"{work}/ttl", f"{work}/parquet", print_stats=False)
compiled = []
for run in range(2):
    before = codegen_compiles(spark)
    with contextlib.redirect_stdout(io.StringIO()):
        transform(spark, f"{work}/parquet", f"{work}/rdf{run}", cfg=_cli_reference_cfg())
    compiled.append(codegen_compiles(spark) - before)
spark.stop()
print(json.dumps(compiled))
"""


def test_session_sizes_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)


def test_warm_transform_compiles_almost_nothing(tmp_path):
    """Two identical transforms in one new session: the second compiles
    under 10% of the classes the first did (~233 cold, 0-4 warm on the
    fixtures corpus). With Spark's default cache of 100 entries every
    pass evicts its own classes and the warm pass compiles ~234 again.
    The warm residual varies between runs, so it is not pinned to 0."""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", WARM_PASS, str(tmp_path)],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    cold, warm = json.loads(proc.stdout.splitlines()[-1])
    assert cold > 100, (cold, warm)
    assert warm < cold / 10, (cold, warm)
