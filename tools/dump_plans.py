"""Dump `.explain("formatted")` for registry rows to files — the
before/after plan evidence: dump both sides of a change and diff the
two directories. With no query names, every registry row is dumped.
Run-specific ids (expression ids, plan ids, RDD ids, PySpark lambda
variable suffixes) are normalized away before writing, so two dumps
differ only where the plans do.

Usage: python tools/dump_plans.py <out_dir> <suffix> [query ...]
(sf via $SPARK_GRAFT_SF_DIR, default /root/testdata/sf0.001; writes
<out_dir>/<query>_<suffix>.txt)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from dgraph_dbpedia_spark.session import build_session


_RUN_IDS = (
    # PySpark numbers lambda variables per session: lambda x_55#12 -> x_N
    (re.compile(r"(lambda \w+)_\d+#"), r"\1_N#"),
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
)


def normalize_plan(text: str) -> str:
    """``text`` with every run-specific id replaced by ``N``."""
    for pattern, repl in _RUN_IDS:
        text = pattern.sub(repl, text)
    return text


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or list(entry_mod.QUERIES)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    os.makedirs(out_dir, exist_ok=True)
    spark = build_session(app_name="dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    from dgraph_dbpedia_spark.operators.cachectl import release

    for name in names:
        df = entry_mod.QUERIES[name](spark, sf_dir)
        txt = normalize_plan(
            df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        release(df)
        print(f"wrote {path} ({len(txt)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
