"""Local approximation of the driver's correctness gate: run each
``queries()`` entry at sf0.01 in Spark and its ``oracle_sql()`` in
DuckDB, compare row count, column names, and an order-insensitive
value multiset (columns sorted by name, values stringified).

Unlike the driver (which records only the first 50 ``queries()``
entries), this sweeps ALL registered queries, and — when run without a
query filter — writes the per-query result map to
``CORRECTNESS_FULL.json`` at the repo root: the committed fallback
signal for queries outside the driver's window (ADVICE r5).

Usage: python tools/check_correctness.py [sf_dir] [--repeat N] [query ...]

``--repeat N`` is the float-determinism harness (VERDICT r10 #2): each
selected query runs N times in the SAME session and the normalized
output must be byte-identical across runs before it is compared to the
oracle — converting every "the rounding margin is safe" docstring
argument into a measured property. A run-to-run mismatch reports
``NONDET`` (counted as a failure) with the first differing rows. The float-bearing set is detected from the RESULT SCHEMA (any
double/float field), not a hardcoded list that would drift as the
registry grows — exactly the rows where a partition-order-dependent
float fold can flip a rounding boundary (the corpus_divergence r10
failure mode); integer/string-only rows are exact by construction and
skip the extra runs. An explicitly named query repeats regardless of
dtype.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entry_mod
from dgraph_dbpedia_spark.session import build_session

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_value(v):
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 6))
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    return str(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_value(r[i]) for i in order) for r in rows)


_DRIVER_UNSAFE_DUCK = ("HUGEINT", "DECIMAL", "STRUCT", "MAP", "UNION")


def duck_unsafe_types(con, sql: str) -> list[str]:
    """Driver-unsafe DuckDB output types (VERDICT r12 #1/#3): the
    driver canonicalizes through pandas, where HUGEINT/DECIMAL become
    float64/object ('1435.0' != Spark's '1435' — the three-round
    corpus_divergence red) and LIST/STRUCT columns crash the sort
    ('unhashable type: list' — the hashed_doc_embeddings err).
    Returns offending 'col: TYPE' strings; [] when safe."""
    rel = con.sql(f"SELECT * FROM ({sql}) LIMIT 0")
    bad = []
    for col, t in zip(rel.columns, rel.types):
        ts = str(t).upper()
        # '[' (not '[]') so fixed-size ARRAY types (DOUBLE[3]) are
        # caught too — pandas gets an unhashable sequence either way
        if "[" in ts or any(k in ts for k in _DRIVER_UNSAFE_DUCK):
            bad.append(f"{col}: {ts}")
    return bad


def spark_unsafe_fields(schema) -> list[str]:
    """Top-level array/map/struct output columns — the driver's pandas
    canonicalizer cannot sort them (the r12 hashed_doc_embeddings
    err); registered rows must scalar-project instead."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    return [
        f"{f.name}: {f.dataType.simpleString()}"
        for f in schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]


def _has_float_field(schema) -> bool:
    """True if any field (recursing through struct/array/map) is a
    floating type — the determinism-exposure signal for --repeat."""
    from pyspark.sql.types import (
        ArrayType, DoubleType, FloatType, MapType, StructType,
    )

    def walk(dt) -> bool:
        if isinstance(dt, (DoubleType, FloatType)):
            return True
        if isinstance(dt, StructType):
            return any(walk(f.dataType) for f in dt.fields)
        if isinstance(dt, ArrayType):
            return walk(dt.elementType)
        if isinstance(dt, MapType):
            return walk(dt.keyType) or walk(dt.valueType)
        return False

    return walk(schema)


def main(
    sf_dir: str, only: list[str] | None = None, repeat: int = 1
) -> int:
    spark = build_session(app_name="correctness-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    queries = entry_mod.queries()
    # sf-aware oracle generation: the data-embedding generators
    # (compression_ratio's host-computed VALUES) default to the
    # driver's fixed sf0.01 corpus; exporting the sweep's sf_dir makes
    # them emit MATCHING values at sf0.001/sf0.1 instead of a spurious
    # row-count FAIL
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = os.path.abspath(sf_dir)
    oracles = entry_mod.oracle_sql()
    failures = 0
    report: dict[str, dict] = {}
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            from dgraph_dbpedia_spark.operators.cachectl import release

            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = sdf.collect()
            release(sdf)
            # --repeat determinism gate: re-run the WHOLE query
            # (fresh plan, fresh task scheduling) and require the
            # normalized multiset to be byte-identical — repeated for
            # float-bearing schemas (or any explicitly named query);
            # exact-typed rows cannot drift and skip the extra runs.
            # Every run's persisted handles are released after its
            # collect — at --repeat 3 over the full registry the
            # leaked caches would otherwise triple and the resulting
            # eviction churn could distort the very comparison this
            # gate exists to make
            n_runs = (
                repeat
                if repeat > 1 and (only or _has_float_field(sdf.schema))
                else 1
            )
            if n_runs > 1:
                base = norm_rows(s_cols, s_rows)
                nondet = None
                for i in range(1, n_runs):
                    rdf_ = fn(spark, sf_dir)
                    r_rows = rdf_.collect()
                    release(rdf_)
                    again = norm_rows(s_cols, r_rows)
                    if again != base:
                        d1 = [x for x in base if x not in again][:3]
                        d2 = [x for x in again if x not in base][:3]
                        nondet = (
                            f"run 1 vs run {i + 1}: "
                            f"only-first {d1} only-later {d2}"
                        )
                        break
                if nondet:
                    print(f"NONDET {name}: {nondet}")
                    report[name] = {
                        "status": "NONDET", "err": nondet,
                        "repeat": n_runs,
                    }
                    failures += 1
                    continue
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error {e}")
            report[name] = {"status": "FAIL", "err": f"spark error {e}"}
            failures += 1
            continue
        if name not in oracles:
            print(f"WEAK {name}: rows-only, {len(s_rows)} rows")
            report[name] = {"status": "WEAK", "spark_rows": len(s_rows)}
            continue
        try:
            res = con.execute(oracles[name])
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error {e}")
            report[name] = {"status": "FAIL", "err": f"duckdb error {e}"}
            failures += 1
            continue
        problems = []
        # driver-harness type gate (VERDICT r12 #3): fetchall() above
        # renders Decimal('1435') as '1435' and so CANNOT see what the
        # driver's pandas canonicalizer sees ('1435.0') — check the
        # declared types, not the rendered values
        bad_duck = duck_unsafe_types(con, oracles[name])
        if bad_duck:
            problems.append(f"driver-unsafe oracle types {bad_duck}")
        bad_spark = spark_unsafe_fields(sdf.schema)
        if bad_spark:
            problems.append(f"driver-unsortable spark columns {bad_spark}")
        if len(s_rows) != len(d_rows):
            problems.append(f"rows {len(s_rows)} vs {len(d_rows)}")
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"cols {sorted(s_cols)} vs {sorted(d_cols)}")
        if not problems:
            a = norm_rows(s_cols, s_rows)
            b = norm_rows(d_cols, d_rows)
            if a != b:
                diff = [x for x in a if x not in b][:3]
                diff2 = [x for x in b if x not in a][:3]
                problems.append(f"values differ: spark-only {diff} duck-only {diff2}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            report[name] = {"status": "FAIL", "err": "; ".join(problems)}
            failures += 1
        else:
            tag = f" (repeat x{n_runs})" if n_runs > 1 else ""
            print(f"OK   {name}: {len(s_rows)} rows{tag}")
            report[name] = {
                "status": "OK",
                "spark_rows": len(s_rows),
                "oracle_rows": len(d_rows),
                "hash_match": True,
            }
            if n_runs > 1:
                report[name]["repeat"] = n_runs
    spark.stop()
    if not only:
        import json

        out = os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "CORRECTNESS_FULL.json")
        with open(out, "w") as f:
            json.dump(
                {"sf_dir": sf_dir, "repeat": repeat, "queries": report},
                f,
                indent=1,
            )
        print(f"wrote {out} ({len(report)} queries)")
    return failures


if __name__ == "__main__":
    argv = sys.argv[1:]
    repeat = 1
    if "--repeat" in argv:
        i = argv.index("--repeat")
        repeat = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2:]
    sf = argv[0] if argv else "/root/testdata/sf0.01"
    sys.exit(1 if main(sf, only=argv[1:] or None, repeat=repeat) else 0)
