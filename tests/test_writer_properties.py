"""Hypothesis property tests for the partitioned-sorted sink — the
engine's most-reused primitive (sources/writers.py). For arbitrary
small frames: round-trip preserves the row multiset, partition dirs
are exactly the distinct partition values (Hive layout), and every
individual written file is internally sorted by the full sort key.

Batched like tests/test_properties.py: hypothesis generates whole row
lists, one write+read-back per example (Spark jobs are the cost).
"""

from __future__ import annotations

import glob
import itertools
import os

import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from dgraph_dbpedia_spark.sources.writers import write_partitioned_by

_LANGS = ["en", "de", "fr"]
_PS = ["p0", "p1", "p2"]

_rows = st.lists(
    st.tuples(
        st.sampled_from(_LANGS),
        st.integers(min_value=0, max_value=4),
        st.sampled_from(_PS),
        st.integers(min_value=-1000, max_value=1000),
    ),
    min_size=1,
    max_size=40,
)

_counter = itertools.count()


@pytest.fixture(scope="module")
def out_root(tmp_path_factory):
    return str(tmp_path_factory.mktemp("writer_props"))


@given(rows=_rows)
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
def test_layout_guarantees(spark, out_root, rows):
    path = os.path.join(out_root, f"case{next(_counter)}")
    df = spark.createDataFrame(rows, ["lang", "s", "p", "o"])
    write_partitioned_by(df, ["lang"], ["s"], ["p", "o"], path=path)

    # 1. Hive partition dirs == the distinct partition values, no more
    want_dirs = {f"lang={v}" for v, *_ in rows}
    got_dirs = {
        d for d in os.listdir(path)
        if os.path.isdir(os.path.join(path, d))
    }
    assert got_dirs == want_dirs

    # 2. round-trip multiset equality (partition col comes back)
    back = spark.read.parquet(path)
    assert sorted(map(tuple, back.select("lang", "s", "p", "o").collect())) == sorted(
        rows
    )

    # 3. every physical file is internally sorted by the full sort key
    #    (s, p, o) — the partition col is constant within its dir
    for f in glob.glob(os.path.join(path, "lang=*", "*.parquet")):
        t = pq.read_table(f, columns=["s", "p", "o"])
        triples = list(zip(*[t.column(c).to_pylist() for c in ("s", "p", "o")]))
        assert triples == sorted(triples), f

