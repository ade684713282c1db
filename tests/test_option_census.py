"""Every defaulted parameter of a top-level engine function is an
option some caller sets to another value; one with a single value in
use must be a constant (``tools/option_census.py``). Spark-free: the
census parses sources and imports nothing."""

from __future__ import annotations

import pathlib
import sys

ROOT = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT / "tools"))

from option_census import EXEMPT, census, repo_sources  # noqa: E402

ENGINE = '''
from .helpers import helper as _helper


def op(df, k=10, id_col="id", seed=None, *, mode="fast"):
    return _helper(df, k)


def unused(df, width=3):
    return df


def only_default(df, w=5):
    return df


def pooled(df, n=1, m=2):
    return df


def forwarded(df, a=1, b=2):
    return df


def build_session(app_name="x"):
    return None
'''

CALLER = '''
from pkg import ops
from pkg.ops import op, only_default, forwarded


def run(df, pool, args, kw):
    op(df, 5)                      # k set positionally
    ops.op(df, id_col="doc_id")    # id_col set through the module alias
    op(df, seed=None)              # seed only ever gets its default
    only_default(df, w=5)          # the default literal, again
    pool.submit(ops.pooled, df, 3) # submit(fn, ...) calls fn: n set
    forwarded(df, *args)           # *args sets every parameter
    forwarded(df, **kw)
'''


def test_census_reads_call_sites():
    result = census(
        {"pkg/__init__.py": "", "pkg/ops.py": ENGINE, "callers/run.py": CALLER},
        package="pkg",
        exempt={"pkg.ops.build_session"},
    )
    assert result["defaulted"] == 11
    assert sorted(result["single"]) == [
        "pkg.ops.only_default(w)",
        "pkg.ops.op(mode)",
        "pkg.ops.op(seed)",
        "pkg.ops.pooled(m)",
        "pkg.ops.unused(width)",
    ]


def test_engine_has_no_single_valued_option():
    result = census(repo_sources(ROOT), exempt=EXEMPT)
    assert result["single"] == [], (
        "defaulted parameters no caller sets to another value — make "
        f"them constants: {result['single']}"
    )
