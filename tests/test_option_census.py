"""Every parameter of a top-level engine function is an option some
caller sets to another value; a defaulted parameter with a single value
in use, or a required one every caller feeds the same literal, must be
a constant (``tools/option_census.py``). Every resolved call to an
engine function fits its signature. Spark-free: the census parses
sources and imports nothing."""

from __future__ import annotations

import pathlib
import sys

ROOT = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT / "tools"))

from option_census import (  # noqa: E402
    EXEMPT,
    TWINS,
    census,
    repo_sources,
    signature_violations,
)

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


def req_one(df, col):
    return df


def req_two(df, col):
    return df


def req_var(df, col):
    return df


def spread(df, a=1, b=2):
    return df


def spread_mutated(df, a=1):
    return df


def as_value(df, col, n=1):
    return df


def twin(df, col, n=1):
    return df


def wrapper(df, x=1, **rest):
    return forwarded(df, **rest)


def fwd_target(df, a=1, b=2):
    return df


def fwd(df, **rest):
    return fwd_target(df, **rest)


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
    forwarded(df, **kw)            # a parameter: unresolved


def more(df, name, apply):
    ops.req_one(df, "x")           # one literal at every call: flagged
    ops.req_one(df, col="x")
    ops.req_two(df, "x")           # two literals: an option
    ops.req_two(df, "y")
    ops.req_var(df, "x")           # a variable: an option
    ops.req_var(df, name)
    ops.spread(df, **dict(a=1))    # resolved: a gets its default only
    opts = {"b": 5}                # bound once, never mutated: b set
    ops.spread(df, **opts)
    grown = dict(a=1)
    grown["a"] = 2                 # mutated: sets every parameter
    ops.spread_mutated(df, **grown)
    ops.as_value(df, "x")
    apply(ops.as_value)            # passed as a value: every parameter set
    ops.twin(df, "x")              # exempt reference twin
    ops.fwd(df, b=3)               # through fwd's **rest: b set, a not
'''

SOURCES = {"pkg/__init__.py": "", "pkg/ops.py": ENGINE, "callers/run.py": CALLER}


def test_census_reads_call_sites():
    result = census(
        SOURCES, package="pkg", exempt={"pkg.ops.build_session", "pkg.ops.twin"}
    )
    assert result["defaulted"] == 19
    assert sorted(result["single"]) == [
        "pkg.ops.fwd_target(a)",
        "pkg.ops.only_default(w)",
        "pkg.ops.op(mode)",
        "pkg.ops.op(seed)",
        "pkg.ops.pooled(m)",
        "pkg.ops.spread(a)",
        "pkg.ops.unused(width)",
        "pkg.ops.wrapper(x)",
    ]
    assert result["required"] == 20
    assert result["single_required"] == ["pkg.ops.req_one(col)"]


def test_exempt_twin_would_be_flagged():
    result = census(SOURCES, package="pkg", exempt={"pkg.ops.build_session"})
    assert "pkg.ops.twin(col)" in result["single_required"]
    assert "pkg.ops.twin(n)" in result["single"]


def test_signature_guard_reads_call_sites():
    caller = '''
from pkg import ops


def bad(df, kw):
    ops.req_one(df, "x", "y")      # one positional too many
    ops.req_one(df, width=3)       # no such keyword, col missing
    ops.op(df, 5, k=6)             # k twice
    ops.spread(df, **dict(c=1))    # resolved: no parameter c
    ops.spread(df, **kw)           # unresolved: skipped
    ops.op(df, mode="slow")
    ops.wrapper(df, a=2)           # **rest passes a on to forwarded
    ops.wrapper(df, c=1)           # ...which has no parameter c
'''
    got = signature_violations(
        {"pkg/__init__.py": "", "pkg/ops.py": ENGINE, "callers/bad.py": caller},
        package="pkg",
    )
    assert got == [
        "callers.bad:6: pkg.ops.req_one: 3 positionals for 2",
        "callers.bad:7: pkg.ops.req_one: no parameter width",
        "callers.bad:7: pkg.ops.req_one: col missing",
        "callers.bad:8: pkg.ops.op: k passed twice",
        "callers.bad:9: pkg.ops.spread: no parameter c",
        "callers.bad:13: pkg.ops.wrapper: no parameter c",
    ]


def test_engine_has_no_single_valued_option():
    result = census(repo_sources(ROOT), exempt=EXEMPT)
    assert result["single"] == [], (
        "defaulted parameters no caller sets to another value — make "
        f"them constants: {result['single']}"
    )
    assert result["single_required"] == [], (
        "required parameters every caller feeds the same literal — make "
        f"them constants: {result['single_required']}"
    )
    assert EXEMPT == {"dgraph_dbpedia_spark.session.build_session", *TWINS}


def test_every_engine_call_fits_its_signature():
    assert signature_violations(repo_sources(ROOT)) == []
