"""The CLI fails loudly: an error in a pipeline phase propagates out of
``cli.main`` (so ``python -m dgraph_dbpedia_spark`` exits non-zero
through ``__main__.py``) and the session is still stopped. Spark-free:
the session is a stub and the pipelines are replaced by ones that
raise."""

from __future__ import annotations

import runpy
import sys

import pytest

from dgraph_dbpedia_spark import cli


class _Boom(RuntimeError):
    pass


class _StubSession:
    def __init__(self):
        self.stopped = 0

    def stop(self):
        self.stopped += 1


def _raise(*_args, **_kwargs):
    raise _Boom("phase failed")


@pytest.fixture
def session(monkeypatch):
    stub = _StubSession()
    monkeypatch.setattr(cli, "build_session", lambda **_kwargs: stub)
    return stub


@pytest.fixture
def failing_pipelines(monkeypatch):
    import dgraph_dbpedia_spark.plans.ingest as ingest_mod
    import dgraph_dbpedia_spark.plans.transform as transform_mod

    monkeypatch.setattr(ingest_mod, "ingest", _raise)
    monkeypatch.setattr(transform_mod, "transform", _raise)


ARGVS = {
    "ingest": ["ingest", "ttl_root", "out", "--languages", "de,en"],
    "transform": ["transform", "parquet_dir", "out", "--top-k", "5"],
}


@pytest.mark.parametrize("cmd", sorted(ARGVS))
def test_main_propagates_the_error_and_stops_the_session(cmd, session, failing_pipelines):
    with pytest.raises(_Boom, match="phase failed"):
        cli.main(ARGVS[cmd])
    assert session.stopped == 1


@pytest.mark.parametrize("cmd", sorted(ARGVS))
def test_module_entry_point_exits_through_the_error(cmd, session, failing_pipelines, monkeypatch):
    monkeypatch.setattr(sys, "argv", ["dgraph_dbpedia_spark", *ARGVS[cmd]])
    # an exception escaping __main__ makes the interpreter exit with 1
    with pytest.raises(_Boom):
        runpy.run_module("dgraph_dbpedia_spark", run_name="__main__", alter_sys=True)
    assert session.stopped == 1
