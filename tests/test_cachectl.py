"""The one-owner rule of ``operators/cachectl.py``: every persisted or
checkpointed intermediate is created through a ``CacheScope``, and a
failure anywhere leaves no cached or checkpointed frame behind."""

from __future__ import annotations

import pathlib
import re

import pytest
from pyspark.sql import functions as F

ROOT = pathlib.Path(__file__).resolve().parents[1]
EMB = "/root/testdata/sf0.001/embeddings.parquet"

# freeing a frame, or caching one outside a scope
_OUTSIDE_SCOPE = re.compile(
    r"\.unpersist\(|release_local_checkpoint\("
    r"|(?<!scope)\.(?:persist|cache|localCheckpoint)\("
)


def test_engine_caches_only_through_cachectl():
    """Spark-free guard: no engine module (nor the registry's builders)
    frees a frame itself or caches one outside a ``CacheScope`` — only
    ``operators/cachectl.py`` does."""
    owner = ROOT / "dgraph_dbpedia_spark" / "operators" / "cachectl.py"
    sources = [*(ROOT / "dgraph_dbpedia_spark").rglob("*.py"), ROOT / "__spark_entry__.py"]
    offenders = [
        f"{path.relative_to(ROOT)}:{n}: {line.strip()}"
        for path in sorted(sources)
        if path != owner
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if _OUTSIDE_SCOPE.search(line)
    ]
    assert not offenders, offenders


def _cache_state(spark) -> tuple[set, int]:
    """(persistent RDD ids, SQL cache-manager entries)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    rdds = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    return rdds, field.get(cm).size()


def _assert_nothing_new(spark, before):
    rdds, entries = _cache_state(spark)
    assert rdds <= before[0], sorted(rdds - before[0])
    assert entries <= before[1]


def test_cache_scope_frees_on_exit_and_nested_raise(spark):
    """A scope frees what it owns on exit; a frame a nested block kept
    or handed survives a returning enclosing block and is freed by a
    raising one."""
    from dgraph_dbpedia_spark.operators.cachectl import CacheScope, release

    before = _cache_state(spark)
    with CacheScope() as scope:
        scope.persist(spark.range(5)).count()
        scope.checkpoint(spark.range(6))
    _assert_nothing_new(spark, before)

    def inner():
        with CacheScope() as scope:
            cp = scope.keep(scope.checkpoint(spark.range(7)))
            return scope.hand(cp, scope.persist(spark.range(8)))

    with CacheScope():
        kept = inner()
    assert len(_cache_state(spark)[0] - before[0]) == 1
    assert _cache_state(spark)[1] == before[1] + 1
    release(kept)
    with pytest.raises(RuntimeError):
        with CacheScope():
            inner()
            raise RuntimeError("enclosing block fails")
    rdds, entries = _cache_state(spark)
    assert len(rdds - before[0]) == 1  # only the first call's kept checkpoint
    assert entries == before[1]


def _pq_train_over_cap(spark, monkeypatch):
    from dgraph_dbpedia_spark.operators import similarity
    from dgraph_dbpedia_spark.operators.pq import pq_train

    emb = spark.read.parquet(EMB)
    monkeypatch.setattr(similarity, "CENTROID_ROW_CAP", 8)
    return lambda: pq_train(emb, dims=64, m=4, k_sub=4, n_iter=1), "exceeds 8 rows"


def _ivf_train_over_cap(spark, monkeypatch):
    from dgraph_dbpedia_spark.operators import similarity

    emb = spark.read.parquet(EMB)
    monkeypatch.setattr(similarity, "CENTROID_ROW_CAP", 8)
    return (
        lambda: similarity.ivf_train(emb, n_centroids=16, n_iter=1),
        "exceeds 8 rows",
    )


def _rq_second_stage_raises(spark, monkeypatch):
    from dgraph_dbpedia_spark.operators import rq

    emb = spark.read.parquet(EMB)
    calls = []
    real = rq._stage_code

    def stage_code(*args):
        calls.append(args)
        if len(calls) == 2:
            raise RuntimeError("injected stage failure")
        return real(*args)

    monkeypatch.setattr(rq, "_stage_code", stage_code)
    return (
        lambda: rq.rq_train(emb, dims=64, k_sub=4, n_levels=3, n_iter=1),
        "injected stage failure",
    )


def _ivf_served_many_over_max_queries(spark, monkeypatch):
    from dgraph_dbpedia_spark.operators.similarity import (
        ivf_assign,
        ivf_topk_served_many,
    )

    e = spark.read.parquet(EMB).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    cent = e.orderBy("vec_id").limit(2).select(
        F.col("vec_id").alias("cid"), F.col("e").alias("c")
    )
    assigned = ivf_assign(e, cent)
    qs = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("q")
    )
    return (
        lambda: ivf_topk_served_many(assigned, cent, qs, k=2, max_queries=2),
        "max_queries",
    )


def _star_round_raises(spark, monkeypatch):
    from pyspark.sql import Observation

    from dgraph_dbpedia_spark.operators import dedup

    made = []

    class FailingObservation(Observation):
        # the third observation is round 2's convergence checksum, read
        # right after that round's checkpoint exists
        def __init__(self, *args):
            super().__init__(*args)
            made.append(self)

        @property
        def get(self):
            if len(made) >= 3 and self is made[2]:
                raise RuntimeError("injected round failure")
            return super().get

    monkeypatch.setattr(dedup, "Observation", FailingObservation)
    docs = spark.createDataFrame([(i,) for i in range(10)], ["doc_id"])
    chain = spark.createDataFrame([(i, i + 1) for i in range(9)], ["a", "b"])
    return lambda: dedup.dedup_clusters_star(docs, chain), "injected round failure"


def _stream_state_write_fails(spark, monkeypatch, tmp_path):
    from pyspark.sql.readwriter import DataFrameWriter

    from dgraph_dbpedia_spark.streaming.events import stream_near_dup_batch

    def parquet(self, *args, **kwargs):
        raise RuntimeError("injected state write failure")

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    batch = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog today"),
            (3, "completely different text about spark query engines"),
        ],
        ["doc_id", "text"],
    )
    state = str(tmp_path / "state")
    return (
        lambda: stream_near_dup_batch(batch, state),
        "injected state write failure",
    )


@pytest.mark.parametrize(
    "case",
    [
        "pq_train",
        "ivf_train",
        "rq_train",
        "ivf_topk_served_many",
        "dedup_clusters_star",
        "stream_near_dup_batch",
    ],
)
def test_failure_leaves_no_cached_frame(spark, monkeypatch, tmp_path, case):
    """Fault injection: each operator raises after it has persisted or
    checkpointed intermediates (a Lloyd iteration's centroid read over
    the row cap, an RQ stage after the previous stage's codebook and
    residual exist, the batch-probe cap after its checkpoint, a star
    round after its checkpoint, the streaming state write after the
    survivors' checkpoint). The error propagates, and no persistent RDD
    and no cache-manager entry outlives the call."""
    setups = {
        "pq_train": _pq_train_over_cap,
        "ivf_train": _ivf_train_over_cap,
        "rq_train": _rq_second_stage_raises,
        "ivf_topk_served_many": _ivf_served_many_over_max_queries,
        "dedup_clusters_star": _star_round_raises,
        "stream_near_dup_batch": lambda s, m: _stream_state_write_fails(
            s, m, tmp_path
        ),
    }
    call, message = setups[case](spark, monkeypatch)
    before = _cache_state(spark)
    with pytest.raises(Exception, match=message):
        call()
    _assert_nothing_new(spark, before)
