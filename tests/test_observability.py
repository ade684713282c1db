from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dgraph_dbpedia_spark.observability import (
    codegen_compiles,
    collect_spill_metrics,
    mark,
    phase,
    phase_counters,
)
from tests import fixtures

SINKS = (
    "infobox_properties", "page_links", "interlanguage_links", "labels",
    "article_categories", "geo_coordinates", "skos_categories",
    "types", "external_ids",
)
_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


def _job_properties(spark) -> list[str | None]:
    return [spark.sparkContext.getLocalProperty(k) for k in _PROPS]


def test_spill_metrics_from_status_store(spark):
    spark.range(100000).groupBy((F.col("id") % 97).alias("k")).count().collect()
    m = collect_spill_metrics(spark)
    assert m.stages > 0
    assert m.memory_bytes_spilled >= 0
    assert "GB" in m.report()


def test_codegen_compiles_counts_compiles_not_cache_hits(spark):
    """A plan no other test runs (its integer literals are inlined into
    the generated code) compiles at least one class; running it again
    finds every class in the generated-code cache and compiles none."""

    def run() -> int:
        before = codegen_compiles(spark)
        spark.range(64).selectExpr("id * 7919 + 104729 AS v").agg(F.sum("v")).collect()
        return codegen_compiles(spark) - before

    assert run() >= 1
    assert run() == 0


def test_phase_names_jobs_and_restores_caller_group(spark):
    sc = spark.sparkContext
    sc.setJobGroup("caller", "caller's jobs")
    try:
        before = _job_properties(spark)
        since = mark(spark)
        with phase(spark, "outer"):
            spark.range(10).count()
            with phase(spark, "inner"):
                spark.range(10).count()
            spark.range(10).count()
        with pytest.raises(ValueError):
            with phase(spark, "failing"):
                raise ValueError("raised inside a phase")
        assert _job_properties(spark) == before
        spark.range(10).count()
        counters = phase_counters(spark, since)
        jobs = {g: c.jobs for g, c in counters.items()}
        assert set(jobs) == {"outer", "inner", "caller"}
        assert jobs["outer"] == 2 * jobs["inner"] == 2 * jobs["caller"] > 0
        assert all(c.tasks >= 1 and c.cpu_s >= 0 and c.wall_s >= 0 for c in counters.values())
    finally:
        for k in _PROPS:
            sc.setLocalProperty(k, None)


def test_pipeline_phase_coverage(spark, tmp_path, monkeypatch):
    """Ingest then transform with the CLI's reference flags: every job
    of the window runs under an ``ingest.*`` or ``transform.*`` phase,
    each sink's count and write are separate phases, and the caller's
    own job group is back after transform returns or raises."""
    from dgraph_dbpedia_spark.plans import transform as transform_mod
    from dgraph_dbpedia_spark.plans.ingest import ingest
    from tests.test_pipeline import _cli_reference_cfg

    sc = spark.sparkContext
    fixtures.generate(str(tmp_path / "ttl"))
    sc.setJobGroup("caller", "caller's jobs", True)
    try:
        before = _job_properties(spark)
        since = mark(spark)
        ingest(spark, str(tmp_path / "ttl"), str(tmp_path / "parquet"))
        transform_mod.transform(
            spark, str(tmp_path / "parquet"), str(tmp_path / "rdf"), cfg=_cli_reference_cfg()
        )
        counters = phase_counters(spark, since)
        window_jobs = mark(spark).job - since.job
        assert _job_properties(spark) == before

        groups = set(counters)
        assert all(g is not None and g.startswith(("ingest.", "transform.")) for g in groups), groups
        assert sum(c.jobs for c in counters.values()) == window_jobs
        for sink in SINKS:
            for step in ("count", "write"):
                assert counters[f"transform.{sink}.{step}"].jobs >= 1, (sink, step)
        for name in ("head", "tail", "stats", "schema", "schema_indexed"):
            assert counters[f"transform.{name}"].jobs >= 1, name
        assert any(g.startswith("ingest.") for g in groups)

        real_write = transform_mod.write_partitioned_by

        def write_partitioned_by(df, *args, path, **kwargs):
            if path.endswith("labels.rdf"):
                raise RuntimeError("injected sink failure")
            return real_write(df, *args, path=path, **kwargs)

        monkeypatch.setattr(transform_mod, "write_partitioned_by", write_partitioned_by)
        with pytest.raises(RuntimeError, match="injected sink failure"):
            transform_mod.transform(
                spark, str(tmp_path / "parquet"), str(tmp_path / "rdf_fail"),
                cfg=_cli_reference_cfg(),
            )
        assert _job_properties(spark) == before
    finally:
        for k in _PROPS:
            sc.setLocalProperty(k, None)
