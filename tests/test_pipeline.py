"""End-to-end golden tests: miniature ingest -> transform, asserting the
reference's own validation invariants (SURVEY §5): write/read-back
counts, coverage ratio, schema-file shape, partition layout,
determinism under re-run."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from dgraph_dbpedia_spark.plans.ingest import ingest
from dgraph_dbpedia_spark.plans.transform import TransformConfig, transform
from tests import fixtures


@pytest.fixture(scope="module")
def pipeline_dirs(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("ttl")
    parquet = tmp_path_factory.mktemp("parquet")
    out = tmp_path_factory.mktemp("rdf")
    fixtures.generate(str(root))
    results = ingest(spark, str(root), str(parquet), print_stats=False)
    outputs = transform(
        spark,
        str(parquet),
        str(out),
        cfg=TransformConfig(
            write_types=True,
            externalise_uris=True,
            remove_language_tags=True,
            top_infobox_properties_per_lang=5,
            print_stats=False,
        ),
    )
    return root, parquet, out, results, outputs


def test_ingest_partition_layout(pipeline_dirs):
    _, parquet, _, results, _ = pipeline_dirs
    labels = os.path.join(str(parquet), "labels.parquet")
    langs = {d for d in os.listdir(labels) if d.startswith("lang=")}
    # de/en/vi plus en-de/en-vi pseudo-langs from en_uris
    assert langs == {"lang=de", "lang=en", "lang=vi", "lang=en-de", "lang=en-vi"}


def test_ingest_round_trip_counts(spark, pipeline_dirs):
    root, parquet, _, results, _ = pipeline_dirs
    labels = spark.read.parquet(os.path.join(str(parquet), "labels.parquet"))
    # 40 subjects * 3 langs + 10 en_uris * 2 langs
    assert labels.count() == 40 * 3 + 10 * 2
    # every triple has 4 cols, o keeps the lang tag
    row = labels.where(F.col("lang") == "de").orderBy("s").first()
    assert row["o"].endswith('"@de') or "@de" in row["o"]


def test_transform_outputs_exist(pipeline_dirs):
    _, _, out, _, outputs = pipeline_dirs
    for name in ("labels", "infobox_properties", "interlanguage_links", "page_links",
                 "article_categories", "skos_categories", "geo_coordinates",
                 "types", "external_ids"):
        assert name in outputs
        assert os.path.exists(os.path.join(str(out), f"{name}.rdf"))


def test_rdf_lines_shape(spark, pipeline_dirs):
    _, _, out, _, _ = pipeline_dirs
    path = os.path.join(str(out), "labels.rdf")
    lines = spark.read.text(path)
    bad = lines.where(~F.col("value").endswith(" .")).count()
    assert bad == 0
    # externalised: all subjects are blank nodes
    assert lines.where(~F.col("value").startswith("_:")).count() == 0
    # gzip files
    assert glob.glob(os.path.join(path, "lang=*", "*.gz"))


def test_invalid_predicates_dropped(spark, pipeline_dirs):
    _, _, out, _, outputs = pipeline_dirs
    infobox = outputs["infobox_properties"]
    assert infobox.where(F.col("p").contains("@") | F.col("p").contains("~")).count() == 0


def test_negative_dates_dropped(spark, pipeline_dirs):
    _, _, out, _, outputs = pipeline_dirs
    infobox = outputs["infobox_properties"]
    assert infobox.where(F.col("o").startswith('"-')).count() == 0


def test_schema_files(spark, pipeline_dirs):
    _, _, out, _, _ = pipeline_dirs
    plain = spark.read.text(os.path.join(str(out), "schema.dgraph"))
    indexed = spark.read.text(os.path.join(str(out), "schema.indexed.dgraph"))
    assert plain.count() == indexed.count() > 0
    import re

    for r in indexed.collect():
        assert re.match(r"^<.+>: \S+ @\S+.* \.$", r["value"]), r["value"]
    # xid predicate present (externalise_uris=True)
    assert indexed.where(F.col("value").startswith("<xid>:")).count() == 1


def test_en_uris_filtered_by_en_topk(spark, pipeline_dirs):
    """en-{lang} infobox rows must be kept iff their predicate is in the
    *en* top-k (DbpediaDgraphSparkApp.scala:133-135)."""
    _, _, out, _, outputs = pipeline_dirs
    infobox = outputs["infobox_properties"]
    en_star = infobox.where(F.col("lang").startswith("en-"))
    assert en_star.count() > 0  # en pop predicate is in en top-5


def test_geojson_output(spark, pipeline_dirs):
    _, _, out, _, outputs = pipeline_dirs
    geo = outputs["geo_coordinates"]
    row = geo.first()
    assert "geo:geojson" in row["o"]
    assert "Point" in row["o"]


def test_coverage_ratio(spark, pipeline_dirs):
    """Reference invariant: cleaned infobox covers a large share of the
    original rows (SPARK.md:224)."""
    _, parquet, _, _, outputs = pipeline_dirs
    orig = spark.read.parquet(os.path.join(str(parquet), "infobox_properties.parquet"))
    cov = outputs["infobox_properties"].count() / orig.count()
    assert cov > 0.5


def test_schema_single_file_per_partition(pipeline_dirs):
    """Reference coalesce(1) parity (DbpediaDgraphSparkApp.scala:330):
    each (dataset, lang) schema dir holds exactly ONE part-file."""
    _, _, out, _, _ = pipeline_dirs
    for schema_dir in ("schema.dgraph", "schema.indexed.dgraph"):
        part_dirs = glob.glob(os.path.join(str(out), schema_dir, "dataset=*", "lang=*"))
        assert part_dirs, schema_dir
        for d in part_dirs:
            parts = [f for f in os.listdir(d) if f.startswith("part-")]
            assert len(parts) == 1, (d, parts)


def test_get_languages_en_star_expansion():
    """Selecting 'en' pulls in en-<lang> pseudo-language partitions
    (DbpediaDgraphSparkApp.scala:457-472); without 'en' no expansion."""
    from dgraph_dbpedia_spark.plans.transform import get_languages

    assert get_languages(None) is None
    assert get_languages(["de", "vi"]) == ["de", "vi"]
    assert get_languages(["en", "de", "vi"]) == [
        "de", "en", "en-de", "en-vi", "vi"
    ]
    assert get_languages(["en"]) == ["en"]


def test_transform_languages_selection_keeps_en_star(spark, pipeline_dirs, tmp_path):
    """--languages ['en','de'] must still read the lang=en-de partition
    (ADVICE r1: the raw list silently dropped every en-* partition)."""
    _, parquet, _, _, _ = pipeline_dirs
    out2 = tmp_path / "rdf_langs"
    outputs = transform(
        spark, str(parquet), str(out2), languages=["en", "de"],
        cfg=TransformConfig(
            write_types=False, externalise_uris=False,
            remove_language_tags=False, top_infobox_properties_per_lang=None,
            print_stats=False,
        ),
    )
    langs = {r["lang"] for r in outputs["labels"].select("lang").distinct().collect()}
    assert "en-de" in langs
    assert "vi" not in langs and "en-vi" not in langs


def test_per_lang_stats_tables(spark, pipeline_dirs):
    """The flagship's stats tables: one row per non-en-* lang plus the
    en-* rollup whose counts equal the sum of the en-* rows."""
    from dgraph_dbpedia_spark.operators.stats import per_lang_stats_tables

    _, parquet, _, _, _ = pipeline_dirs
    labels = spark.read.parquet(os.path.join(str(parquet), "labels.parquet"))
    links = spark.read.parquet(os.path.join(str(parquet), "page_links.parquet"))
    main, en_star = per_lang_stats_tables({"labels": labels, "page_links": links})
    main_rows = {r["lang"]: r for r in main.collect()}
    en_rows = en_star.collect()
    assert set(main_rows) == {"de", "en", "vi", "en-*"}
    assert {r["lang"] for r in en_rows} == {"en-de", "en-vi"}
    for col in ("labels", "page_links"):
        assert main_rows["en-*"][col] == sum(r[col] for r in en_rows)
        # fixture: 40 subjects per lang in labels
    assert main_rows["de"]["labels"] == 40


def test_types_derivation_includes_category_subjects(spark, pipeline_dirs):
    """article_categories SUBJECTS get dgraph.type Article (reference
    :419; missing in r1): every category-triple subject must appear as
    an Article type triple."""
    _, _, out, _, outputs = pipeline_dirs
    types = outputs["types"]
    cat_subjects = {
        r["s"] for r in outputs["article_categories"].select("s").distinct().collect()
    }
    article_nodes = {
        r["s"]
        for r in types.where(F.col("o") == '"Article"').select("s").collect()
    }
    assert cat_subjects <= article_nodes


def test_transform_deterministic(spark, pipeline_dirs, tmp_path):
    """Re-running the transform produces identical RDF line sets."""
    _, parquet, out, _, outputs = pipeline_dirs
    out2 = tmp_path / "rdf2"
    outputs2 = transform(
        spark,
        str(parquet),
        str(out2),
        cfg=TransformConfig(
            write_types=True,
            externalise_uris=True,
            remove_language_tags=True,
            top_infobox_properties_per_lang=5,
            print_stats=False,
        ),
    )
    a = spark.read.text(os.path.join(str(out), "infobox_properties.rdf"))
    b = spark.read.text(os.path.join(str(out2), "infobox_properties.rdf"))
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0


def test_infobox_dims_equal_direct_operators(spark, pipeline_dirs):
    """The one-scan cube derivation must be value-identical to running
    top_k_per_group / majority_value_per_group / the schema distinct
    directly over the fact table (same counts, same tie-breaks)."""
    from dgraph_dbpedia_spark.functions.rdf import remap_en_lang, typed_triples
    from dgraph_dbpedia_spark.functions.schema_gen import infobox_predicate_schema
    from dgraph_dbpedia_spark.operators.majority import majority_value_per_group
    from dgraph_dbpedia_spark.plans.transform import infobox_dims, top_k_infobox

    _, parquet, _, _, _ = pipeline_dirs
    fact = spark.read.parquet(os.path.join(str(parquet), "infobox_properties.parquet"))
    fact = fact.withColumn("lang", F.col("lang").cast("string"))

    topk, pred_dt, schema_derived, dim_caches = infobox_dims(fact, 5)
    filtered_direct, topk_direct = top_k_infobox(fact, 5)
    assert topk.exceptAll(topk_direct).count() == 0
    assert topk_direct.exceptAll(topk).count() == 0

    typed = typed_triples(filtered_direct)
    pd_direct = majority_value_per_group(typed, ["p"], "t").select("p", "t")
    assert pred_dt.exceptAll(pd_direct).count() == 0
    assert pd_direct.exceptAll(pred_dt).count() == 0

    schema_direct = infobox_predicate_schema(filtered_direct, pd_direct)
    assert schema_derived.exceptAll(schema_direct).count() == 0
    assert schema_direct.exceptAll(schema_derived).count() == 0


def test_transform_schedule_independent(spark, pipeline_dirs, tmp_path, monkeypatch):
    """Output must not depend on sink-pool width: a single-worker
    (fully serial) run produces the same line sets as the module
    fixture's concurrent run — guards the r6 wave-scheduling work
    against any ordering-dependent nondeterminism."""
    from dgraph_dbpedia_spark.plans import transform as transform_mod

    _, parquet, out, _, _ = pipeline_dirs
    monkeypatch.setattr(transform_mod, "SINK_WORKERS", 1)
    out2 = tmp_path / "rdf_serial"
    transform(
        spark,
        str(parquet),
        str(out2),
        cfg=TransformConfig(
            write_types=True,
            externalise_uris=True,
            remove_language_tags=True,
            top_infobox_properties_per_lang=5,
            print_stats=False,
        ),
    )
    for ds in ("infobox_properties.rdf", "types.rdf", "external_ids.rdf"):
        a = spark.read.text(os.path.join(str(out), ds))
        b = spark.read.text(os.path.join(str(out2), ds))
        assert a.count() == b.count(), ds
        assert a.exceptAll(b).count() == 0, ds


# transform's printed stats on the fixture corpus with the CLI's
# reference flags, app-wide spill line dropped; captured from the serial
# per-dataset-count / join-fold implementation the fused one replaced
GOLDEN_STATS = (
    'labels: 140 triples, 120 nodes, 1 predicates\n'
    'interlanguage_links: 119 triples, 88 nodes, 1 predicates\n'
    'page_links: 228 triples, 120 nodes, 1 predicates\n'
    'article_categories: 120 triples, 120 nodes, 1 predicates\n'
    'skos_categories: 54 triples, 16 nodes, 4 predicates\n'
    'geo_coordinates: 60 triples, 60 nodes, 1 predicates\n'
    'infobox_properties: 596 triples, 120 nodes, 33 predicates\n'
    'top 100 infobox_properties: 596 triples, 120 nodes, 33 predicates\n'
    '\n'
    'Triples per languages and dataset:\n'
    '+----+------+-------------------+----------+------------------+---------------+---------------+------------------+--------------------------+\n'
    '|lang|labels|interlanguage_links|page_links|article_categories|skos_categories|geo_coordinates|infobox_properties|top 100 infobox_properties|\n'
    '+----+------+-------------------+----------+------------------+---------------+---------------+------------------+--------------------------+\n'
    '|de  |40    |38                 |66        |40                |27             |20             |192               |192                       |\n'
    '|en  |40    |39                 |74        |40                |27             |20             |192               |192                       |\n'
    '|en-*|20    |0                  |0         |0                 |0              |0              |20                |20                        |\n'
    '|vi  |40    |42                 |88        |40                |0              |20             |192               |192                       |\n'
    '+----+------+-------------------+----------+------------------+---------------+---------------+------------------+--------------------------+\n'
    '\n'
    '+-----+------+-------------------+----------+------------------+---------------+---------------+------------------+--------------------------+\n'
    '|lang |labels|interlanguage_links|page_links|article_categories|skos_categories|geo_coordinates|infobox_properties|top 100 infobox_properties|\n'
    '+-----+------+-------------------+----------+------------------+---------------+---------------+------------------+--------------------------+\n'
    '|en-de|10    |0                  |0         |0                 |0              |0              |10                |10                        |\n'
    '|en-vi|10    |0                  |0         |0                 |0              |0              |10                |10                        |\n'
    '+-----+------+-------------------+----------+------------------+---------------+---------------+------------------+--------------------------+\n'
    '\n'
    'cleaned-up infoboxes cover 84% of original rows\n'
)


def _cli_reference_cfg() -> TransformConfig:
    return TransformConfig(
        write_types=True,
        externalise_uris=True,
        remove_language_tags=True,
        top_infobox_properties_per_lang=100,
        print_stats=True,
    )


def test_transform_printed_stats_golden(spark, pipeline_dirs, tmp_path, capsys):
    """The stats text transform prints by default (the CLI's path) is
    byte-identical to the serial implementation's: the fused counts,
    the pivot table and printing after the sink pool change nothing a
    reader of stdout can see."""
    _, parquet, _, _, _ = pipeline_dirs
    capsys.readouterr()
    transform(spark, str(parquet), str(tmp_path / "rdf_stats"), cfg=_cli_reference_cfg())
    printed = capsys.readouterr().out
    assert printed.splitlines()[-1].startswith("memory spill:")
    kept = "".join(
        line for line in printed.splitlines(True) if not line.startswith("memory spill:")
    )
    assert kept == GOLDEN_STATS


def test_transform_stats_failure_releases_caches(spark, pipeline_dirs, tmp_path, monkeypatch):
    """Fault injection: a raise in the stats job propagates out of
    transform, and no cache transform persisted (stats pivot, retained
    sink frames, dimension caches, schema) outlives the call."""
    from dgraph_dbpedia_spark.operators import stats

    def boom(frames):
        raise RuntimeError("injected stats failure")

    _, parquet, _, _, _ = pipeline_dirs
    monkeypatch.setattr(stats, "datasets_counts", boom)
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    with pytest.raises(RuntimeError, match="injected stats failure"):
        transform(spark, str(parquet), str(tmp_path / "rdf_fail"), cfg=_cli_reference_cfg())
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    assert after <= before


@pytest.mark.parametrize("fault", ["filter", "count", "write", "types"])
def test_transform_sink_failure_raises_promptly(
    spark, pipeline_dirs, tmp_path, monkeypatch, fault
):
    """Fault injection into the sink pool: the labels sink raises while
    building its predicate filter, in its count job or in its write —
    or the types job raises. transform must re-raise within a bounded
    time (the types job parks on the sink-count latch, so a sink that
    fails before releasing it used to hang the pool exit forever) and
    leave no cache it persisted behind."""
    import threading

    from dgraph_dbpedia_spark.plans import transform as transform_mod

    target = "types.rdf" if fault == "types" else "labels.rdf"
    message = f"injected {fault} failure"
    sink = threading.local()  # each sink runs write_rdf on its own thread
    real_write_rdf = transform_mod.write_rdf
    real_filter = transform_mod.invalid_predicate_filter
    real_write = transform_mod.write_partitioned_by

    class FailingCount:
        def __init__(self, df):
            self._df = df

        def count(self):
            raise RuntimeError(message)

        def __getattr__(self, name):
            return getattr(self._df, name)

    def write_rdf(spark_, df, path, *args, **kwargs):
        sink.path = path
        if fault == "types" and path.endswith(target):
            raise RuntimeError(message)
        return real_write_rdf(spark_, df, path, *args, **kwargs)

    def invalid_predicate_filter(df):
        out = real_filter(df)
        if getattr(sink, "path", "").endswith(target):
            if fault == "filter":
                raise RuntimeError(message)
            if fault == "count":
                return FailingCount(out)
        return out

    def write_partitioned_by(df, *args, path, **kwargs):
        if fault == "write" and path.endswith(target):
            raise RuntimeError(message)
        return real_write(df, *args, path=path, **kwargs)

    monkeypatch.setattr(transform_mod, "write_rdf", write_rdf)
    monkeypatch.setattr(
        transform_mod, "invalid_predicate_filter", invalid_predicate_filter
    )
    monkeypatch.setattr(transform_mod, "write_partitioned_by", write_partitioned_by)
    _, parquet, _, _, _ = pipeline_dirs
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    raised = []

    def run():
        try:
            transform(
                spark, str(parquet), str(tmp_path / f"rdf_{fault}"),
                cfg=_cli_reference_cfg(),
            )
        except BaseException as e:  # noqa: BLE001 — handed to the test
            raised.append(e)

    runner = threading.Thread(target=run, daemon=True)
    runner.start()
    runner.join(120)
    assert not runner.is_alive(), f"transform hung after an {message}"
    assert raised and message in str(raised[0]), raised
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    assert after <= before


def test_transform_sink_failure_aborts_queued_work(
    spark, pipeline_dirs, tmp_path, monkeypatch
):
    """Fault injection on a one-worker sink pool: the first sink
    (infobox_properties) raises in its count job. transform must
    re-raise at once — the sinks still queued behind it never run
    (skos_categories, submitted last, writes nothing), the parked types
    job returns without writing — and leave no persisted cache."""
    import threading

    from dgraph_dbpedia_spark.plans import transform as transform_mod

    message = "injected infobox_properties count failure"
    sink = threading.local()  # each sink runs write_rdf on its own thread
    real_write_rdf = transform_mod.write_rdf
    real_filter = transform_mod.invalid_predicate_filter

    class FailingCount:
        def __init__(self, df):
            self._df = df

        def count(self):
            raise RuntimeError(message)

        def __getattr__(self, name):
            return getattr(self._df, name)

    def write_rdf(spark_, df, path, *args, **kwargs):
        sink.path = path
        return real_write_rdf(spark_, df, path, *args, **kwargs)

    def invalid_predicate_filter(df):
        out = real_filter(df)
        if getattr(sink, "path", "").endswith("infobox_properties.rdf"):
            return FailingCount(out)
        return out

    monkeypatch.setattr(transform_mod, "SINK_WORKERS", 1)
    monkeypatch.setattr(transform_mod, "write_rdf", write_rdf)
    monkeypatch.setattr(
        transform_mod, "invalid_predicate_filter", invalid_predicate_filter
    )
    _, parquet, _, _, _ = pipeline_dirs
    out = tmp_path / "rdf_abort"
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    raised = []

    def run():
        try:
            transform(spark, str(parquet), str(out), cfg=_cli_reference_cfg())
        except BaseException as e:  # noqa: BLE001 — handed to the test
            raised.append(e)

    runner = threading.Thread(target=run, daemon=True)
    runner.start()
    runner.join(120)
    assert not runner.is_alive(), f"transform hung after an {message}"
    assert raised and message in str(raised[0]), raised
    assert not (out / "skos_categories.rdf").exists()
    assert not (out / "types.rdf").exists()
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    assert after <= before


def test_ingest_write_failure_aborts_queued_datasets(
    spark, pipeline_dirs, tmp_path, monkeypatch
):
    """Fault injection on a two-worker ingest pool: the labels write
    raises while the first dataset's write is still running. ingest
    must re-raise at once — the datasets still queued never start (no
    output dir; the one the free worker may pick up before the cancel
    is exempt, as in transform's twin test) — and leave the caller's
    job group as it was. Waiting for results in submission order
    instead would let the free worker run every queued dataset until
    the first one finished: here, a queued dataset's start is what
    unblocks the first write."""
    import threading

    from dgraph_dbpedia_spark.plans import ingest as ingest_mod

    message = "injected labels write failure"
    first, queued = "infobox_properties", ["page_links", "skos_categories",
                                           "geo_coordinates"]
    started, late_start = [], threading.Event()
    real_load, real_write = ingest_mod.load_dataset, ingest_mod.write_partitioned_by

    def load_dataset(spark_, root_, dataset, *args, **kwargs):
        started.append(dataset)
        if dataset in queued[1:]:
            late_start.set()
        return real_load(spark_, root_, dataset, *args, **kwargs)

    def write_partitioned_by(df, *args, path, **kwargs):
        if path.endswith("labels.parquet"):
            raise RuntimeError(message)
        if path.endswith(f"{first}.parquet"):
            late_start.wait(5)
        return real_write(df, *args, path=path, **kwargs)

    monkeypatch.setattr(ingest_mod, "INGEST_WORKERS", 2)
    monkeypatch.setattr(ingest_mod, "load_dataset", load_dataset)
    monkeypatch.setattr(ingest_mod, "write_partitioned_by", write_partitioned_by)
    out = tmp_path / "parquet_fail"
    sc = spark.sparkContext
    raised, group = [], []

    def run():
        sc.setJobGroup("caller", "caller")
        try:
            ingest(spark, str(pipeline_dirs[0]), str(out),
                   datasets=[first, "labels", *queued])
        except BaseException as e:  # noqa: BLE001 — handed to the test
            raised.append(e)
        finally:
            group.append(sc.getLocalProperty("spark.jobGroup.id"))
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)

    runner = threading.Thread(target=run, daemon=True)
    runner.start()
    runner.join(120)
    assert not runner.is_alive(), f"ingest hung after an {message}"
    assert raised and message in str(raised[0]), raised
    assert group == ["caller"]
    assert not set(started) & set(queued[1:]), started
    for dataset in queued[1:]:
        assert not (out / f"{dataset}.parquet").exists(), dataset


@pytest.mark.parametrize("fault", ["read", "stats"])
def test_ingest_failed_dataset_leaves_no_table(
    spark, pipeline_dirs, tmp_path, monkeypatch, fault
):
    """Fault injection on a one-worker ingest pool: the labels dataset
    fails in its ttl read or in its stats read-back. ingest re-raises
    within a bounded time, the datasets queued behind it never start
    (the one the worker may pick up before the cancel is exempt), the
    dataset that finished keeps its table, and the failed dataset
    leaves no ``labels.parquet`` — neither a partial write nor the
    stale table of an earlier run (planted here) that a later transform
    would read as whole."""
    import threading

    from dgraph_dbpedia_spark.plans import ingest as ingest_mod

    message = f"injected labels {fault} failure"
    first, queued = "infobox_properties", ["page_links", "geo_coordinates",
                                           "skos_categories"]
    started, counted = [], []
    real_load, real_read = ingest_mod.load_dataset, ingest_mod.read_ttl
    real_counts = ingest_mod.dataset_counts

    def load_dataset(spark_, root_, dataset, *args, **kwargs):
        started.append(dataset)
        return real_load(spark_, root_, dataset, *args, **kwargs)

    def read_ttl(spark_, path, *args, **kwargs):
        if fault == "read" and "labels" in os.path.basename(path):
            raise RuntimeError(message)
        return real_read(spark_, path, *args, **kwargs)

    def dataset_counts(df):
        counted.append(df)
        # one worker: the second read-back is the labels dataset's
        if fault == "stats" and len(counted) == 2:
            raise RuntimeError(message)
        return real_counts(df)

    monkeypatch.setattr(ingest_mod, "INGEST_WORKERS", 1)
    monkeypatch.setattr(ingest_mod, "load_dataset", load_dataset)
    monkeypatch.setattr(ingest_mod, "read_ttl", read_ttl)
    monkeypatch.setattr(ingest_mod, "dataset_counts", dataset_counts)
    out = tmp_path / f"parquet_{fault}"
    (out / "labels.parquet" / "lang=de").mkdir(parents=True)
    (out / "labels.parquet" / "lang=de" / "part-0.parquet").write_bytes(b"stale")
    raised = []

    def run():
        try:
            ingest(spark, str(pipeline_dirs[0]), str(out),
                   datasets=[first, "labels", *queued])
        except BaseException as e:  # noqa: BLE001 — handed to the test
            raised.append(e)

    runner = threading.Thread(target=run, daemon=True)
    runner.start()
    runner.join(120)
    assert not runner.is_alive(), f"ingest hung after an {message}"
    assert raised and message in str(raised[0]), raised
    assert started[:2] == [first, "labels"]
    assert not set(started) & set(queued[1:]), started
    assert (out / f"{first}.parquet" / "_SUCCESS").exists()
    assert not (out / "labels.parquet").exists()
    for dataset in queued[1:]:
        assert not (out / f"{dataset}.parquet").exists(), dataset


def test_ingest_failed_dataset_keeps_its_error_when_delete_fails(
    spark, pipeline_dirs, tmp_path, monkeypatch
):
    """The failed dataset's cleanup delete can fail too (an unreachable
    filesystem); ingest still raises the dataset's own error, with the
    delete's failure attached as a note."""
    from dgraph_dbpedia_spark.plans import ingest as ingest_mod

    def read_ttl(spark_, path, *args, **kwargs):
        raise RuntimeError("injected labels read failure")

    def fs_delete(spark_, path):
        raise OSError("injected delete failure")

    monkeypatch.setattr(ingest_mod, "read_ttl", read_ttl)
    monkeypatch.setattr(ingest_mod, "fs_delete", fs_delete)
    with pytest.raises(RuntimeError, match="injected labels read failure") as info:
        ingest(spark, str(pipeline_dirs[0]), str(tmp_path / "parquet"),
               datasets=["labels"], print_stats=False)
    assert any("injected delete failure" in n for n in info.value.__notes__)


@pytest.mark.parametrize("path", [
    "nosuchfs://bucket/labels.parquet",
    "nosuchfs:///labels.parquet",
])
def test_unreachable_filesystem_is_an_error_not_an_empty_dataset(spark, path):
    """A path on a filesystem the session has no client for is not a
    missing dataset: existence checks, deletes and the triple reader
    raise instead of reading it as empty (which would let transform
    write empty sinks and exit 0)."""
    from dgraph_dbpedia_spark.sources.parquet import (
        fs_delete,
        fs_exists,
        read_triples_parquet,
    )

    with pytest.raises(Exception, match="nosuchfs"):
        fs_exists(spark, path)
    with pytest.raises(Exception, match="nosuchfs"):
        fs_delete(spark, path)
    with pytest.raises(Exception, match="nosuchfs"):
        read_triples_parquet(spark, path)


def test_curate_corpus_every_stage_fires(spark):
    """End-to-end curation composition: each planted doc exercises one
    stage — gopher kill (too short), exact-dup kill (identical text,
    min id wins), near-dup kill (one-token variant, component min id
    wins), decontamination kill (shares a 3-gram with the benchmark),
    and clean survivors pass through with all columns."""
    from dgraph_dbpedia_spark.operators.cachectl import release
    from dgraph_dbpedia_spark.plans.curate import curate_corpus

    t_dup = "alpha beta gamma delta epsilon zeta"
    # long shared prefix so the banded MinHash candidate join fires
    # deterministically for these fixed texts (J ~ 0.88; banding is
    # probabilistic per-pair in general, deterministic per fixed text)
    t_near = (
        "red green blue yellow purple orange pink silver gold bronze "
        "copper iron steel zinc lead tin nickel cobalt"
    )
    docs = spark.createDataFrame(
        [
            (0, "en", "one two three"),                      # gopher: < 5 words
            (1, "en", t_dup),                                # survives (exact rep)
            (2, "en", t_dup),                                # exact dup of 1
            (3, "en", t_near),                               # survives (component rep)
            (4, "en", t_near.replace("cobalt", "chrome")),   # near-dup of 3
            (5, "en", "the secret eval phrase is here"),     # contaminated
            (6, "fr", "paris lyon nice marseille toulouse"), # clean survivor
        ],
        ["doc_id", "lang", "text"],
    )
    bench = spark.createDataFrame(
        [(0, "xx secret eval phrase yy")], ["bid", "text"]
    )
    out = curate_corpus(
        docs,
        benchmark=bench,
        gopher_kwargs=dict(
            min_words=5, max_words=1000, min_mean_word_len=1.0,
            max_mean_word_len=20.0, min_alpha_word_ratio=0.0,
            min_stopwords=0,
        ),
        near_dup_threshold=0.5,
        decontaminate_w=3,
    )
    rows = out.collect()
    release(out)
    assert out.columns == ["doc_id", "lang", "text"]
    assert sorted(r["doc_id"] for r in rows) == [1, 3, 6]
    # alpha stage: with temperature sampling on, the rarest lang (fr,
    # one doc) must keep its doc (rate 1.0)
    out2 = curate_corpus(
        docs,
        gopher_kwargs=dict(
            min_words=5, max_words=1000, min_mean_word_len=1.0,
            max_mean_word_len=20.0, min_alpha_word_ratio=0.0,
            min_stopwords=0,
        ),
        near_dup_threshold=0.5,
        alpha=0.5,
    )
    ids2 = sorted(r["doc_id"] for r in out2.collect())
    release(out2)
    assert 6 in ids2 and set(ids2) <= {1, 3, 5, 6}


def test_pretraining_prep_composition_seams(spark):
    """The curate -> chunk -> split -> epoch-shuffle composition's
    ordering contracts (the seams the oracle row pins at sf, checked
    here on a surgical fixture): chunks exist ONLY for curation
    survivors; every chunk of a doc carries the SAME split (doc-keyed
    coin — no train/val leakage); train rows get a dense per-shard
    (shard, pos) order with chunk-unique keys (no duplicate positions
    even when one doc contributes many chunks); non-train rows carry
    NULL shard/pos; and the whole frame is reproducible run-to-run."""
    from dgraph_dbpedia_spark.operators.cachectl import release
    from dgraph_dbpedia_spark.plans.curate import pretraining_prep

    long_doc = " ".join(f"tok{i}" for i in range(40))
    docs = spark.createDataFrame(
        [
            (0, "en", "one two three"),  # gopher kill: < 5 words
            (1, "en", long_doc),         # survivor, 40 tokens -> chunks
            (2, "en", long_doc),         # exact dup of 1 -> killed
            (3, "fr", " ".join(f"mot{i}" for i in range(20))),  # survivor
        ],
        ["doc_id", "lang", "text"],
    )
    kwargs = dict(
        gopher_kwargs=dict(
            min_words=5, max_words=1000, min_mean_word_len=1.0,
            max_mean_word_len=20.0, min_alpha_word_ratio=0.0,
            min_stopwords=0,
        ),
        near_dup_threshold=0.9,
        chunk_tokens=16,
        overlap=4,
        fractions={"train": 0.5, "val": 0.5},
        n_shards=2,
    )
    out = pretraining_prep(docs, **kwargs)
    rows = out.collect()
    release(out)
    assert out.columns == [
        "doc_id", "chunk_idx", "n_tokens", "split", "shard", "pos"
    ]
    # chunks only for survivors (0 gopher-killed, 2 exact-dup-killed)
    assert {r["doc_id"] for r in rows} == {1, 3}
    # 40 tokens at 16/4 (stride 12): starts 0,12,24 -> 3 chunks
    assert sorted(
        r["chunk_idx"] for r in rows if r["doc_id"] == 1
    ) == [0, 1, 2]
    # doc-keyed split: all chunks of a doc agree
    for d in (1, 3):
        assert len({r["split"] for r in rows if r["doc_id"] == d}) == 1
    train = [r for r in rows if r["split"] == "train"]
    rest = [r for r in rows if r["split"] != "train"]
    assert train, "fixture must land at least one doc in train"
    # train: per-shard positions dense from 1, chunk-unique keys
    by_shard: dict[int, list[int]] = {}
    for r in train:
        assert r["shard"] is not None and 0 <= r["shard"] < 2
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))
    # non-train: NULL delivery order
    assert all(r["shard"] is None and r["pos"] is None for r in rest)
    # deterministic end to end
    out2 = pretraining_prep(docs, **kwargs)
    rows2 = out2.collect()
    release(out2)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_pretraining_prep_validates_before_curating(spark):
    """Bad post-curate knobs must fail FAST (plan-construction time,
    before the expensive curation chain runs) and must not leak
    persisted frames."""
    import pytest

    from dgraph_dbpedia_spark.plans.curate import pretraining_prep

    docs = spark.createDataFrame(
        [(1, "en", "one two three four five six")],
        ["doc_id", "lang", "text"],
    )
    before = len(spark.sparkContext._jsc.getPersistentRDDs())
    with pytest.raises(ValueError):
        pretraining_prep(docs, chunk_tokens=16, overlap=16)
    with pytest.raises(ValueError):
        pretraining_prep(docs, fractions={"train": 0.9, "val": 0.9})
    with pytest.raises(ValueError):
        pretraining_prep(docs, n_shards=0)
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == before
