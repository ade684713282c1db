"""Transform pipeline: Parquet triples -> cleaned Dgraph RDF + schema + stats.

Parity with the reference flagship ``DbpediaDgraphSparkApp``
(DbpediaDgraphSparkApp.scala:42-460) re-expressed as pure
DataFrame -> DataFrame functions:

- source layer with lang partition pruning + missing-input fallback
- interlanguage-object filter by node language (native expressions)
- top-k infobox predicates per language with the en-* node-lang remap
- datatype extraction / coercion / majority-vote disambiguation
- per-dataset cleanups (blank nodes, lang tags, prefLabel special case,
  negative dates, geo -> GeoJSON)
- external-id triples, dgraph.type triples
- schema generation and partitioned sorted gzip RDF sinks
- per-language stats table

Config flags mirror the reference's (writeTypes, externaliseUris,
removeLanguageTags, topInfoboxPropertiesPerLang, printStats); the
reference's ``when(flag).call(f)`` fluent steps are plain Python ``if``
(host-language control flow, SURVEY §2.2 P10).
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dgraph_dbpedia_spark.model import TRIPLE_SCHEMA, URI_TYPE, XSD_DATE
from dgraph_dbpedia_spark.functions.rdf import (
    blank_node,
    geo_to_geojson,
    node_lang,
    rdf_line,
    remap_en_lang,
    remove_lang_tags,
    strip_angle_brackets,
    typed_triples,
)
from dgraph_dbpedia_spark.functions.schema_gen import full_schema, schema_line
from dgraph_dbpedia_spark.observability import collect_spill_metrics, phase
from dgraph_dbpedia_spark.operators.cachectl import CacheScope, persisted_frames
from dgraph_dbpedia_spark.operators.topk import top_k_per_group
from dgraph_dbpedia_spark.sources.parquet import read_triples_parquet
from dgraph_dbpedia_spark.sources.writers import write_partitioned_by

GEORSS_POINT = "<http://www.georss.org/georss/point>"


def get_languages(languages: list[str] | None) -> list[str] | None:
    """Language-list expansion (DbpediaDgraphSparkApp.scala:457-472):
    selecting ``en`` also selects the ``en-<lang>`` pseudo-language
    partition for every OTHER selected language (those partitions carry
    English articles about <lang> topics); the result is sorted. Without
    this, an explicit ``--languages`` list silently drops every
    ``lang=en-*`` partition ingest wrote — and the en-* top-k remap
    becomes dead code. ``None`` (= all languages) passes through."""
    if not languages:
        return languages
    if "en" in languages:
        return sorted(
            set(languages) | {f"en-{l}" for l in languages if l != "en"}
        )
    return sorted(languages)
SKOS_PREF_LABEL = "<http://www.w3.org/2004/02/skos/core#prefLabel>"
SKOS_RELATED = "<http://www.w3.org/2004/02/skos/core#related>"
SKOS_BROADER = "<http://www.w3.org/2004/02/skos/core#broader>"
SKOS_CONCEPT = "<http://www.w3.org/2004/02/skos/core#Concept>"


@dataclass
class TransformConfig:
    write_types: bool = True
    externalise_uris: bool = False
    remove_language_tags: bool = False
    top_infobox_properties_per_lang: int | None = 100
    print_stats: bool = True


def invalid_predicate_filter(df: DataFrame) -> DataFrame:
    """Dgraph forbids ``@`` and ``~`` in predicates (P8,
    DbpediaDgraphSparkApp.scala:337,358,499)."""
    return df.where(~F.col("p").contains("@") & ~F.col("p").contains("~"))


def filter_interlang_objects(df: DataFrame, object_langs: list[str]) -> DataFrame:
    """Keep only links into the selected languages, deciding by the
    object URI's host language (P7, DbpediaDgraphSparkApp.scala:113-115).
    The reference treats host ``dbpedia`` as the en namespace (:96-101);
    our native node_lang() already folds that in, so we match on langs."""
    return df.where(node_lang(F.col("o")).isin(object_langs))


def top_k_infobox(
    df: DataFrame, k: int
) -> tuple[DataFrame, DataFrame]:
    """Top-k most frequent predicates per language (ignoring en-*
    pseudo-langs), then semi-join filter with en-* rows remapped onto the
    ``en`` top-k set (W1+J2, DbpediaDgraphSparkApp.scala:121-137).

    Returns (filtered triples, topk dimension)."""
    with CacheScope() as scope:
        topk = scope.persist(
            top_k_per_group(
                df.where(~F.col("lang").contains("-")), "p", k
            ).select("p", "lang")
        )
        return filter_by_topk(df, topk), scope.keep(topk)


def filter_by_topk(df: DataFrame, topk: DataFrame) -> DataFrame:
    """The W1+J2 semi-join, ONE definition (it appears at three sites:
    the standalone top-k filter, the dims cube restriction, and the
    fact-table filter in transform()): keep rows whose ``(p, en-*
    -remapped lang)`` is in the broadcast top-k dimension; the helper
    node_lang column never leaves."""
    return (
        df.withColumn("node_lang", remap_en_lang(F.col("lang")))
        .join(
            F.broadcast(topk.withColumnRenamed("lang", "node_lang")),
            ["p", "node_lang"],
            "left_semi",
        )
        .drop("node_lang")
    )


def infobox_dims(
    all_infobox: DataFrame, k: int | None
) -> tuple[DataFrame | None, DataFrame, DataFrame, list[DataFrame]]:
    """One-scan derivation of the three infobox dimensions — top-k
    predicate set (W1), majority datatype per predicate (W2), and the
    data-derived schema pairs — from a single ``(lang, p, t)`` count
    cube.

    Value-identical to running ``top_k_per_group`` /
    ``majority_value_per_group`` / the schema ``distinct()`` directly
    over the fact table: each of those aggregates at ``(lang, p[, t])``
    granularity, so summing the cube's partial counts reproduces their
    inputs exactly (same counts, same tie-breaks). The difference is
    physical — the fact table is scanned ONCE instead of three times,
    and every window/join below runs over the ~|langs|x|preds|x|types|
    cube, which at any data scale is dimension-sized. At 100 TB this
    removes two full scans and two wide aggregations from the dims
    critical path.

    Returns ``(topk | None, predicate_datatypes, schema_derived)``;
    ``topk`` is ``None`` when ``k`` is (no top-k filtering requested).
    """
    from pyspark.sql import Window

    from dgraph_dbpedia_spark.functions.schema_gen import (
        infobox_predicate_schema_from_pairs,
    )

    with CacheScope() as scope:
        cube = scope.persist(
            typed_triples(all_infobox)
            .groupBy("lang", "p", "t")
            .agg(F.count(F.lit(1)).alias("count"))
        )
        topk = None
        fcube = cube
        if k:
            # counts per (lang, p) over non-pseudo langs = sum of cube rows;
            # tie-break (count desc, p asc) matches top_k_per_group
            w = Window.partitionBy("lang").orderBy(
                F.col("count").desc(), F.col("p").asc()
            )
            topk = scope.persist(
                cube.where(~F.col("lang").contains("-"))
                .groupBy("lang", "p")
                .agg(F.sum("count").alias("count"))
                .withColumn("__rank", F.row_number().over(w))
                .where(F.col("__rank") <= k)
                .select("p", "lang")
            )
            # the reference filters fact rows by (p, en-*-remapped lang) ∈
            # top-k; the same semi-join on the cube keeps exactly the
            # (lang, p, t) strata those rows form
            fcube = filter_by_topk(cube, topk)
        wm = Window.partitionBy("p").orderBy(F.col("count").desc(), F.col("t").asc())
        predicate_datatypes = scope.persist(
            fcube.groupBy("p", "t")
            .agg(F.sum("count").alias("count"))
            .withColumn("__rank", F.row_number().over(wm))
            .where(F.col("__rank") == 1)
            .select("p", "t")
        )
        pairs = fcube.select("p", remap_en_lang(F.col("lang")).alias("lang")).distinct()
        schema_derived = infobox_predicate_schema_from_pairs(pairs, predicate_datatypes)
        # every cached frame, including the internal cube (otherwise
        # unreachable by the caller), goes to the caller: transform()'s
        # scope frees them at the end — a long-lived session would
        # otherwise accumulate one dim-cache set per transform() call
        caches = [cube, predicate_datatypes] + ([topk] if topk is not None else [])
        return topk, predicate_datatypes, schema_derived, [scope.keep(c) for c in caches]


def clean_infobox(
    typed: DataFrame, predicate_datatypes: DataFrame, externalise_uris: bool
) -> DataFrame:
    """Typed infobox triples -> cleaned output triples
    (DbpediaDgraphSparkApp.scala:215-222): keep majority-datatype rows,
    drop negative dates, optionally blank-node rewrite, re-attach the
    ``^^type`` suffix for non-URI objects."""
    df = typed.join(
        F.broadcast(predicate_datatypes.select("p", "t")), ["p", "t"], "left_semi"
    ).where((F.col("t") != XSD_DATE) | ~F.col("v").startswith('"-'))
    if externalise_uris:
        df = df.withColumn("s", blank_node(F.col("s"))).withColumn(
            "v",
            F.when(F.col("t") == URI_TYPE, blank_node(F.col("v"))).otherwise(F.col("v")),
        )
    return df.select(
        "s",
        "p",
        F.when(F.col("t") == URI_TYPE, F.col("v"))
        .otherwise(F.concat(F.col("v"), F.lit("^^"), F.col("t")))
        .alias("o"),
        "lang",
    )


def clean_labels(df: DataFrame, cfg: TransformConfig) -> DataFrame:
    out = df
    if cfg.externalise_uris:
        out = out.withColumn("s", blank_node(F.col("s")))
    if cfg.remove_language_tags:
        out = out.withColumn("o", remove_lang_tags(F.col("o")))
    return out


def clean_uri_pairs(df: DataFrame, cfg: TransformConfig) -> DataFrame:
    """interlanguage_links / page_links / article_categories: both sides
    are URIs (DbpediaDgraphSparkApp.scala:225-240)."""
    out = df
    if cfg.externalise_uris:
        out = out.withColumn("s", blank_node(F.col("s"))).withColumn(
            "o", blank_node(F.col("o"))
        )
    return out


def clean_skos(df: DataFrame, cfg: TransformConfig) -> DataFrame:
    """prefLabel objects are literals, every other skos object is a URI
    (DbpediaDgraphSparkApp.scala:243-247)."""
    out = df
    if cfg.externalise_uris:
        out = out.withColumn("s", blank_node(F.col("s"))).withColumn(
            "o",
            F.when(F.col("p") == SKOS_PREF_LABEL, F.col("o")).otherwise(
                blank_node(F.col("o"))
            ),
        )
    if cfg.remove_language_tags:
        out = out.withColumn(
            "o",
            F.when(
                F.col("p") == SKOS_PREF_LABEL, remove_lang_tags(F.col("o"))
            ).otherwise(F.col("o")),
        )
    return out


def clean_geo(df: DataFrame, cfg: TransformConfig) -> DataFrame:
    """``"LAT LON"`` -> quoted GeoJSON + ``^^<geo:geojson>`` suffix
    (DbpediaDgraphSparkApp.scala:252-260)."""
    out = df.withColumn(
        "o", F.concat(geo_to_geojson(F.col("o")), F.lit("^^<geo:geojson>"))
    )
    if cfg.externalise_uris:
        out = out.withColumn("s", blank_node(F.col("s")))
    return out


def _both_ends(df: DataFrame, o_when: Column | None = None) -> DataFrame:
    """Both endpoints of a triple frame as ``(s, lang)`` rows from ONE
    scan: the subject always, the object (renamed ``s``) when ``o_when``
    holds (always, when ``None``). Value-identical to unioning
    ``select(s)`` with ``select(o as s)[.where(o_when)]`` for rows with
    non-null endpoints; the 2-row ``inline`` just removes the second
    scan of the same dataset. NULL-endpoint caveat (ADVICE r16): the
    TTL parse deliberately yields null p/o for malformed lines
    (sources/ttl.py F.get) and ingest persists them, so on such input
    this plan DROPS the ``(null, lang)`` endpoint row the old
    two-select union would have kept — an intentional behavior choice
    (a null URI cannot carry an <xid>; blank_node(null) would have
    produced a null-subject triple downstream), not an identity. The
    ``isNotNull`` therefore drops both the suppressed-object
    placeholder rows the conditional branch emits AND any genuinely
    null endpoints. Well-formed corpora (every test fixture and the
    bench/oracle corpus) have no null endpoints, where the multiset
    identity is exact — pinned by the oracle + pipeline-parity
    pytest."""
    keep_o = F.lit(True) if o_when is None else o_when
    return df.select(
        F.inline(
            F.array(
                F.struct(F.col("s"), F.col("lang")),
                F.struct(
                    F.when(keep_o, F.col("o")).alias("s"), F.col("lang")
                ),
            )
        )
    ).where(F.col("s").isNotNull())


def external_id_triples(frames: list[DataFrame]) -> DataFrame:
    """All URIs seen anywhere -> ``_:md5(uri) <xid> "uri"`` triples
    (DbpediaDgraphSparkApp.scala:374-398). Each input is ``(s, lang)``.

    One global distinct instead of the reference's per-frame distincts:
    the result set is identical, and partial (map-side) aggregation
    already collapses in-frame duplicates before the single shuffle —
    n frames' worth of extra shuffles saved."""
    unioned = reduce(DataFrame.unionByName, frames).distinct()
    return unioned.select(
        blank_node(F.col("s")).alias("s"),
        F.lit("<xid>").alias("p"),
        F.concat(F.lit('"'), strip_angle_brackets(F.col("s")), F.lit('"')).alias("o"),
        F.col("lang"),
    )


def type_triples(article_frames: list[DataFrame], category_objects: DataFrame,
                 skos_subjects: DataFrame) -> DataFrame:
    """dgraph.type triples for Articles / Categories / Concepts
    (DbpediaDgraphSparkApp.scala:410-440). Inputs are (s, lang) frames.

    The reference distincts every input frame, unions, then distincts
    again (9 shuffles). Value-identical with ONE shuffle: union
    everything with a 1-byte class tag, distinct once, and attach the
    constant (p, o) strings AFTER the exchange — map-side partial
    aggregation collapses in-frame duplicates before the shuffle, and
    the shuffled rows carry (s, lang, tinyint) instead of repeating the
    ~30-byte type literals on every row (measured 13.8s -> single-stage
    at 600k bench subjects; the tag trims ~25% off the shuffle bytes)."""
    tag = lambda df, c: df.withColumn("cls", F.lit(c).cast("tinyint"))  # noqa: E731
    tagged = reduce(
        DataFrame.unionByName,
        [tag(f, 0) for f in article_frames]
        + [tag(category_objects, 1), tag(skos_subjects, 2)],
    ).distinct()
    return tagged.select(
        "s",
        F.lit("<dgraph.type>").alias("p"),
        F.when(F.col("cls") == 0, F.lit('"Article"'))
        .when(F.col("cls") == 1, F.lit('"Category"'))
        .otherwise(F.lit('"Concept"'))
        .alias("o"),
        "lang",
    )


#: target rows per output gzip part-file at scale: a task writes
#: ~300 MB uncompressed (~30-60 MB gzipped), so a 10 B-row sink gets
#: ~5000 right-sized files instead of inheriting
#: spark.sql.shuffle.partitions. (Measured: file COUNT does not affect
#: bytes/triple — 1 file vs 32 per sink was byte-identical, the 26
#: B/triple on the synthetic corpus is md5-blank-node entropy — so the
#: only goals here are file size at scale and parallelism at small
#: scale.)
ROWS_PER_RDF_FILE = 2_000_000

#: width of transform's sink pool — the concurrency dial for the sink
#: phase: fewer workers = staggered waves (less cache/shuffle-memory
#: contention, more idle executors between commits); more workers = no
#: job ever waits for a slot. Measured at the 84M-triple scale
#: (BENCH_SCALE.md r6 sweep): 5 workers beat 11 by ~35% (149s -> 110s
#: transform) — with 11 concurrent sinks the retained frames' cache
#: partitions thrash in and out of the unified-memory pool, and every
#: sink pays re-computation; two staggered waves keep the working set
#: resident. At 600k subjects the difference is within noise.
SINK_WORKERS = 5


def write_rdf(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    persist: bool = True,
    on_counted=None,
) -> tuple[DataFrame, int]:
    """Partitioned sorted gzip text sink for RDF lines (S6,
    DbpediaDgraphSparkApp.scala:496-516): partition dirs by ``lang``,
    file-split by ``(p, s)``, in-file sort by ``o``, projection to the
    N-Triples line at write time. Returns the read-back frame and the
    number of lines written (the sink's count job, so a caller needs no
    re-read of the gzip files to count them).

    The frame is persisted for the duration of the sink because three
    actions consume it — the isEmpty guard (P12), the range
    partitioner's sampling pass, and the write itself. Without the
    persist the full upstream plan (windows, joins, gzip re-scans for
    derived datasets) executes three times; with it, once (X1 — the
    reference caches reused subplans for the same reason).
    ``persist=False`` means the caller already persisted ``df`` and
    manages its lifetime (transform() keeps the cleaned frames alive so
    types.rdf can derive from them instead of the gzip read-back).
    ``on_counted`` (optional, no-arg) fires as soon as this sink's
    count job has resolved — transform() uses it to release the types
    job only after every retained cache is materialized (r17); it is
    invoked exactly once — right after the count, or from the outer
    ``finally`` if anything before it raises (filter construction, the
    count itself) — so a failing sink can never leave the waiter
    hanging.

    The sink's jobs run as phases ``transform.<sink>.count`` and
    ``transform.<sink>.write``, ``<sink>`` being the name of ``path``
    without its ``.rdf`` suffix."""
    from pyspark import StorageLevel

    sink = f"transform.{os.path.basename(path).removesuffix('.rdf')}"
    with CacheScope() as scope:
        if persist:
            df = scope.persist(df, StorageLevel.MEMORY_AND_DISK)
        try:
            # count doubles as the isEmpty guard (P12) and the file-sizing
            # input. Partition rule: enough tasks to keep the cluster busy on
            # small sinks (up to defaultParallelism, but never <5k rows per
            # task — a 100-row frame gets 1 task, not 32 empty files), and
            # at least ceil(n / ROWS_PER_RDF_FILE) so huge sinks split into
            # right-sized gzip files instead of 32 giant ones.
            # count the FILTERED frame: counting df itself would let a
            # frame whose every row fails the predicate filter slip past
            # the empty guard, write a _SUCCESS-only dir (no lang= parts)
            # and crash the read-back on the missing partition column —
            # and would size n_parts from rows that never reach the sink
            filtered = invalid_predicate_filter(df)
            with phase(spark, f"{sink}.count"):
                n = filtered.count()
            if on_counted is not None:
                on_counted()
                on_counted = None
            with phase(spark, f"{sink}.write"):
                if not n:
                    # honor overwrite semantics on the empty path too: a rerun
                    # into the same out dir must not leave a PREVIOUS run's
                    # files to be read back as this run's (empty) result
                    from dgraph_dbpedia_spark.sources.parquet import fs_delete

                    fs_delete(spark, path)
                if n:
                    parallel = spark.sparkContext.defaultParallelism
                    n_parts = max(
                        -(-n // ROWS_PER_RDF_FILE),
                        min(parallel, -(-n // 5_000)),
                    )
                    write_partitioned_by(
                        filtered,
                        partition_cols=["lang"],
                        more_file_cols=["p", "s"],
                        sort_cols=["o"],
                        n_partitions=n_parts,
                        projection=[rdf_line(F.col("s"), F.col("p"), F.col("o")).alias("line")],
                        fmt="text",
                        options={"compression": "gzip"},
                        path=path,
                    )
        finally:
            if on_counted is not None:
                on_counted()
    return read_rdf(spark, path), n


def read_rdf(spark: SparkSession, path: str) -> DataFrame:
    """Read written RDF back; ``lang=`` dirs come back as a column via
    partition discovery (S3, DbpediaDgraphSparkApp.scala:530-537). The
    line parse is :func:`~dgraph_dbpedia_spark.sources.ttl.parse_ttl_lines`
    — ONE definition of the split expression, not a fork. Existence
    goes through the Hadoop FS layer (hdfs://s3a-safe); a dir with no
    ``lang=`` partitions (external artifact of a partial write) reads
    as empty instead of crashing on the missing column."""
    from dgraph_dbpedia_spark.sources.parquet import fs_exists
    from dgraph_dbpedia_spark.sources.ttl import parse_ttl_lines

    if not fs_exists(spark, path):
        return spark.createDataFrame([], TRIPLE_SCHEMA)
    lines = spark.read.text(path)
    if "lang" not in lines.columns:
        return spark.createDataFrame([], TRIPLE_SCHEMA)
    return parse_ttl_lines(lines, keep=("lang",)).withColumn(
        "lang", F.col("lang").cast("string")
    )


def write_schema(df: DataFrame, path: str, indexed: bool) -> None:
    """Schema text sink (DbpediaDgraphSparkApp.scala:326-348): the
    reference ``coalesce(1)``s the (sorted, cached) schema frame before
    the partitioned write, so each (dataset, lang) dir holds exactly ONE
    part-file (S7/X3). Mirrored here with ``coalesce_to=1`` — the schema
    is O(#predicates) rows at any data scale, one task is the right
    plan; the in-task sort keeps lines ordered inside each file. Runs as
    phase ``transform.schema_indexed`` or ``transform.schema``."""
    with phase(df.sparkSession, "transform.schema_indexed" if indexed else "transform.schema"):
        write_partitioned_by(
            invalid_predicate_filter(df),
            partition_cols=["dataset", "lang"],
            more_file_cols=["p"],
            sort_cols=[],
            projection=[schema_line(indexed).alias("line")],
            fmt="text",
            path=path,
            coalesce_to=1,
        )


def transform(
    spark: SparkSession,
    path: str,
    out: str,
    languages: list[str] | None = None,
    cfg: TransformConfig | None = None,
) -> dict[str, DataFrame]:
    """Full flagship pipeline. Returns the read-back frames keyed by
    output name (the reference returns them from writeRdf for the types/
    coverage steps)."""
    cfg = cfg or TransformConfig()
    # 'en' in an explicit selection pulls in the en-<lang> pseudo-language
    # partitions (DbpediaDgraphSparkApp.scala:457-472)
    languages = get_languages(languages)

    # the one owner of every cache transform() holds: the dimension
    # caches (cube / topk / predicate_datatypes from infobox_dims), the
    # stats pivot, the schema frame and the retained sink frames. On
    # success every consumer has resolved when it exits; on failure a
    # long-lived session calling transform() repeatedly must not keep
    # one cache set per failed call either.
    with CacheScope() as scope:
        # the head: everything the driver thread runs before the sink pool
        with phase(spark, "transform.head"):
            def read(dataset: str) -> DataFrame:
                return read_triples_parquet(spark, f"{path}/{dataset}.parquet", languages)

            label_triples = read("labels")
            all_infobox = read("infobox_properties")
            all_interlang = read("interlanguage_links")

            object_langs = languages or [
                r["lang"] for r in all_interlang.select("lang").distinct().collect()
            ]
            interlang_triples = filter_interlang_objects(all_interlang, object_langs)
            page_links_triples = read("page_links")
            category_triples = read("article_categories")
            skos_triples = read("skos_categories")
            geo_triples = read("geo_coordinates").where(F.col("p") == GEORSS_POINT)

            # one fact-table scan feeds all three infobox dimensions (top-k set,
            # majority datatypes, schema pairs); see infobox_dims
            topk, predicate_datatypes, schema_derived, dim_caches = infobox_dims(
                all_infobox, cfg.top_infobox_properties_per_lang
            )
            scope.adopt(*dim_caches)
            if topk is not None:
                infobox_triples = filter_by_topk(all_infobox, topk)
            else:
                infobox_triples = all_infobox

            if cfg.print_stats:
                # per-dataset counts + the per-language x per-dataset tables with
                # the en-* rollup (DbpediaDgraphSparkApp.scala:139-179): built
                # here, computed beside the sinks (see the pool below), printed
                # once the pool has resolved
                from dgraph_dbpedia_spark.operators.stats import (
                    datasets_counts,
                    per_lang_stats_tables,
                )

                stats_frames = {
                    "labels": label_triples,
                    "interlanguage_links": interlang_triples,
                    "page_links": page_links_triples,
                    "article_categories": category_triples,
                    "skos_categories": skos_triples,
                    "geo_coordinates": geo_triples,
                    "infobox_properties": all_infobox,
                }
                if cfg.top_infobox_properties_per_lang:
                    k = cfg.top_infobox_properties_per_lang
                    stats_frames[f"top {k} infobox_properties"] = infobox_triples
                stats_tables = per_lang_stats_tables(stats_frames)
                scope.adopt(*persisted_frames(stats_tables[0]))

            typed = typed_triples(infobox_triples)

            infobox = clean_infobox(typed, predicate_datatypes, cfg.externalise_uris)
            labels = clean_labels(label_triples, cfg)
            interlang = clean_uri_pairs(interlang_triples, cfg)
            page_links = clean_uri_pairs(page_links_triples, cfg)
            categories = clean_uri_pairs(category_triples, cfg)
            skos = clean_skos(skos_triples, cfg)
            geo = clean_geo(geo_triples, cfg)

            schema = scope.persist(
                full_schema(
                    spark, schema_derived, cfg.remove_language_tags,
                    cfg.externalise_uris,
                )
            )
            # materialize the cached dimensions (topk, predicate_datatypes,
            # schema) once, before concurrent writers race to compute them.
            # Measured-and-rejected variants (do not re-try without re-measuring):
            #  - overlapping this materialization with the dim-independent sinks
            #    stretched the dims critical path ~40% under contention (21.2s
            #    vs 19.3s total at 60k bench subjects), and gave no gain on
            #    warm passes that no longer recompile their generated code
            #    either (9.8/9.2s vs 9.2/8.6s, perfbench corpus, 4 vCPUs);
            #  - persisting the typed infobox frame for its four consumers lost
            #    to Catalyst column pruning — the cache materializes all columns
            #    while each uncached consumer reads a 2-column pruned subset
            #    (22.6s vs 19.3s);
            #  - deriving types.rdf from in-memory frames instead of the gzip
            #    read-back recomputed every cleaned frame after unpersist and
            #    doubled total wall-clock (40.6s).
            schema.count()

        # every sink below except types.rdf is an independent job — submit
        # them from a driver-side thread pool so Spark interleaves their
        # stages under the FAIR scheduler (the sampling/commit phases of one
        # write leave executors idle for the others); results are identical
        # to the reference's serial loop
        import threading
        from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait

        # the dataset sinks in submission order: LONGEST JOB FIRST —
        # descending expected size (infobox/page_links dominate real
        # DBpedia dumps and the bench corpus), so no large job lands
        # behind a small one in the queue (profiled r14: cold 38.7 ->
        # 32.0 s at 600k bench subjects; don't re-shuffle without
        # re-profiling via tools/profile_transform.py)
        frames = [
            ("infobox_properties", infobox),
            ("page_links", page_links),
            ("interlanguage_links", interlang),
            ("labels", labels),
            ("article_categories", categories),
            ("geo_coordinates", geo),
            ("skos_categories", skos),
        ]
        n_sinks = len(frames)

        # when types.rdf is requested, the cleaned frames are persisted UP
        # FRONT so the types derivation reads the same cache the sinks fill —
        # not the gzip read-back (gzip text is non-splittable, so at scale
        # the read-back caps the types stage's parallelism at file count and
        # decompresses every output a second time). Persisting eagerly also
        # lets the types job run CONCURRENTLY with the sinks under FAIR
        # scheduling instead of as a serial tail (r1: types+external_ids
        # were a 22 s tail after the last sink at 600k bench subjects); a
        # partition both jobs race to compute is computed at most twice and
        # cached once — benign. The earlier attempt lost by unpersisting
        # before types ran (VERDICT r1); handles are released only after
        # every future resolves.
        from pyspark import StorageLevel

        types_future = None
        sink_counts_done = threading.Semaphore(0)
        # set when any pool job fails: the parked types job then returns
        # without writing (see the fail-fast block after the submissions)
        abort = threading.Event()
        # +1 thread when types runs: the types job PARKS on the latch below
        # until every sink count has resolved, so it must not occupy one of
        # the SINK_WORKERS slots while parked. A wider rework (every job
        # gets a thread immediately, heavy writes bounded by a semaphore)
        # was MEASURED WORSE same-session (best 50.6 s vs 30.8 s at 600k
        # subjects, r17): eight simultaneous count jobs slow each other
        # (external_ids:count 16.9 -> 33.5 s) and the types distinct lands
        # mid-write-wave, racing five gzip sorts for task slots
        # (types:count 6.6 -> 21.9 s). The pool-width gate keeps count
        # waves and write waves naturally staggered; see OPTIMIZATION_r17.md.
        # +1 thread when the stats are printed, for the same reason: the
        # stats job starts at once instead of waiting for a sink slot.
        with ThreadPoolExecutor(
            max_workers=SINK_WORKERS
            + (1 if cfg.write_types else 0)
            + (1 if cfg.print_stats else 0)
        ) as pool:
            stats_future = None
            if cfg.print_stats:
                # the stats are two small executions (the fused
                # per-dataset counts, the pivot cache's materialization)
                # off the critical path: beside the sinks they fill task
                # slots the sinks' sampling/commit phases leave idle.
                # Nothing is printed until the pool resolves, so stdout
                # keeps the reference's order.
                def _stats() -> dict[str, dict[str, int]]:
                    with phase(spark, "transform.stats"):
                        counts = datasets_counts(stats_frames)
                        for c in persisted_frames(stats_tables[0]):
                            c.count()
                    return counts

                stats_future = pool.submit(_stats)
            # Scheduling (r17 rework of the r14 longest-job-first scheme):
            # the SINK COUNT jobs are the cache materializers — 7
            # independent jobs racing nothing — and the types
            # union-distinct (which reads every retained frame) is DELAYED
            # until all seven counts have resolved, so it scans warm
            # DISK_ONLY blocks instead of racing the sinks partition-by-
            # partition for the first materialization (the r16 "computed
            # at most twice, cached once" window: racing tasks park on the
            # cache's per-block write locks, holding task slots the
            # materializing job needs — phase-profiled 44.8 s types:count
            # in the r17 session's machine state, of which only ~6 s is
            # the distinct itself; see OPTIMIZATION_r17.md). external_ids
            # is independent of everything (it scans parquet, not the
            # caches) and starts immediately alongside the counts.
            if cfg.write_types:
                # DISK_ONLY for the retained cleaned frames (r6 sweep,
                # BENCH_SCALE.md): at 84M triples it matches MEMORY_AND_DISK
                # +35% win from staggered sinks while halving memory spill
                # (10.8 -> 4.4 GB) — the frames are each read a handful of
                # times by sequential sinks, so page-cache-backed local disk
                # serves them as fast as the unified-memory cache WITHOUT
                # evicting the sinks' shuffle/sort working memory. The 100 TB
                # translation: cache cold, sink-phase intermediates on local
                # disk; keep executor memory for execution.
                retained = {
                    name: scope.persist(frame, StorageLevel.DISK_ONLY)
                    for name, frame in frames
                }
                # the written files' content = invalid_predicate_filter(pre-
                # write frame), so filtering the retained frames is value-
                # identical to the reference's read-the-rdf-back derivation
                # (DbpediaDgraphSparkApp.scala:409-440) without the gzip
                # re-scan. article_categories SUBJECTS are articles too
                # (:419 — previously missing, ADVICE r1); its objects are
                # the Category nodes.
                pre = {n: invalid_predicate_filter(f) for n, f in retained.items()}
                articles = [
                    pre[n].select("s", "lang")
                    for n in ("labels", "infobox_properties", "interlanguage_links",
                              "page_links", "article_categories", "geo_coordinates")
                ] + [pre["interlanguage_links"].select(F.col("o").alias("s"), "lang")]
                types = type_triples(
                    articles,
                    pre["article_categories"].select(F.col("o").alias("s"), "lang"),
                    pre["skos_categories"].select("s", "lang"),
                )

                def _types_after_counts() -> tuple[DataFrame, int] | None:
                    # park until every sink's count job has materialized its
                    # retained cache (write_rdf releases the semaphore exactly
                    # once, on any failure too, so a failed sink still
                    # unblocks this); then the union-distinct runs over warm
                    # DISK_ONLY blocks — unless a pool job failed meanwhile
                    for _ in range(n_sinks):
                        sink_counts_done.acquire()
                    if abort.is_set():
                        return None
                    return write_rdf(spark, types, f"{out}/types.rdf")

                types_future = pool.submit(_types_after_counts)
            xid_future = None
            if cfg.externalise_uris:
                # NOTE (reference parity): infobox URI-typed OBJECTS are
                # blank-node-rewritten by clean_infobox but deliberately NOT
                # in this list — the reference's externalIds takes only
                # infoboxTriples.select($"s") (DbpediaDgraphSparkApp.scala:
                # 374-389), so those blank nodes carry no <xid> there either;
                # we mirror that exactly rather than "fix" the upstream.
                #
                # r16 (guide §2.3 project-before-union / §6): the four
                # datasets contributing BOTH endpoints used to appear as
                # two single-column branches each — two scans per dataset.
                # _both_ends emits (s, lang) and (o-as-s, lang) from ONE
                # scan via a 2-row inline; the union multiset (and so the
                # distinct) is identical, and the xid job reads each
                # parquet dataset once instead of twice — at 100 TB that
                # halves the external-id pass's input I/O.
                xid_inputs = [
                    label_triples.select("s", "lang"),
                    infobox_triples.select("s", "lang"),
                    _both_ends(interlang_triples),
                    _both_ends(page_links_triples),
                    _both_ends(category_triples),
                    _both_ends(
                        skos_triples,
                        o_when=F.col("p").isin(SKOS_RELATED, SKOS_BROADER),
                    ),
                    spark.createDataFrame([(SKOS_CONCEPT, "any")], ["s", "lang"]),
                    geo_triples.select("s", "lang"),
                ]
                xid_future = pool.submit(
                    write_rdf, spark, external_id_triples(xid_inputs),
                    f"{out}/external_ids.rdf",
                )
            # plain sinks next, longest job first (the order of frames)
            futures = {
                name: pool.submit(
                    write_rdf,
                    spark,
                    retained[name] if cfg.write_types else frame,
                    f"{out}/{name}.rdf",
                    not cfg.write_types,
                    sink_counts_done.release if cfg.write_types else None,
                )
                for name, frame in frames
            }
            schema_futures = [
                pool.submit(write_schema, schema, f"{out}/schema.dgraph", False),
                pool.submit(write_schema, schema, f"{out}/schema.indexed.dgraph", True),
            ]
            # fail fast: on the first failed job, cancel every job that
            # has not started, let the parked types job return without
            # writing, and re-raise — left to the pool's exit, every
            # queued sink, both schema writes and the types job would run
            # before the error surfaced. Jobs already running finish (the
            # pool's exit waits for them) before the caches are released
            # below.
            submitted = [
                f
                for f in (
                    stats_future, types_future, xid_future,
                    *futures.values(), *schema_futures,
                )
                if f is not None
            ]
            done, _ = wait(submitted, return_when=FIRST_EXCEPTION)
            failed = [f for f in submitted if f in done and f.exception()]
            if failed:
                abort.set()
                for f in submitted:
                    f.cancel()
                for _ in range(n_sinks):
                    sink_counts_done.release()
                failed[0].result()
            written = {n: f.result() for n, f in futures.items()}
            outputs: dict[str, DataFrame] = {n: frame for n, (frame, _) in written.items()}
            for f in schema_futures:
                f.result()
            if xid_future is not None:
                outputs["external_ids"] = xid_future.result()[0]

        if types_future is not None:
            outputs["types"] = types_future.result()[0]

        if cfg.print_stats:
            with phase(spark, "transform.tail"):
                stats_counts = stats_future.result()
                for name, c in stats_counts.items():
                    print(
                        f"{name}: {c['triples']:,} triples, {c['nodes']:,} nodes, "
                        f"{c['predicates']:,} predicates"
                    )
                print()
                print("Triples per languages and dataset:")
                main_table, en_star_table = stats_tables
                main_table.show(1000, truncate=False)
                en_star_table.show(1000, truncate=False)
                # reference denominator is the top-k-FILTERED infobox count
                # (DbpediaDgraphSparkApp.scala:449), not the raw input count.
                # Reuse the count the stats job already computed for exactly
                # this frame — re-running it here was a second full scan +
                # semi-join over the largest dataset at the end of the
                # pipeline. The numerator is the sink's count of the lines
                # it wrote, so the gzip files are not read back for it.
                k = cfg.top_infobox_properties_per_lang
                denom_key = f"top {k} infobox_properties" if k else "infobox_properties"
                coverage = written["infobox_properties"][1] * 100 // max(
                    stats_counts[denom_key]["triples"], 1
                )
                print(f"cleaned-up infoboxes cover {coverage}% of original rows")
                print(collect_spill_metrics(spark).report())

        return outputs
