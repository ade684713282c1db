"""Data-derived graph schema generation.

Reference behavior (DbpediaDgraphSparkApp.scala:263-372): the Dgraph
schema is the union of a static predicate table for the fixed datasets
and a *data-derived* table for infobox predicates — each infobox
predicate joined (inner, on ``p``) with its majority datatype, mapped to
a Dgraph type and index spec, with ``en-*`` langs remapped to ``en``,
deduplicated, sorted for a deterministic file, and written as one text
file per (dataset, lang) partition with lines ``<p>: <type> [index] .``.

The two map-lookup UDFs (dgraphDataTypes / dgraphIndices,
DbpediaDgraphSparkApp.scala:266-285) become chained ``F.when`` native
expressions here — a 5-entry lookup never justifies a serialization
boundary.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dgraph_dbpedia_spark.model import DGRAPH_DATA_TYPES, DGRAPH_INDICES
from dgraph_dbpedia_spark.functions.rdf import remap_en_lang

# static predicate rows: (dataset, p, lang, t, i)
# (DbpediaDgraphSparkApp.scala:292-316); {lang} is replaced by " @lang"
# unless language tags are removed
STATIC_PREDICATES = [
    ("labels", "<http://www.w3.org/2000/01/rdf-schema#label>", "any", "string{lang}", "@index(fulltext)"),
    ("article_categories", "<http://purl.org/dc/terms/subject>", "any", "[uid]", "@reverse"),
    ("skos_categories", "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>", "any", "uid", "@reverse"),
    ("skos_categories", "<http://www.w3.org/2004/02/skos/core#prefLabel>", "any", "string{lang}", "@index(fulltext)"),
    ("skos_categories", "<http://www.w3.org/2004/02/skos/core#related>", "any", "[uid]", "@reverse"),
    ("skos_categories", "<http://www.w3.org/2004/02/skos/core#broader>", "any", "[uid]", "@reverse"),
    ("interlanguage_links", "<http://www.w3.org/2002/07/owl#sameAs>", "any", "[uid]", "@reverse"),
    ("page_links", "<http://dbpedia.org/ontology/wikiPageWikiLink>", "any", "[uid]", "@reverse"),
    ("geo_coordinates", "<http://www.georss.org/georss/point>", "any", "geo", "@index(geo)"),
]

XID_PREDICATE = ("external_ids", "<xid>", "any", "string", "@index(exact)")

SCHEMA_COLS = ["dataset", "p", "lang", "t", "i"]


def _lookup(col: Column, mapping: dict[str, str]) -> Column:
    """Literal when-chain lookup — native replacement for the reference's
    map UDFs (D3/D4)."""
    expr = F.lit(None).cast("string")
    result = None
    for key, value in mapping.items():
        clause = F.when(col == key, F.lit(value))
        result = clause if result is None else result.when(col == key, F.lit(value))
    return result if result is not None else expr


def dgraph_data_type(t: Column) -> Column:
    return _lookup(t, DGRAPH_DATA_TYPES)


def dgraph_index(t: Column) -> Column:
    return _lookup(t, DGRAPH_INDICES)


def static_predicate_schema(
    spark: SparkSession, remove_language_tags: bool = False
) -> DataFrame:
    lang_suffix = "" if remove_language_tags else " @lang"
    rows = [
        (d, p, lg, t.replace("{lang}", lang_suffix), i)
        for d, p, lg, t, i in STATIC_PREDICATES
    ]
    return spark.createDataFrame(rows, SCHEMA_COLS)


def infobox_predicate_schema(
    infobox_triples: DataFrame, predicate_datatypes: DataFrame
) -> DataFrame:
    """Data-derived schema rows for infobox predicates
    (DbpediaDgraphSparkApp.scala:318-324).

    ``predicate_datatypes`` is the (p, t) majority-vote dimension; the
    inner join attaches the winning datatype to each (p, lang) pair.
    The dimension is tiny (one row per predicate) — broadcast —
    and the distinct() collapses the fact frame to predicate
    granularity via a partial-agg shuffle.
    """
    t_mapped = dgraph_data_type(F.col("t"))
    return (
        infobox_triples.join(F.broadcast(predicate_datatypes.select("p", "t")), "p")
        .withColumn("t", t_mapped)
        .withColumn("lang", remap_en_lang(F.col("lang")))
        .select(
            F.lit("infobox_properties").alias("dataset"),
            "p",
            "lang",
            "t",
            dgraph_index(F.col("t")).alias("i"),
        )
        .distinct()
    )


def infobox_predicate_schema_from_pairs(
    pairs: DataFrame, predicate_datatypes: DataFrame
) -> DataFrame:
    """(p, lang)-granularity twin of :func:`infobox_predicate_schema`
    for callers that already aggregated the fact table: ``pairs`` is the
    distinct (p, lang) set of the (top-k-filtered) infobox triples with
    ``en-*`` remapped to ``en``. The schema row set depends on the fact
    frame only through that distinct set, so joining the majority
    dimension and mapping types over ~10^4 pairs instead of the fact
    rows yields the identical frame without a fact-table scan."""
    return (
        pairs.join(F.broadcast(predicate_datatypes.select("p", "t")), "p")
        .withColumn("t", dgraph_data_type(F.col("t")))
        .select(
            F.lit("infobox_properties").alias("dataset"),
            "p",
            "lang",
            "t",
            dgraph_index(F.col("t")).alias("i"),
        )
        .distinct()
    )


def full_schema(
    spark: SparkSession,
    derived: DataFrame,
    remove_language_tags: bool = False,
    externalise_uris: bool = False,
) -> DataFrame:
    """Static ∪ data-derived ∪ (optional xid), deduped and sorted for a
    deterministic schema file (DbpediaDgraphSparkApp.scala:290-330).

    ``derived`` is the data-derived frame, built from the (lang, p, t)
    count cube by :func:`infobox_predicate_schema_from_pairs` (equal to
    :func:`infobox_predicate_schema` over the fact table, without its
    scan)."""
    schema = static_predicate_schema(spark, remove_language_tags).unionByName(
        derived
    ).distinct()
    if externalise_uris:
        schema = schema.unionByName(spark.createDataFrame([XID_PREDICATE], SCHEMA_COLS))
    return schema.orderBy(*SCHEMA_COLS)


def schema_line(indexed: bool) -> Column:
    """Schema row -> text line ``<p>: <t> [<i>] .``
    (DbpediaDgraphSparkApp.scala:345,366)."""
    if indexed:
        return F.concat(F.col("p"), F.lit(": "), F.col("t"), F.lit(" "), F.col("i"), F.lit(" ."))
    return F.concat(F.col("p"), F.lit(": "), F.col("t"), F.lit(" ."))
