"""Synthetic reference-shaped TTL corpus generator, Spark-native.

Builds a ``{root}/{lang}/{dataset}_{lang}.ttl`` tree shaped like the
reference's core-i18n input (DbpediaToParquetSparkApp.scala:113-135
layout; triple grammar per SPARK.md:57-62) at an arbitrary subject
count, entirely with DataFrame expressions — ``spark.range`` + string
concat, no driver-side loops — so generation itself scales to any size.

Used by ``tools/pipeline_bench.py`` (bench.py's pipeline section) and
``tools/profile_transform.py`` to measure end-to-end ingest (.ttl ->
parquet) and transform (parquet -> RDF) throughput in triples/s, the
unit BASELINE.md publishes for the reference (300k/400k triples/s on 8
cores). It lives beside them, outside the engine package; run as
scripts, they import it as ``benchgen``.

Each "file" is a directory of text parts under the ``.ttl`` name; the
ingest reader (``spark.read.text``) and the driver-side catalog
(``os.path.exists``) both accept that transparently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LABEL_P = "<http://www.w3.org/2000/01/rdf-schema#label>"
SUBJECT_P = "<http://purl.org/dc/terms/subject>"
SAME_AS_P = "<http://www.w3.org/2002/07/owl#sameAs>"
WIKILINK_P = "<http://dbpedia.org/ontology/wikiPageWikiLink>"
POINT_P = "<http://www.georss.org/georss/point>"
RDF_TYPE_P = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
PREF_LABEL_P = "<http://www.w3.org/2004/02/skos/core#prefLabel>"
BROADER_P = "<http://www.w3.org/2004/02/skos/core#broader>"
CONCEPT = "<http://www.w3.org/2004/02/skos/core#Concept>"
XSD_INT = "<http://www.w3.org/2001/XMLSchema#integer>"
XSD_DBL = "<http://www.w3.org/2001/XMLSchema#double>"
XSD_STR = "<http://www.w3.org/2001/XMLSchema#string>"
XSD_DATE = "<http://www.w3.org/2001/XMLSchema#date>"

LANGS = ("de", "en", "vi")


def _host(lang: str) -> str:
    return "dbpedia.org" if lang == "en" else f"{lang}.dbpedia.org"


def _res(lang: str, name_col) -> F.Column:
    return F.concat(
        F.lit(f"<http://{_host(lang)}/resource/Article_"),
        name_col.cast("string"),
        F.lit(">"),
    )


def _prop(lang: str, name: str) -> str:
    return f"<http://{_host(lang)}/property/{name}>"


def _write(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").text(path)


def _line(*cols) -> F.Column:
    return F.concat(*cols, F.lit(" ."))


def generate_ttl_corpus(
    spark: SparkSession,
    root: str,
    n_subjects: int,
    langs: tuple[str, ...] = LANGS,
    parts: int | None = None,
) -> int:
    """Write the corpus; returns the total number of triples written.

    Per subject and language: 1 label + ~5 infobox + 2 page links +
    1 interlanguage link + 1 category + 0.5 geo points, plus a small
    skos taxonomy — ~10.5 triples/subject/lang.
    """
    total = 0
    parts = parts or max(spark.sparkContext.defaultParallelism, 4)
    for lang in langs:
        ids = spark.range(0, n_subjects, 1, parts)
        s = _res(lang, F.col("id"))
        sid = F.col("id")

        labels = ids.select(
            _line(
                s,
                F.lit(f" {LABEL_P} "),
                F.lit('"Label '),
                sid.cast("string"),
                F.lit(f' {lang}"@{lang}'),
            ).alias("value")
        )
        _write(labels, f"{root}/{lang}/labels_{lang}.ttl")
        total += n_subjects

        # infobox: name(str-tagged), pop(int with an 8th as string —
        # majority-vote fodder), area(double), leader(uri, every 2nd),
        # born(date, every 3rd)
        pop_t = F.when(sid % 8 == 0, F.lit(XSD_STR)).otherwise(F.lit(XSD_INT))
        rows = [
            _line(s, F.lit(f' {_prop(lang, "name")} "Name '), sid.cast("string"), F.lit(f'"@{lang}')),
            _line(s, F.lit(f' {_prop(lang, "pop")} "'), (sid * 1000).cast("string"), F.lit('"^^'), pop_t),
            _line(s, F.lit(f' {_prop(lang, "area")} "'), (sid * 3 / 2).cast("string"), F.lit('"^^'), F.lit(XSD_DBL)),
        ]
        infobox = ids.select(F.explode(F.array(*rows)).alias("value"))
        leader = ids.where(sid % 2 == 0).select(
            _line(s, F.lit(f" {_prop(lang, 'leader')} "), _res(lang, (sid + 1) % n_subjects)).alias("value")
        )
        born = ids.where(sid % 3 == 0).select(
            _line(
                s,
                F.lit(f' {_prop(lang, "born")} "19'),
                F.lpad((sid % 90).cast("string"), 2, "0"),
                F.lit('-01-02"^^'),
                F.lit(XSD_DATE),
            ).alias("value")
        )
        _write(infobox.union(leader).union(born), f"{root}/{lang}/infobox_properties_{lang}.ttl")
        total += 3 * n_subjects + n_subjects // 2 + (n_subjects + 2) // 3

        page_links = ids.select(
            F.explode(
                F.array(
                    _line(s, F.lit(f" {WIKILINK_P} "), _res(lang, (sid * 7 + 1) % n_subjects)),
                    _line(s, F.lit(f" {WIKILINK_P} "), _res(lang, (sid * 13 + 5) % n_subjects)),
                )
            ).alias("value")
        )
        _write(page_links, f"{root}/{lang}/page_links_{lang}.ttl")
        total += 2 * n_subjects

        other = langs[(langs.index(lang) + 1) % len(langs)]
        interlang = ids.select(
            _line(s, F.lit(f" {SAME_AS_P} "), _res(other, sid)).alias("value")
        )
        _write(interlang, f"{root}/{lang}/interlanguage_links_{lang}.ttl")
        total += n_subjects

        cat = F.concat(
            F.lit(f"<http://{_host(lang)}/resource/Category:Cat_"),
            (sid % 50).cast("string"),
            F.lit(">"),
        )
        categories = ids.select(_line(s, F.lit(f" {SUBJECT_P} "), cat).alias("value"))
        _write(categories, f"{root}/{lang}/article_categories_{lang}.ttl")
        total += n_subjects

        cats = spark.range(0, 50, 1, 1)
        cat_s = F.concat(
            F.lit(f"<http://{_host(lang)}/resource/Category:Cat_"),
            F.col("id").cast("string"),
            F.lit(">"),
        )
        skos = cats.select(
            F.explode(
                F.array(
                    _line(cat_s, F.lit(f" {RDF_TYPE_P} "), F.lit(CONCEPT)),
                    _line(cat_s, F.lit(f' {PREF_LABEL_P} "Cat '), F.col("id").cast("string"), F.lit(f'"@{lang}')),
                )
            ).alias("value")
        )
        _write(skos, f"{root}/{lang}/skos_categories_{lang}.ttl")
        total += 100

        geo = ids.where(sid % 2 == 0).select(
            _line(
                s,
                F.lit(f' {POINT_P} "'),
                ((sid % 180) - 90).cast("string"),
                F.lit(".5 "),
                ((sid % 360) - 180).cast("string"),
                F.lit('.25"'),
            ).alias("value")
        )
        _write(geo, f"{root}/{lang}/geo_coordinates_{lang}.ttl")
        total += (n_subjects + 1) // 2
    return total
