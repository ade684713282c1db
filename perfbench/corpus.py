"""Seeded, reference-shaped TTL corpus for the benchmark.

Same ``{root}/{lang}/{dataset}_{lang}.ttl`` layout as
``dgraph_dbpedia_spark.benchgen`` (each file a directory of text parts),
but shaped to exercise the paths benchgen leaves idle:

- languages of skewed size (``de`` half and ``vi`` a quarter of ``en``);
- a long tail of infobox predicates (250 per language, Zipf-like), so
  ``--top-k 100`` keeps roughly nine rows in ten instead of all of them;
- conflicting datatypes per predicate, so the majority vote has work;
- ``labels_en_uris`` / ``infobox_properties_en_uris`` files for the
  non-en languages, so ingest's ``en-<lang>`` union runs;
- ``#`` comment lines in every part file.

The seed moves every value, link target, predicate and datatype choice;
the number of lines per file depends only on ``n_subjects``, so every
seed gives the same triple counts (:func:`expected_counts`).

Written by the benchmark process in plain Python rather than Spark: at the
benchmark's size (~100 k lines) one Spark write job costs several
seconds of per-job overhead, while this takes about one.
"""

from __future__ import annotations

import os
import random

LABEL_P = "<http://www.w3.org/2000/01/rdf-schema#label>"
SUBJECT_P = "<http://purl.org/dc/terms/subject>"
SAME_AS_P = "<http://www.w3.org/2002/07/owl#sameAs>"
WIKILINK_P = "<http://dbpedia.org/ontology/wikiPageWikiLink>"
POINT_P = "<http://www.georss.org/georss/point>"
RDF_TYPE_P = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
PREF_LABEL_P = "<http://www.w3.org/2004/02/skos/core#prefLabel>"
BROADER_P = "<http://www.w3.org/2004/02/skos/core#broader>"
CONCEPT = "<http://www.w3.org/2004/02/skos/core#Concept>"
XSD = "<http://www.w3.org/2001/XMLSchema#{}>"

# subjects per language as a share of n_subjects (skewed sizes)
LANG_SHARES = {"en": 1.0, "de": 0.5, "vi": 0.25}
N_PREDICATES = 250  # infobox predicates per language
PRED_SKEW = 8.0  # index = N * u**skew: the top 100 hold ~(100/250)**(1/8) = 89%
INFOBOX_PER_SUBJECT = 6
CONFLICT_SHARE = 0.15  # numeric/date rows typed xsd:string instead
N_CATEGORIES = 50
EN_URIS_SHARE = 10  # one en-subject line per 10 subjects of a non-en language
PARTS = 4  # part files per .ttl directory


def lang_sizes(n_subjects: int) -> dict[str, int]:
    return {lang: max(int(n_subjects * share), 1) for lang, share in LANG_SHARES.items()}


def expected_counts(n_subjects: int) -> dict[str, int]:
    """Triples per dataset after ingest (``en-<lang>`` rows included),
    as a function of the size alone: the seed never changes them."""
    sizes = lang_sizes(n_subjects)
    total = sum(sizes.values())
    en_uris = sum(n // EN_URIS_SHARE for lang, n in sizes.items() if lang != "en")
    return {
        "labels": total + en_uris,
        "infobox_properties": INFOBOX_PER_SUBJECT * total + en_uris,
        "page_links": 2 * total,
        "interlanguage_links": total,
        "article_categories": total,
        "skos_categories": len(sizes) * (3 * N_CATEGORIES - 1),
        "geo_coordinates": sum((n + 1) // 2 for n in sizes.values()),
    }


def _res(lang: str, name: str) -> str:
    host = "dbpedia.org" if lang == "en" else f"{lang}.dbpedia.org"
    return f"<http://{host}/resource/{name}>"


def _prop(lang: str, idx: int) -> str:
    host = "dbpedia.org" if lang == "en" else f"{lang}.dbpedia.org"
    return f"<http://{host}/property/prop_{idx}>"


def _infobox_object(rng: random.Random, lang: str, idx: int) -> str:
    """The predicate's index picks its base datatype; a share of the
    numeric and date rows carry a conflicting ``xsd:string`` instead."""
    v = rng.randrange(100_000)
    kind = idx % 6
    if kind < 3 and rng.random() < CONFLICT_SHARE:
        kind = 5
    if kind == 0:
        return f'"{v}"^^{XSD.format("integer")}'
    if kind == 1:
        return f'"{v / 8}"^^{XSD.format("double")}'
    if kind == 2:
        return f'"{1800 + v % 220}-{1 + v % 12:02d}-01"^^{XSD.format("date")}'
    if kind == 3:
        return f'"Text {v}"@{lang}'
    if kind == 4:
        return _res(lang, f"Article_{v % 1000}")
    return f'"Value {v}"^^{XSD.format("string")}'


def _lines(rng: random.Random, lang: str, n: int, sizes: dict[str, int]) -> dict[str, list[str]]:
    subjects = [_res(lang, f"Article_{i}") for i in range(n)]
    others = [o for o in sizes if o != lang]
    cats = [_res(lang, f"Category:Cat_{c}") for c in range(N_CATEGORIES)]
    files: dict[str, list[str]] = {
        "labels": [f'{s} {LABEL_P} "Label {rng.randrange(10**9)}"@{lang}' for s in subjects],
        "infobox_properties": [],
        "page_links": [
            f"{s} {WIKILINK_P} {_res(lang, f'Article_{rng.randrange(n)}')}"
            for s in subjects
            for _ in range(2)
        ],
        "interlanguage_links": [],
        "article_categories": [f"{s} {SUBJECT_P} {cats[rng.randrange(N_CATEGORIES)]}" for s in subjects],
        "skos_categories": [f"{c} {RDF_TYPE_P} {CONCEPT}" for c in cats]
        + [f'{c} {PREF_LABEL_P} "Cat {i}"@{lang}' for i, c in enumerate(cats)]
        + [f"{cats[i]} {BROADER_P} {cats[rng.randrange(i)]}" for i in range(1, N_CATEGORIES)],
        "geo_coordinates": [
            f'{s} {POINT_P} "{rng.uniform(-90, 90):.4f} {rng.uniform(-180, 180):.4f}"'
            for s in subjects[::2]
        ],
    }
    for s in subjects:
        for _ in range(INFOBOX_PER_SUBJECT):
            idx = min(int(rng.random() ** PRED_SKEW * N_PREDICATES), N_PREDICATES - 1)
            files["infobox_properties"].append(f"{s} {_prop(lang, idx)} {_infobox_object(rng, lang, idx)}")
        other = rng.choice(others)
        files["interlanguage_links"].append(
            f"{s} {SAME_AS_P} {_res(other, f'Article_{rng.randrange(sizes[other])}')}"
        )
    if lang != "en":
        en = [_res("en", f"Article_{rng.randrange(sizes['en'])}") for _ in range(n // EN_URIS_SHARE)]
        files["labels_en_uris"] = [f'{s} {LABEL_P} "EnLabel {i}"@{lang}' for i, s in enumerate(en)]
        files["infobox_properties_en_uris"] = [
            f'{s} {_prop("en", 0)} "{rng.randrange(100_000)}"^^{XSD.format("integer")}' for s in en
        ]
    return files


def _write(path: str, lines: list[str], seed: int) -> None:
    os.makedirs(path)
    step = -(-len(lines) // PARTS)
    for part in range(PARTS):
        with open(os.path.join(path, f"part-{part:05d}.txt"), "w") as f:
            f.write(f"# started seed={seed}\n")
            f.writelines(line + " .\n" for line in lines[part * step:(part + 1) * step])
            f.write("# completed\n")


def generate(root: str, n_subjects: int, seed: int) -> dict[str, int]:
    """Write the corpus under ``root`` (which must not exist yet);
    returns :func:`expected_counts`."""
    rng = random.Random(seed)
    sizes = lang_sizes(n_subjects)
    for lang, n in sizes.items():
        for dataset, lines in _lines(rng, lang, n, sizes).items():
            _write(os.path.join(root, lang, f"{dataset}_{lang}.ttl"), lines, seed)
    return expected_counts(n_subjects)
