"""Filesystem-listing catalog — discover languages and datasets from
directory names on the driver (S9, DbpediaToParquetSparkApp.scala:113-135).

The reference's layout is ``{base}/{release}/core-i18n/{lang}/
{dataset}_{lang}.ttl``; we keep the same driver-side discovery pattern
but generalized to any ``{root}/{lang}/{dataset}_{lang}.ttl`` tree.
"""

from __future__ import annotations

import os


def list_languages(root: str) -> list[str]:
    """Language = any subdirectory name of ``root``."""
    if not os.path.isdir(root):
        return []
    return sorted(d for d in os.listdir(root) if os.path.isdir(os.path.join(root, d)))


def list_datasets(root: str) -> list[str]:
    """Dataset = filename prefix before ``_{lang}.ttl``, across all langs."""
    datasets: set[str] = set()
    for lang in list_languages(root):
        suffix = f"_{lang}.ttl"
        for f in os.listdir(os.path.join(root, lang)):
            if f.endswith(suffix):
                datasets.add(f[: -len(suffix)])
    return sorted(datasets)


def dataset_path(root: str, lang: str, dataset: str) -> str:
    return os.path.join(root, lang, f"{dataset}_{lang}.ttl")
