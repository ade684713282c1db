from __future__ import annotations

import pytest

from dgraph_dbpedia_spark.session import build_session


@pytest.fixture(scope="session")
def spark():
    spark = build_session(
        app_name="dgraph_dbpedia_spark-tests",
        shuffle_partitions=8,
    )
    yield spark
    spark.stop()


SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
