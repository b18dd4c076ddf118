from __future__ import annotations

import os

import pytest

from backend_fastapi_spark.core.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture
def open_engine(spark):
    """``Engine.open`` for one test. Every Engine it opened is closed when
    the test ends: a cached substrate is session-wide, and Spark would
    substitute it into any later test's query with the same plan."""
    from backend_fastapi_spark.api import Engine

    opened = []

    def _open(sf_dir):
        eng = Engine.open(spark, sf_dir)
        opened.append(eng)
        return eng

    yield _open
    for eng in opened:
        eng.close()
