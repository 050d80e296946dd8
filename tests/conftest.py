from __future__ import annotations

import pytest

from database_convertor_spark.session import get_spark, new_query

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(autouse=True)
def _new_query():
    """Each test is one query: it starts by releasing what the previous
    test persisted, so the shared session's cache stays bounded."""
    new_query()
