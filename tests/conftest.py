from __future__ import annotations

from contextlib import contextmanager

import pytest

from umi_dedup_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("umi_dedup_tests", parallelism=8, shuffle_partitions=8)
    yield s


@pytest.fixture
def join_threshold(spark):
    """``with join_threshold(value):`` sets the session's
    spark.sql.autoBroadcastJoinThreshold for the block, then restores it."""
    key = "spark.sql.autoBroadcastJoinThreshold"

    @contextmanager
    def set_to(value):
        old = spark.conf.get(key)
        spark.conf.set(key, value)
        try:
            yield
        finally:
            spark.conf.set(key, old)

    return set_to
