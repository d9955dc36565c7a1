from __future__ import annotations

from contextlib import contextmanager

import pytest

from hadoop_0_20_2_ljx_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_T2 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="ljx-tests", shuffle_partitions=8)
    yield s
    s.stop()


@contextmanager
def parser_escapes(spark, escaped: bool = True):
    """Run a block with spark.sql.parser.escapedStringLiterals set (the
    parser then keeps string-literal backslashes verbatim); the conf is
    unset afterwards, even when the block fails."""
    key = "spark.sql.parser.escapedStringLiterals"
    spark.conf.set(key, str(escaped).lower())
    try:
        yield
    finally:
        spark.conf.unset(key)
