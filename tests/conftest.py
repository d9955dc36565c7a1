from __future__ import annotations

import re
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


def norm_plan(df) -> str:
    """The optimized plan as text with expression ids and lambda
    variable names normalized. Both are arbitrary (the Column API mints
    x_<counter>, SQL text uses the source names), so two builds of one
    expression compare equal iff their trees have the same shape and
    operators; row-equality tests pin the semantics. The tree is
    rendered in full: toString() cuts a projection off past
    spark.sql.debug.maxToStringFields (25) fields. The arguments are
    Spark 4's (verbose, addSuffix, maxFields, printOperatorIds,
    printOutputColumns)."""
    plan = df._jdf.queryExecution().optimizedPlan()
    s = plan.treeString(True, False, 2**31 - 1, False, False)
    s = re.sub(r"#\d+L?", "#X", s)
    s = re.sub(r"lambda [A-Za-z_]\w*#X", "lambda VAR#X", s)
    s = re.sub(r"x_\d+", "x_N", s)
    return s
