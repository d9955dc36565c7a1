"""The cross-engine SQL-text builders build the trees their Column
forms built.

functions/portable.py holds the one Spark builder of the md5-prefix
hash (md5_int_sql) and of the embedding folds (dot_sql / cos_sql /
sq_dist_sql over zip_sum_sql); textstats.tokens_sql is the one array
tokenizer. The Column forms they replaced are kept verbatim below as the
independent side of each pin: same optimized plan after norm_plan
normalization, same rows.
"""

from __future__ import annotations

import pytest
from conftest import SF_SMOKE, norm_plan
from pyspark.sql import Column
from pyspark.sql import functions as F

from hadoop_0_20_2_ljx_spark import catalog
from hadoop_0_20_2_ljx_spark.extensions import audit, textstats
from hadoop_0_20_2_ljx_spark.functions.portable import (
    cos_sql,
    double_array_sql,
    double_sql,
    md5_int_sql,
    sq_dist_sql,
    zip_sum_sql,
)


# --- the Column forms the builders replaced, kept verbatim -------------------
def _portable_hash32(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("long")


def _portable_hash64(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast("long")


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def _same(old, new) -> None:
    assert norm_plan(old) == norm_plan(new)
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0


def test_md5_int_sql_matches_portable_hash_column_forms(spark):
    docs = catalog.load(spark, SF_SMOKE, "documents")
    for col in ("doc_id", "text"):
        old = docs.select(
            _portable_hash32(F.col(col)).alias("h32"),
            _portable_hash64(F.col(col)).alias("h64"),
        )
        new = docs.select(
            F.expr(md5_int_sql(col, 8)).alias("h32"),
            F.expr(md5_int_sql(col, 15)).alias("h64"),
        )
        _same(old, new)


def test_tokens_sql_matches_filter_split_column_form(spark):
    docs = catalog.load(spark, SF_SMOKE, "documents")
    old = docs.select(F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != "").alias("t"))
    new = docs.select(F.expr(textstats.tokens_sql("text")).alias("t"))
    _same(old, new)


def test_folds_match_column_forms(spark):
    emb = catalog.load(spark, SF_SMOKE, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    pairs = emb.alias("a").join(emb.alias("b"), F.col("a.vec_id") == F.col("b.vec_id") + 1)
    old = pairs.select(
        _cosine(F.col("a.v"), F.col("b.v")).alias("cos"),
        F.aggregate(
            F.zip_with("a.v", "b.v", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("d2"),
        F.aggregate(
            F.zip_with("a.v", "b.v", lambda x, y: F.when(x == y, 1).otherwise(0)),
            F.lit(0),
            lambda acc, x: acc + x,
        ).alias("eq"),
    )
    new = pairs.select(
        F.expr(cos_sql("a.v", "b.v")).alias("cos"),
        F.expr(sq_dist_sql("a.v", "b.v")).alias("d2"),
        F.expr(zip_sum_sql("a.v", "b.v", "CASE WHEN x = y THEN 1 ELSE 0 END", "0")).alias(
            "eq"
        ),
    )
    _same(old, new)


@pytest.mark.parametrize("x", [float("nan"), float("inf"), float("-inf")])
def test_double_literal_rejects_non_finite(x):
    """A NaN centroid must fail loudly by name, not render `nanD` (which
    Spark parses as a column reference: UNRESOLVED_COLUMN)."""
    assert double_sql(-0.5) == "-0.5D"
    with pytest.raises(ValueError, match="non-finite value .* finite vectors"):
        double_sql(x)
    with pytest.raises(ValueError, match="non-finite"):
        double_array_sql([1.0, x])


def test_bucket_fingerprint_default_hash_plan_unchanged(spark):
    """The default md5 hash names the row rendering through an alias;
    the two projections collapse into the one the Column form built."""
    orders = catalog.load(spark, SF_SMOKE, "orders")
    row = F.concat_ws("|", F.col("o_orderkey").cast("string"), F.col("o_orderstatus"))
    m63 = F.lit("9223372036854775808").cast("decimal(38,0)")
    old = (
        orders.select(
            F.pmod(F.col("o_orderkey").cast("long"), F.lit(16)).alias("bucket"),
            _portable_hash64(row).cast("decimal(38,0)").alias("_h"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.pmod(F.sum("_h"), m63).cast("long").alias("fingerprint"),
        )
    )
    new = audit.bucket_fingerprint(orders, F.col("o_orderkey"), row, 16)
    _same(old, new)
