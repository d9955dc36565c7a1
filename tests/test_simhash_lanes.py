"""Focused pins for the r14 simhash bit-sliced lane aggregation.

simhash_signatures packs 3 per-bit counts into each 64-bit SUM buffer
(20-bit lanes): 20 buffers instead of 60, per-token agg work /3. The
bitwise old-vs-new parity lives in tests/test_hof_binding.py (the
verbatim pre-r10 60-sum form vs the current builder, random texts +
fixture docs); this file pins the NEW mechanics at their boundary:

- the lane-carry bound (2^20 - 1 tokens per doc) fails LOUDLY via the
  raise_error guard riding the majority comparisons — a lane that
  overflows into its neighbor would otherwise corrupt signatures
  silently;
- a document exactly AT the bound still signs exactly (the worst-case
  lane value 2^20 - 1 is representable and carries nothing);
- the plan carries exactly 20 packed-sum aggregate buffers (plus
  n_tok), not 60 — the agg-width claim, pinned mechanically.
"""

from __future__ import annotations

import pytest
from conftest import norm_plan
from pyspark.sql import functions as F

from hadoop_0_20_2_ljx_spark.extensions import dedup

LANE_MAX = (1 << 20) - 1  # 1,048,575 tokens per document


def _repeated_token_doc(spark, n_tokens: int):
    """One document of n_tokens copies of the token 'w' (identical
    hashes maximize every set bit's lane: count = n_tokens — the exact
    worst case for lane carry)."""
    text = F.array_join(
        F.transform(F.sequence(F.lit(0), F.lit(n_tokens - 1)), lambda _: F.lit("w")),
        " ",
    )
    return spark.range(1).select(F.col("id").alias("doc_id"), text.alias("text"))


def test_lane_bound_doc_signs_exactly(spark):
    """n_tok == 2^20 - 1: every set bit's lane holds the maximal value;
    the signature must equal the token hash's low 60 bits (unanimous
    majority of identical tokens)."""
    docs = _repeated_token_doc(spark, LANE_MAX)
    row = dedup.simhash_signatures(docs, "doc_id", "text").first()
    expected = (
        spark.range(1)
        .select(
            F.conv(F.substring(F.md5(F.lit("w")), 1, 15), 16, 10)
            .cast("long")
            .alias("h")
        )
        .first()["h"]
    )
    assert row["simhash"] == expected


def test_lane_overflow_raises_loudly(spark):
    """n_tok == 2^20: the set bits' lanes would carry into their
    neighbors; the guard must raise, never emit a wrapped signature."""
    docs = _repeated_token_doc(spark, LANE_MAX + 1)
    with pytest.raises(Exception, match="1048575 tokens"):
        dedup.simhash_signatures(docs, "doc_id", "text").collect()


def test_aggregate_is_20_packed_buffers(spark):
    """Mechanical width pin: the signature aggregate carries 20 packed
    sums + count, not one sum per bit (the pre-r14 61-buffer form)."""
    docs = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    plan = (
        dedup.simhash_signatures(docs, "doc_id", "text")
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    # each packed buffer appears as sum((shiftright(h, i) & 1099512676353))
    lane_mask = (1 << 40) | (1 << 20) | 1
    assert plan.count(str(lane_mask)) == 20, plan


def _pad_empty(arr):
    """The Column sentinel padding the r14 lane form used, kept verbatim
    so the reference does not depend on the code under test."""
    return F.element_at(
        F.transform(
            F.array(arr),
            lambda a: F.when(F.size(a) > 0, a).otherwise(F.array(F.lit(""))),
        ),
        1,
    )


def _column_form_lane_signatures(df, id_col, text_col, bits=60):
    """The r14 Column-built lane form, kept verbatim: the SQL-text
    builder in simhash_signatures must parse to THIS tree (modulo
    expression/lambda-id counters)."""
    import functools
    import operator

    ids = df.select(F.col(id_col).alias(id_col), F.col(text_col).alias("_text"))
    sc = df.sparkSession.sparkContext
    words = F.filter(F.split(F.col("_text"), r"\s+"), lambda w: w != "")
    padded = _pad_empty(words)
    tok = (
        ids.repartition(sc.defaultParallelism, id_col)
        .select(id_col, F.explode(padded).alias("w"))
        .select(
            id_col,
            F.conv(F.substring(F.md5(F.col("w")), 1, 15), 16, 10)
            .cast("long")
            .alias("h"),
        )
    )
    lane_mask = F.lit((1 << 40) | (1 << 20) | 1).cast("long")
    votes = tok.groupBy(id_col).agg(
        F.count("*").alias("n_tok"),
        *[
            F.sum(F.shiftright(F.col("h"), i).bitwiseAND(lane_mask)).alias(f"p{i}")
            for i in range(20)
        ],
    )
    n_guarded = F.when(
        F.col("n_tok") > F.lit((1 << 20) - 1).cast("long"),
        F.raise_error(
            F.lit(
                "simhash_signatures: document exceeds 1048575 tokens — the "
                "bit-sliced 20-bit count lanes would overflow; split the "
                "document (or chunk it) before signing"
            )
        ),
    ).otherwise(F.col("n_tok"))

    def _s(j):
        return F.shiftright(F.col(f"p{j % 20}"), 20 * (j // 20)).bitwiseAND(
            F.lit((1 << 20) - 1).cast("long")
        )

    sig = functools.reduce(
        operator.add,
        [
            F.when(_s(j) * 2 > n_guarded, F.lit(1 << j).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            for j in range(bits)
        ],
    )
    return votes.select(id_col, sig.cast("long").alias("simhash"))


def test_sqltext_builder_plan_and_rows_match_column_form(spark):
    """The SQL-text builder (one selectExpr/F.expr parse per block, r14:
    the Column form cost 8,815 py4j sends ~= 1.5 s of driver build per
    query) must produce the identical optimized plan and rows."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    old = _column_form_lane_signatures(docs, "doc_id", "text")
    new = dedup.simhash_signatures(docs, "doc_id", "text")
    assert norm_plan(old) == norm_plan(new)
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0
