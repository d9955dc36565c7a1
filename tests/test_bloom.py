"""Bloom membership: no false negatives, sane FP rate, JVM-only probe."""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_0_20_2_ljx_spark import catalog
from hadoop_0_20_2_ljx_spark.functions import bloom
from tests.conftest import SF_SMOKE


def test_bloom_prefilter_superset_of_semi_join(spark):
    li = catalog.load(spark, SF_SMOKE, "lineitem")
    orders = catalog.load(spark, SF_SMOKE, "orders").filter(F.col("o_orderkey") % 7 == 0)
    keys = orders.select(F.col("o_orderkey").alias("l_orderkey"))

    exact = li.join(keys, "l_orderkey", "left_semi")
    filtered = bloom.bloom_prefilter(
        li.withColumn("k", F.col("l_orderkey")), orders.withColumn("k", F.col("o_orderkey")), "k"
    )

    n_exact, n_bloom = exact.count(), filtered.count()
    # no false negatives: every truly-matching row survives
    missing = exact.join(filtered.select("l_orderkey").distinct(), "l_orderkey", "left_anti")
    assert missing.count() == 0
    # false positives bounded: superset, but not the whole table
    assert n_bloom >= n_exact
    assert n_bloom <= li.count() * 0.5


def test_bloom_exactness_after_join(spark):
    li = catalog.load(spark, SF_SMOKE, "lineitem").withColumn("k", F.col("l_orderkey"))
    orders = catalog.load(spark, SF_SMOKE, "orders").filter(F.col("o_orderkey") % 5 == 0)
    ok = orders.select(F.col("o_orderkey").alias("k"), "o_totalprice")
    plain = li.join(ok, "k").agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 4).alias("s"))
    pre = bloom.bloom_prefilter(li, ok, "k").join(ok, "k").agg(
        F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 4).alias("s")
    )
    assert tuple(plain.collect()[0]) == tuple(pre.collect()[0])


def test_optimal_params_shape():
    m, k = bloom.optimal_params(10_000, 0.01)
    assert m > 10_000 and 5 <= k <= 10


def test_jvm_probe_bit_parity_and_python_free_plan(spark):
    """The r13 probe rewrite's two contracts: (a) the packed-word
    getbit membership is bit-identical to a numpy gather over the same
    bitmap at every word boundary (odd m exercises the padding), and
    (b) no probe path puts a Python eval node in the plan — the
    JVM->Python hop (and its infer-pushed duplicate on the join's other
    side) is what the rewrite removed."""
    import numpy as np

    rng = np.random.RandomState(7)
    m_bits, k = 1003, 5  # odd m: the last word carries 59 padding bits
    bits = rng.rand(m_bits) < 0.37
    probe = spark.range(0, 3000).select(F.col("id").alias("key"))
    cond = bloom._bitmap_member_cond(
        bloom._bitmap_literal(bloom._bitmap_words(bits)),
        bloom._position_parts(F.col("key"), k, m_bits),
    )
    got = {r.key for r in probe.filter(cond).collect()}
    ref_pos = probe.select(
        "key", bloom._positions_expr(F.col("key"), k, m_bits).alias("p")
    ).collect()
    ref = {r.key for r in ref_pos if all(bits[pp] for pp in r.p)}
    assert got == ref

    small = spark.range(0, 300).select((F.col("id") * 3).alias("k"))
    big = spark.range(0, 3000).select(F.col("id").alias("k"))
    filtered = bloom.bloom_prefilter(big, small, "k")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "ArrowEval" not in plan


def test_bitmap_literal_is_one_expression_node(spark):
    """The bitmap must ride as ONE ArrayType Literal (O(1) plan nodes at
    any bitmap size) — never per-element literal nodes (F.lit(list) stamps
    the r7 cliff: one node per element) and never a one-row broadcast-join
    carrier (measured: the join copies the bitmap into every probe-side
    row, 12.7 s vs ~0.2 s at 600k rows)."""
    import numpy as np

    lit = bloom._bitmap_literal(np.arange(5000, dtype=np.int64))
    # a single long[] literal renders as the array ref, not array(0, 1, ...)
    assert not lit._jc.toString().startswith("array(")
    df = spark.range(3).select(F.element_at(lit, 5).alias("x"))
    assert "Join" not in df._jdf.queryExecution().executedPlan().toString()
    assert [r.x for r in df.collect()] == [4, 4, 4]


def test_null_probe_keys_are_dropped_by_all_prefilters(spark):
    """r14 (r13 ADVICE item 1): xxhash64 is non-nullable, so without the
    explicit isNotNull conjunct a NULL probe key hashes to fixed
    positions and passes whenever the build side contained any NULL key.
    The prefilter must drop NULL probe keys — the join-prefilter
    semantics the md5-era hash gave for free."""
    build = spark.createDataFrame(
        [(1,), (2,), (None,)], "k long"
    )  # NULL on the build side sets the seed positions
    probe = spark.createDataFrame([(1,), (99,), (None,), (None,)], "k long")

    filtered = bloom.bloom_prefilter(probe, build, "k")
    assert filtered.filter(F.col("k").isNull()).count() == 0
    assert filtered.filter(F.col("k") == 1).count() == 1  # no false negatives
