"""Skew mitigation: salted ops are result-identical to plain ops; bucketed
joins are shuffle-free."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from hadoop_0_20_2_ljx_spark import catalog
from hadoop_0_20_2_ljx_spark.operators import skew
from tests.conftest import SF_SMOKE


def test_salted_sum_matches_plain(spark):
    li = catalog.load(spark, SF_SMOKE, "lineitem")
    plain = li.groupBy("l_returnflag").agg(F.round(F.sum("l_quantity"), 6).alias("s"))
    salted = skew.salted_sum(li, "l_returnflag", "l_quantity", buckets=8, alias="s")
    salted = salted.select("l_returnflag", F.round("s", 6).alias("s"))
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_matches_plain(spark):
    li = catalog.load(spark, SF_SMOKE, "lineitem").withColumnRenamed("l_orderkey", "okey")
    orders = catalog.load(spark, SF_SMOKE, "orders").withColumnRenamed("o_orderkey", "okey")
    plain = (
        li.join(orders, "okey")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 4).alias("s"))
        .collect()[0]
    )
    salted = (
        skew.salted_join(li, orders, "okey", buckets=8)
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 4).alias("s"))
        .collect()[0]
    )
    assert tuple(plain) == tuple(salted)


def test_salted_join_left_keeps_unmatched(spark):
    li = catalog.load(spark, SF_SMOKE, "lineitem").withColumnRenamed("l_orderkey", "okey")
    # keep only half the orders so some lineitems have no match
    orders = (
        catalog.load(spark, SF_SMOKE, "orders")
        .withColumnRenamed("o_orderkey", "okey")
        .filter(F.col("okey") % 2 == 0)
    )
    plain = li.join(orders, "okey", "left").count()
    salted = skew.salted_join(li, orders, "okey", buckets=4, how="left").count()
    assert plain == salted


def test_salted_ops_reject_degenerate_buckets(spark):
    """buckets=0 must raise, not silently return empty: sequence(0, -1)
    auto-steps to [0, -1] on the dim side while pmod(x, 0) is NULL on the
    fact side, so the join matches nothing (r12 ADVICE)."""
    import pytest

    li = catalog.load(spark, SF_SMOKE, "lineitem").withColumnRenamed("l_orderkey", "okey")
    orders = catalog.load(spark, SF_SMOKE, "orders").withColumnRenamed("o_orderkey", "okey")
    for bad in (0, -3):
        with pytest.raises(ValueError, match="buckets >= 1"):
            skew.salted_join(li, orders, "okey", buckets=bad)
        with pytest.raises(ValueError, match="buckets >= 1"):
            skew.salted_sum(li, "l_returnflag", "l_quantity", buckets=bad)


def test_bucketed_join_no_shuffle(spark):
    li = catalog.load(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_quantity")
    orders = catalog.load(spark, SF_SMOKE, "orders").select("o_orderkey", "o_totalprice")
    # bucketed + sorted by the join key: the co-sorted, co-partitioned
    # inputs the reference's map-side merge join needed
    # (mapred/join/CompositeInputFormat.java:48)
    for df, table in ((li.withColumnRenamed("l_orderkey", "k"), "t_li_b"),
                      (orders.withColumnRenamed("o_orderkey", "k"), "t_ord_b")):
        df.write.mode("overwrite").bucketBy(8, "k").sortBy("k").format("parquet").saveAsTable(table)
    # At sf0.001 the planner (rightly) prefers broadcast; disable it to
    # observe the bucketed path a 100 TB join would take.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("t_li_b").join(spark.table("t_ord_b"), on="k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        assert "Bucketed: true" in plan, plan
        expected = li.join(orders, li.l_orderkey == orders.o_orderkey).count()
        assert joined.count() == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_li_b")
        spark.sql("DROP TABLE IF EXISTS t_ord_b")
        shutil.rmtree("spark-warehouse", ignore_errors=True)


def test_top_hot_keys(spark):
    li = catalog.load(spark, SF_SMOKE, "lineitem")
    hot = skew.top_hot_keys(li, "l_returnflag", top_n=3).collect()
    assert len(hot) == 3
    assert hot[0]["cnt"] >= hot[-1]["cnt"]
    assert abs(sum(r["share"] for r in hot) - 1.0) < 0.01


def test_global_row_number_matches_window(spark):
    """with_global_row_number must equal the single-partition global window
    on data small enough to compare directly."""
    from pyspark.sql.window import Window

    from hadoop_0_20_2_ljx_spark.operators import sorts

    orders = catalog.load(spark, SF_SMOKE, "orders").select("o_orderkey", "o_totalprice")
    order = [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()]
    dist = sorts.with_global_row_number(orders, order).select("o_orderkey", "rn")
    ref = orders.withColumn("rn", F.row_number().over(Window.orderBy(*order)).cast("long")).select(
        "o_orderkey", "rn"
    )
    assert sorted(map(tuple, dist.collect())) == sorted(map(tuple, ref.collect()))


def test_chunked_running_sum_matches_direct_window(spark):
    """The decomposable window hot-key path (SCALE.md taxonomy row): a
    per-key cumulative sum computed via (key, chunk) windows + an offset
    table must equal the direct hot-partition window bit-for-bit —
    including the NULL-key group, which the recombining join must keep
    (eqNullSafe; a bare equi-join drops it)."""
    from pyspark.sql.window import Window

    n = 20_000
    df = spark.range(n).select(
        # 70%-hot key 0, plus a NULL-key group
        F.when(F.pmod("id", F.lit(100)) == 99, F.lit(None).cast("long"))
        .when(F.pmod("id", F.lit(10)) < 7, F.lit(0))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(50)) + 1)
        .alias("u"),
        F.col("id").alias("t"),
        F.pmod("id", F.lit(97)).alias("v"),
    )
    direct = df.withColumn(
        "rs",
        F.sum("v").over(
            Window.partitionBy("u")
            .orderBy("t")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    chunked = skew.chunked_running_sum(
        df, "u", [F.col("t")], "v", (F.col("t") / 512).cast("long").alias("c"), "rs"
    )
    # repr-sort: tuples containing the NULL-key rows are not orderable
    assert sorted(repr(tuple(r)) for r in direct.collect()) == sorted(
        repr(tuple(r)) for r in chunked.collect()
    )
    # the scale shape: the big window partitions by (key, chunk) — the hot
    # key spreads over chunks instead of one task's sorter
    plan = chunked._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(u#" in plan.replace("L", "") or "_chunk" in plan, plan
    assert "_chunk" in plan, plan


def test_chunked_running_agg_all_aggs_match_direct(spark):
    """chunked_running_agg must equal the direct hot-key window for every
    algebraic agg (sum/count/min/max) — including NULL values (the result
    is NULL iff the whole per-key prefix is null-valued: sum must not
    turn an all-null prefix into 0, min/max ride least/greatest's
    null-ignoring identity, count never NULLs) and the NULL-key group."""
    from pyspark.sql.window import Window

    n = 8_000
    df = spark.range(n).select(
        F.when(F.pmod("id", F.lit(100)) == 99, F.lit(None).cast("long"))
        .when(F.pmod("id", F.lit(10)) < 7, F.lit(0))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(20)) + 1)
        .alias("u"),
        F.col("id").alias("t"),
        # ~20% NULL values, incl. long all-null runs at the head of some
        # (key, chunk) buckets
        F.when(F.pmod("id", F.lit(5)) == 0, F.lit(None).cast("long"))
        .otherwise(F.pmod(F.xxhash64("id", "id"), F.lit(997)) - 300)
        .alias("v"),
    )
    w = (
        Window.partitionBy("u")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    chunk = (F.col("t") / 256).cast("long")
    for agg, fn in (("sum", F.sum), ("count", F.count), ("min", F.min), ("max", F.max)):
        direct = df.withColumn("r", fn("v").over(w))
        decomposed = skew.chunked_running_agg(df, "u", [F.col("t")], "v", chunk, agg, "r")
        assert sorted(repr(tuple(r)) for r in direct.collect()) == sorted(
            repr(tuple(r)) for r in decomposed.collect()
        ), f"agg={agg} diverged from the direct window"
    import pytest

    with pytest.raises(ValueError, match="algebraic"):
        skew.chunked_running_agg(df, "u", [F.col("t")], "v", chunk, "rank")


def test_chunked_running_agg_chunk_granularity_invariance(spark):
    """The decomposition must be invariant to the chunking function: the
    chunk column is a free performance knob (pick ~8x reducers at scale),
    never a correctness parameter. Pin the two degenerate extremes —
    width 1 (every row its own chunk: the offset table IS the data, the
    intra window is trivial) and one-giant-chunk (the offset table is
    one row per key, the intra window IS the direct window) — plus a
    coprime width, all bit-equal to the direct window."""
    from pyspark.sql.window import Window

    n = 3_000
    df = spark.range(n).select(
        F.pmod(F.xxhash64("id"), F.lit(7)).alias("u"),
        F.col("id").alias("t"),
        F.when(F.pmod("id", F.lit(4)) == 0, F.lit(None).cast("long"))
        .otherwise(F.pmod(F.xxhash64("id", "id"), F.lit(997)) - 300)
        .alias("v"),
    )
    w = (
        Window.partitionBy("u")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    expected = sorted(
        repr(tuple(r)) for r in df.withColumn("r", F.sum("v").over(w)).collect()
    )
    for width in (1, 37, 10**9):
        chunk = (F.col("t") / width).cast("long")
        got = skew.chunked_running_agg(df, "u", [F.col("t")], "v", chunk, "sum", "r")
        assert sorted(repr(tuple(r)) for r in got.collect()) == expected, (
            f"chunk width {width} changed the result"
        )


def test_working_column_collisions_refused(spark):
    """Internal working columns (_salt/_psum/_chunk/...) are created with
    withColumn and dropped on exit — a same-named user column would be
    silently overwritten then destroyed. All three operators must refuse
    loudly; out_col collisions likewise."""
    import pytest

    base = spark.range(10).select(
        F.col("id").alias("k"), F.col("id").alias("t"), F.col("id").alias("v")
    )
    chunk = (F.col("t") / 4).cast("long")

    with pytest.raises(ValueError, match="_salt"):
        skew.salted_sum(base.withColumn("_salt", F.lit(1)), "k", "v")
    with pytest.raises(ValueError, match="_salt"):
        skew.salted_join(base.withColumn("_salt", F.lit(1)), base, "k")
    with pytest.raises(ValueError, match="_salt"):
        skew.salted_join(base, base.withColumn("_salt", F.lit(1)), "k")
    with pytest.raises(ValueError, match="_chunk"):
        skew.chunked_running_agg(
            base.withColumn("_chunk", F.lit(1)), "k", [F.col("t")], "v", chunk
        )
    with pytest.raises(ValueError, match="out_col"):
        skew.chunked_running_agg(base, "k", [F.col("t")], "v", chunk, "sum", "v")


def test_chunked_running_agg_non_monotone_chunk_raises(spark):
    """A chunk column that interleaves order values across chunks would
    silently corrupt every prefix downstream of the seam — the offsets
    pass must detect the overlapping order-key ranges and raise, not
    return wrong numbers. Monotone chunks (all other tests) must be
    unaffected."""
    import pytest

    df = spark.range(1_000).select(
        F.pmod("id", F.lit(3)).alias("u"),
        F.col("id").alias("t"),
        F.col("id").alias("v"),
    )
    bad_chunk = F.pmod("t", F.lit(7))  # interleaves t ranges across chunks
    with pytest.raises(Exception, match="not monotone"):
        skew.chunked_running_agg(
            df, "u", [F.col("t")], "v", bad_chunk, "sum", "r"
        ).collect()
