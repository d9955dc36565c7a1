"""Aggregation library.

Reference counterparts (SURVEY.md §2.5) — the engine primitive is
reduce(key, iterator<values>) (mapred/Reducer.java:166) plus the map-side
combiner (JobConf.setCombinerClass:879, run at spill MapTask.java:1298).
Spark's HashAggregate does partial (combiner) + final aggregation
automatically, so every helper here is a plain groupBy().agg() whose
physical plan already contains the map-side combine the reference made
users opt into.

  - LongValueSum/Max/Min, DoubleValueSum, StringValueMax/Min
                                       (mapred/lib/aggregate/*.java)
  - UniqValueCount                     (mapred/lib/aggregate/UniqValueCount.java:30)
  - ValueHistogram                     (mapred/lib/aggregate/ValueHistogram.java:33-168)
  - ValueAggregatorJob descriptors     (mapred/lib/aggregate/ValueAggregatorJob.java:110)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from hadoop_0_20_2_ljx_spark.pinning import pin


def word_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The canonical WordCount (examples/.../WordCount.java:61 uses a
    combiner; Spark's partial HashAggregate is that combiner, for free)."""
    return (
        df.select(F.explode(F.split(F.col(text_col), r"\s+")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .count()
        .withColumnRenamed("count", "cnt")
    )


def uniq_value_count(
    df: DataFrame, key: str | list[str], value: str, approx: bool = False, alias: str = "uniq_cnt"
) -> DataFrame:
    """UniqValueCount (:30): distinct values per key. The reference caps
    the in-memory set with maxNumItems (:36) — i.e. degrades to an
    approximation under pressure. approx=True is the honest Spark analog
    (HyperLogLog++, bounded memory at any scale); approx=False is exact."""
    keys = [key] if isinstance(key, str) else list(key)
    agg = (
        F.approx_count_distinct(value).alias(alias)
        if approx
        else F.countDistinct(value).alias(alias)
    )
    return df.groupBy(*keys).agg(agg)


def value_histogram(df: DataFrame, key: Column | str, item: Column | str) -> DataFrame:
    """ValueHistogram (:33-168): per key, the frequency distribution of
    items, reported as count / unique / min / max / median / avg / stddev
    of the per-item frequencies.

    Reference semantics notes (getReport :78, details :134):
      - 'median' is the middle element (index n/2) of the sorted frequency
        list, NOT an interpolated percentile — reproduced exactly via
        element_at(sort_array(...), n/2 + 1).
      - stddev is population stddev over frequencies.

    Two-level aggregation: (key,item) counts, then per-key stats — both
    levels get map-side partial aggregation; no value list is ever
    materialized per key (same streaming property as the reference's
    ReduceValuesIterator).
    """
    kc = F.col(key) if isinstance(key, str) else key
    ic = F.col(item) if isinstance(item, str) else item
    freqs = df.groupBy(kc.alias("hkey"), ic.alias("hitem")).agg(F.count("*").alias("freq"))
    return freqs.groupBy("hkey").agg(
        F.sum("freq").alias("n_items"),
        F.count("*").alias("n_unique"),
        F.min("freq").alias("min_freq"),
        F.max("freq").alias("max_freq"),
        F.element_at(
            F.sort_array(F.collect_list("freq")),
            (F.floor(F.count("*") / 2) + 1).cast("int"),
        ).alias("median_freq"),
        F.round(F.avg("freq"), 6).alias("avg_freq"),
        F.round(F.coalesce(F.stddev_pop("freq"), F.lit(0.0)), 6).alias("stddev_freq"),
    )


def multi_aggregate(df: DataFrame, key: str, exprs: dict[str, Column]) -> DataFrame:
    """ValueAggregatorJob: the descriptor-driven 'many aggregates in one
    pass' framework (~900 LoC in the reference) is a single groupBy().agg()
    with N expressions in Spark — one shuffle, all partials combined."""
    return df.groupBy(key).agg(*[c.alias(name) for name, c in exprs.items()])


def count_min_estimates(
    df: DataFrame, key_col: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """Count-Min Sketch frequency estimates (Cormode & Muthukrishnan 2005)
    next to the exact counts — the sketch companion to UniqValueCount's
    capped-distinct trade (mapred/lib/aggregate/UniqValueCount.java:36):
    bounded memory (depth x width counters) in exchange for one-sided
    overestimation error <= eps * N.

    Fully relational build: one explode to (row, bucket) pairs, one
    groupBy fills all depth counter rows in a single shuffle with map-side
    partial agg; the counter table (<= depth*width rows) re-enters as
    broadcast joins, so per-key estimation never shuffles the data again.
    Deterministic md5-derived bucket hashes (functions/portable.py) make
    the estimate itself exactly reproducible — in a cross-engine oracle,
    CMS estimates hash-match, they don't just bound-check.

    Returns (key, exact, cms_est); cms_est >= exact always (the CMS
    guarantee), equality when none of the key's depth buckets collide.
    """
    from hadoop_0_20_2_ljx_spark.functions.portable import md5_int_sql

    k = F.col(key_col).cast("string")

    def bucket(j: int) -> Column:
        cms_key = f"concat('cms{j}:', CAST(`{key_col}` AS STRING))"
        return F.expr(f"{md5_int_sql(cms_key, 8)} % {width}")

    rows = df.select(
        k.alias("k"), *[bucket(j).alias(f"b{j}") for j in range(depth)]
    )
    pairs = rows.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("j"), F.col(f"b{j}").alias("b"))
                    for j in range(depth)
                ]
            )
        ).alias("jb")
    ).select("jb.j", "jb.b")
    # materialize the <= depth*width counter table ONCE: it feeds `depth`
    # broadcast joins whose per-j filters defeat exchange reuse — without
    # the checkpoint each join's subtree re-exploded and re-scanned the
    # full corpus (depth+1 parquet scans in one plan -> 2).
    counters = (
        pairs.groupBy("j", "b").agg(F.count("*").alias("c")).transform(pin)
    )
    keyed = rows.groupBy("k", *[f"b{j}" for j in range(depth)]).agg(
        F.count("*").alias("exact")
    )
    est = keyed
    for j in range(depth):
        cj = counters.where(F.col("j") == j).select(
            F.col("b").alias(f"b{j}"), F.col("c").alias(f"c{j}")
        )
        est = est.join(F.broadcast(cj), f"b{j}")
    return est.select(
        "k",
        F.col("exact").cast("long").alias("exact"),
        F.least(*[F.col(f"c{j}") for j in range(depth)]).cast("long").alias("cms_est"),
    )
