"""Distributed BPE (byte-pair-encoding) merge learning.

The tokenizer-training step of an LLM data pipeline: iteratively find
the most frequent adjacent symbol pair in the corpus vocabulary and
merge it. No reference counterpart (closest shape: iterative chained
jobs, mapred/jobcontrol/JobControl.java:141); expressed Spark-first as
one aggregate job per merge round.

Design for scale:
  - The corpus collapses to a (word, freq) VOCABULARY first (one
    shuffle over tokens); all rounds run over the vocabulary, whose
    size is corpus-independent (Heaps' law: millions of rows at 100 TB,
    not billions), so per-round cost is small and constant.
  - Each round: explode adjacent pairs -> groupBy(pair) sum(freq) with
    map-side partials -> orderBy(cnt desc, pair).limit(1) compiles to
    TakeOrderedAndProject (per-partition partial top-1, never a global
    sort). The driver receives exactly ONE row per round.
  - The merge is applied as a projection (no shuffle); lineage grows
    linearly in rounds — localCheckpoint if rounds get large.

Determinism contract (mirrored bit-for-bit by the DuckDB oracle in
queries/curation.py):
  - Ties break to the lexicographically SMALLEST pair.
  - The merge rewrites the space-separated symbol string with ONE
    non-overlapping left-to-right string replace over the
    space-sentineled form (' '||seq||' '). On odd runs of the same
    symbol this differs from canonical greedy BPE (which re-pairs as it
    walks) — deviation chosen because `replace` has identical semantics
    in Spark and DuckDB, making every round cross-engine exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_0_20_2_ljx_spark.extensions.textstats import tokens_sql
from hadoop_0_20_2_ljx_spark.pinning import pin


def _chars(word):
    """Symbol array: one single-character symbol per char (expressible
    identically in DuckDB as list_transform(range(...), substring))."""
    return F.transform(
        F.sequence(F.lit(1), F.length(word)), lambda i: F.substring(word, i, 1)
    )


def learn_bpe(
    df: DataFrame, text_col: str, n_merges: int = 6
) -> tuple[DataFrame, list[tuple[int, str, int]]]:
    """Learn `n_merges` BPE merges over the corpus vocabulary.

    Returns (merges_df, merges_list): one row per round with
    (rank, pair, merged, cnt). The DataFrame is rebuilt from the
    collected rows (they ARE the result — one row per round reaches the
    driver, the O(k) pattern of kmeans/clustering.py).
    """
    spark = df.sparkSession
    words = F.expr(tokens_sql(f"`{text_col}`"))
    vocab = (
        df.select(F.explode(words).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            F.concat(F.lit(" "), F.array_join(_chars(F.col("w")), " "), F.lit(" ")).alias(
                "seq"
            ),
            "freq",
        )
    )
    # All rounds scan the same small vocabulary: pin it once.
    vocab = vocab.transform(pin)

    merges: list[tuple[int, str, int]] = []
    for r in range(1, n_merges + 1):
        syms = F.split(F.trim(F.col("seq")), " ")
        # guard single-symbol words: sequence(0, -1) would count DOWN in
        # Spark, and ANSI element_at would throw on the out-of-range index
        pairs = F.when(
            F.size(syms) >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size(syms) - 2),
                lambda i: F.concat(
                    F.element_at(syms, i + 1), F.lit(" "), F.element_at(syms, i + 2)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        counted = (
            vocab.select(F.explode(pairs).alias("pair"), "freq")
            .groupBy("pair")
            .agg(F.sum("freq").cast("long").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("pair").asc())
            .limit(1)
        )
        row = counted.collect()
        if not row:
            break
        pair, cnt = row[0]["pair"], row[0]["cnt"]
        merged = pair.replace(" ", "")
        merges.append((r, pair, cnt))
        # no per-round checkpoint: the pinned base plus <= n_merges chained
        # replace projections is a shallow lineage, and skipping the eager
        # materialization job halves the per-round latency
        vocab = vocab.select(
            F.replace(
                F.col("seq"), F.lit(f" {pair} "), F.lit(f" {merged} ")
            ).alias("seq"),
            "freq",
        )

    out = spark.createDataFrame(
        [(r, p, p.replace(" ", ""), c) for r, p, c in merges],
        "rank int, pair string, merged string, cnt long",
    )
    return out, merges
