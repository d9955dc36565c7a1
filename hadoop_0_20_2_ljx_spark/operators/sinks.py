"""Sink operators.

Reference counterparts (SURVEY.md §2.2):
  - TextOutputFormat                (mapred/TextOutputFormat.java:40)
  - SequenceFileOutputFormat        (mapred/SequenceFileOutputFormat.java:41)
  - MapFileOutputFormat             (mapred/MapFileOutputFormat.java:39)
  - MultipleOutputFormat            (mapred/lib/MultipleOutputFormat.java:51)
  - MultipleOutputs named outputs   (mapred/lib/MultipleOutputs.java:70-104)

All writes go through Spark's committer (the reference's
FileOutputCommitter _temporary staging protocol is literally the ancestor
of Spark's). Parquet is the SequenceFile successor: columnar, splittable,
predicate-pushdown-able.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_text_kv(df: DataFrame, path: str, sep: str = "\t") -> None:
    """TextOutputFormat: key<sep>value lines (separator knob
    mapred.textoutputformat.separator:116 -> the csv sep option)."""
    # coalesce to '' per column: concat_ws silently drops NULL fields AND
    # their separators, which would shift every later field on re-read;
    # Hadoop TextOutputFormat never collapses delimiters.
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("")) for c in df.columns]
    df.select(F.concat_ws(sep, *cols).alias("value")).write.mode("overwrite").text(path)


def read_text_kv(spark: SparkSession, path: str, schema: str, sep: str = "\t") -> DataFrame:
    """Re-read TextOutputFormat output with a typed schema (the
    KeyValueTextInputFormat round trip)."""
    return spark.read.csv(path, sep=sep, schema=schema)


def write_parquet(df: DataFrame, path: str, codec: str = "snappy") -> None:
    """SequenceFileOutputFormat: K/V container with compression-type knob
    (:211-217) -> parquet with a codec option."""
    df.write.mode("overwrite").option("compression", codec).parquet(path)


def write_sorted_keyed(df: DataFrame, path: str, key: str, num_ranges: int = 4) -> None:
    """MapFileOutputFormat: sorted, point-lookup-able output.

    Range-partition by key then sort within partitions: every file is a
    sorted key range, and parquet row-group min/max stats are the MapFile
    index — a point lookup prunes to one file + one row group
    (MapFile.seekInternal:415 ≅ pushed-down key predicate).
    """
    df.repartitionByRange(num_ranges, key).sortWithinPartitions(key).write.mode(
        "overwrite"
    ).parquet(path)


def lookup_keyed(spark: SparkSession, path: str, key: str, value) -> DataFrame:
    """MapFileOutputFormat.getEntry: point lookup via pushdown filter."""
    return spark.read.parquet(path).filter(F.col(key) == value)


def write_partitioned(df: DataFrame, path: str, partition_col: str) -> None:
    """MultipleOutputFormat: route rows to files by a derived name ->
    partitionBy directory layout (also buys partition pruning on re-read,
    which the reference never had)."""
    df.write.mode("overwrite").partitionBy(partition_col).parquet(path)


def write_named_outputs(df: DataFrame, base_path: str, routes: dict[str, F.Column]) -> dict[str, str]:
    """MultipleOutputs (addNamedOutput/getCollector :70-104): N named side
    outputs from ONE physical pass.

    Each row is tagged with the array of route names whose predicate it
    satisfies (a row matching several routes is written to each, exactly
    like emitting to several collectors), exploded, and written once with
    ``partitionBy`` on the route tag. One scan, one write job, no caching
    of the source — at 100 TB the cache-then-rescan-per-route form would
    re-read the full input N times (or spill the cache); this is a single
    pass regardless of route count. Rows matching no route are dropped,
    matching MultipleOutputs semantics.

    Returns {name: path} where each path re-reads as the original schema
    (the route tag is a partition directory, not a data column).
    """
    tags = F.array_compact(
        F.array(*[F.when(pred, F.lit(name)) for name, pred in routes.items()])
    )
    routed = df.withColumn("_tags", tags).select(
        "*", F.explode("_tags").alias("_named_output")
    ).drop("_tags")
    routed.write.mode("overwrite").partitionBy("_named_output").parquet(base_path)
    return {name: f"{base_path}/_named_output={name}" for name in routes}


def zorder_value_expr(
    col_a: str,
    col_b: str,
    bounds: tuple[int, int, int, int],
    bits: int = 8,
) -> "Column":
    """Morton (Z-order) code of two integer columns, each first SCALED
    into the same `bits`-wide range from its (min, max) `bounds` — the
    multi-dimensional data-skipping layout. Scaling is what makes it
    work: interleaving raw low bits lets the wider-ranged column
    dominate the high code bits, and files then tile only that one
    dimension (exactly what Delta's OPTIMIZE ZORDER avoids by using
    range ids per column). Sorting by the scaled-interleaved code makes
    every output file's min/max rectangle narrow on BOTH dimensions, so
    parquet file/row-group pruning works for filters on either column —
    a plain sort only skips on its leading column.

    Scaling is integer arithmetic (exact, deterministic); the whole code
    is built as ONE parsed SQL expression instead of ~4*bits
    Column-operator nodes (each Column op is a py4j round-trip —
    CLAUDE.md).
    """
    lo_a, hi_a, lo_b, hi_b = bounds
    top = (1 << bits) - 1

    def scaled(col: str, lo: int, hi: int) -> str:
        return (
            f"(((CAST({col} AS BIGINT) - {lo}) * {top}) DIV {max(hi - lo, 1)})"
        )

    a = scaled(col_a, lo_a, hi_a)
    b = scaled(col_b, lo_b, hi_b)
    terms = []
    for i in range(bits):
        terms.append(f"(shiftleft(shiftright({a}, {i}) & 1, {2 * i}))")
        terms.append(f"(shiftleft(shiftright({b}, {i}) & 1, {2 * i + 1}))")
    return F.expr(" + ".join(terms))


def write_zordered(
    df: DataFrame, path: str, col_a: str, col_b: str, num_files: int = 8
) -> None:
    """Write `df` as parquet laid out in Z-order on (col_a, col_b):
    range-partition by the scaled morton code (so files tile the 2-D key
    space) and sort within each partition (so row groups tile it too).
    Purely a LAYOUT decision — bytes/rows are unchanged, which the
    round-trip query proves; the skipping win is that every file's
    (min, max) rectangle is small on both dimensions, asserted in
    tests/test_scale_properties.py. The column bounds are a 1-row
    aggregate fetched to the driver — an O(1) bounded summary, same
    class as terasort's partition boundaries."""
    lo_a, hi_a, lo_b, hi_b = df.agg(
        F.min(col_a), F.max(col_a), F.min(col_b), F.max(col_b)
    ).first()
    if lo_a is None or lo_b is None:  # empty input: nothing to order
        df.write.mode("overwrite").parquet(path)
        return
    z = zorder_value_expr(
        col_a, col_b, (int(lo_a), int(hi_a), int(lo_b), int(hi_b))
    ).alias("_z")
    (
        df.withColumn("_z", z)
        .repartitionByRange(num_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )
