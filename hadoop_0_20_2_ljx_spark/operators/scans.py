"""Scan-side operators.

Reference counterparts (see SURVEY.md §2.1):
  - TextInputFormat / LineRecordReader  (mapred/TextInputFormat.java:35)
  - KeyValueTextInputFormat             (mapred/KeyValueTextInputFormat.java:34,
                                         KeyValueLineRecordReader.java:59-87)
  - SequenceFileInputFilter: MD5Filter
                                        (mapred/SequenceFileInputFilter.java:93-280)
  - MultipleInputs + DelegatingMapper   (mapred/lib/MultipleInputs.java:34)

All are declarative DataFrame ops so Catalyst pushes filters/pruning into
the parquet scan — at 100 TB the sampling filters below run inside the
scan (PushedFilters), never as a post-scan Python pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hadoop_0_20_2_ljx_spark.functions.portable import md5_int_sql


def text_lines(df: DataFrame, text_col: str = "text") -> DataFrame:
    """TextInputFormat view: one row per line with a byte-offset-like id.

    The reference emits (offset:long, line:text); we expose (line_id, line).
    """
    return df.select(
        F.monotonically_increasing_id().alias("line_id"),
        F.col(text_col).alias("line"),
    )


def kv_split(df: DataFrame, text_col: str, sep: str = "\t") -> DataFrame:
    """KeyValueTextInputFormat: split each line at the FIRST separator.

    Reference: KeyValueLineRecordReader.findSeparator/:87 — key = bytes
    before first sep, value = rest (whole line -> key, empty value when no
    separator is present; same here via substring arithmetic).

    ``sep`` is a LITERAL byte string (the reference's
    key.value.separator.in.input.line), never a regex — unlike
    field_selection, whose separator is a regex by documented contract.
    Built entirely from Column functions, so separators containing quotes
    and column names needing backticks are safe.
    """
    line = F.col(text_col)
    key = F.substring_index(line, sep, 1)
    value = F.when(
        F.length(line) > F.length(key),
        line.substr(F.length(key) + len(sep) + 1, F.length(line)),
    ).otherwise(F.lit(""))
    return df.select(key.alias("key"), value.alias("value"))


def md5_filter(df: DataFrame, col: str, freq: int) -> DataFrame:
    """SequenceFileInputFilter.MD5Filter (:195): keep records whose
    MD5(key) % freq == 0. Bit-identical to the DuckDB oracle via the
    md5-derived portable hash."""
    return df.filter(F.expr(md5_int_sql(f"`{col}`", 8)) % freq == 0)


def spread(df: DataFrame, min_parallelism: int | None = None) -> DataFrame:
    """Ensure at least `min_parallelism` partitions before a CPU-heavy
    per-row stage.

    A small parquet file scans as ONE split, so expression-heavy projections
    (simhash, shingling, cosine) run single-threaded locally. Conditional:
    at 100 TB the input already has >> defaultParallelism splits and this is
    a no-op — no shuffle is added where it would hurt.
    """
    target = min_parallelism or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def multi_input_union(*tagged: tuple[DataFrame, Column | None]) -> DataFrame:
    """MultipleInputs (mapred/lib/MultipleInputs.java:34): per-source
    mapper then a single shuffle. Spark-first: per-source select (the
    'mapper') then unionByName; each input keeps its own pushdown."""
    outs = []
    for df, tag in tagged:
        outs.append(df.withColumn("_src", tag if tag is not None else F.lit("")))
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    return result
