"""Fixture-table catalog.

The reference locates datasets as file-system paths handed to
FileInputFormat.setInputPaths (mapred/FileInputFormat.java:282-327); we
expose the same idea as a tiny catalog over a parquet directory.

A job's record types are fixed once in the reference (its JobConf and the
SequenceFile header); no job goes back to discover them. Spark instead
infers a parquet schema on every ``spark.read.parquet(path)`` with a
one-task job (ParquetFileFormat.inferSchema -> mergeSchemasInParallel),
even for one footer. ``load`` therefore infers each table's schema once
per session and hands it to ``spark.read.schema(...)`` on every later
load, which plans the scan without a job. Only the schema is cached,
never the DataFrame: every load must get fresh attribute ids, or a
self-join (q21 scans lineitem three times) could not tell its sides apart.
Load fixture tables only through ``load``.
"""

from __future__ import annotations

import os
import stat
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Fixture parquet stores TIMESTAMP(NANOS,false). Depending on the Spark
# build these arrive either as long nanos (spark.sql.legacy.parquet.
# nanosAsLong, pre-4.1) or natively as TIMESTAMP_NTZ truncated to micros
# (4.1+, where the legacy conf is inert). Both are normalized here to a
# session-TZ TIMESTAMP at micro precision; truncation is floor in both
# paths (integer `div 1000` / Spark's native nanos->micros drop), matching
# DuckDB's TIMESTAMP_NS -> TIMESTAMP truncation so oracles stay comparable.
_TS_COLUMNS = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
}


# The SQL confs that change the schema Spark infers from one footer: the
# eight that Spark 4.1's ParquetToSparkSchemaConverter reads. (mergeSchema
# and respectSummaryFiles only choose among several files' footers, and
# only single-file tables are cached.)
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.caseSensitive",
)

# session -> {path: (stamp, schema)}; stamp = the file's (path, size,
# mtime) and the _SCHEMA_CONFS values the schema was inferred under. One
# entry per path: a rewritten table replaces its stale schema.
_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _file_stamp(path: str) -> tuple | None:
    """(path, size, st_mtime_ns) of the parquet file at ``path``, or None
    when os.stat cannot see a regular file there (a remote URI, a missing
    file, a directory table)."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (path, st.st_size, st.st_mtime_ns) if stat.S_ISREG(st.st_mode) else None


def _read_parquet(spark: SparkSession, path: str) -> tuple[DataFrame, StructType]:
    """``spark.read.parquet(path)`` and its schema, inferring the schema
    at most once per session, file state and schema confs; a path with no
    file stamp is inferred on every read."""
    file = _file_stamp(path)
    if file is None:
        df = spark.read.parquet(path)
        return df, df.schema
    stamp = (file, tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS))
    cache = _SCHEMAS.setdefault(spark, {})
    hit = cache.get(path)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path), hit[1]
    df = spark.read.parquet(path)
    cache[path] = (stamp, df.schema)
    return df, cache[path][1]


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Parquet scan == SequenceFileInputFormat
    (mapred/SequenceFileInputFormat.java:36) in the reference's role of
    'the container format scan'; Catalyst gives pushdown/pruning on top.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    df, schema = _read_parquet(spark, table_path(sf_dir, name))
    for c in _TS_COLUMNS.get(name, ()):
        dt = schema[c].dataType.simpleString() if c in schema.names else None
        if dt == "bigint":
            # integer `div`, not float `/`: epoch nanos (~1.7e18) exceed a
            # double's 2^53 exact range, so float division is off by ±1us
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif dt == "timestamp_ntz":
            # session TZ is pinned to UTC, so NTZ -> LTZ is identity on the
            # epoch value; unix_micros/window functions need LTZ TIMESTAMP
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df
