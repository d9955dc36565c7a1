"""Fixture-table catalog.

The reference locates datasets as file-system paths handed to
FileInputFormat.setInputPaths (mapred/FileInputFormat.java:282-327); we
expose the same idea as a tiny catalog over a parquet directory, plus
temp-view registration so Spark SQL can address tables by name.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

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


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Parquet scan == SequenceFileInputFormat
    (mapred/SequenceFileInputFormat.java:36) in the reference's role of
    'the container format scan'; Catalyst gives pushdown/pruning on top.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    df = spark.read.parquet(table_path(sf_dir, name))
    for c in _TS_COLUMNS.get(name, ()):
        dt = dict(df.dtypes).get(c)
        if dt == "bigint":
            # integer `div`, not float `/`: epoch nanos (~1.7e18) exceed a
            # double's 2^53 exact range, so float division is off by ±1us
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif dt == "timestamp_ntz":
            # session TZ is pinned to UTC, so NTZ -> LTZ is identity on the
            # epoch value; unix_micros/window functions need LTZ TIMESTAMP
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def listing(sf_dir: str = DEFAULT_SF_DIR) -> list[dict]:
    """FsShell-style thin catalog listing (the `ls/du/count` subset of
    core/fs/FsShell.java:1424-1472 that a catalog needs): per table, file
    count, total bytes, and row count.

    Row counts come from parquet FOOTER metadata (pyarrow), not a scan —
    the same O(files) metadata-only cost at any data scale, no Spark job.
    """
    import pyarrow.parquet as pq

    out: list[dict] = []
    for name in TABLES:
        path = table_path(sf_dir, name)
        files: list[str] = []
        if os.path.isdir(path):
            for root, _dirs, fnames in os.walk(path):
                files.extend(
                    os.path.join(root, f)
                    for f in fnames
                    if f.endswith(".parquet") or f.startswith("part-")
                )
        elif os.path.exists(path):
            files = [path]
        else:
            continue
        n_bytes = sum(os.path.getsize(f) for f in files)
        n_rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        out.append(
            {"table": name, "n_files": len(files), "n_bytes": n_bytes, "n_rows": n_rows}
        )
    return out
