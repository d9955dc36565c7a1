"""Set / dedup operators.

Reference counterparts (SURVEY.md §2.7): union = multi-path input
(mapred/FileInputFormat.java:282-327); dedup = reduce emitting each key
once (mapred/lib/aggregate/UniqValueCount.java:30). Sampling is the
scan-time MD5Filter (operators/scans.md5_filter). intersect/except are
engine extras (only hand patterns in the reference).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def bag_union(*dfs: DataFrame) -> DataFrame:
    """Multi-path input: bag (ALL) union — duplicates preserved."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def dedup(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """distinct / dropDuplicates — a shuffle on the dedup key with
    map-side partial dedup (Catalyst plans partial+final HashAggregate,
    the combiner pattern)."""
    return df.dropDuplicates(subset) if subset else df.distinct()


def intersect_all_keys(a: DataFrame, b: DataFrame) -> DataFrame:
    """INTERSECT (set semantics)."""
    return a.intersect(b)


def except_keys(a: DataFrame, b: DataFrame) -> DataFrame:
    """EXCEPT (set semantics)."""
    return a.subtract(b)
