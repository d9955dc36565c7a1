"""Sort / partition / top-k operators.

Reference counterparts (SURVEY.md §2.4):
  - KeyFieldBasedComparator -k specs   (mapred/lib/KeyFieldBasedComparator.java:33-120)
  - TotalOrderPartitioner + InputSampler
                                       (mapred/lib/TotalOrderPartitioner.java:41,
                                        mapred/lib/InputSampler.java:89-418)
  - TeraSort                           (examples/.../terasort/TeraSort.java:50)
  - Secondary sort                     (mapred/JobConf.java:708,
                                        examples/.../SecondarySort.java:57)
  - Top-k (Grep job 2)                 (examples/.../Grep.java:71-84)

Scale notes: global sorts use orderBy, whose RangePartitioner does the
same sample-then-range-partition dance as TotalOrderPartitioner+
InputSampler, but distributed (no driver-collected partition file).
Secondary sort avoids per-key value materialization by sorting within
partitions after a hash repartition — the reference's exact execution
shape (partition by key, sort by (key, value)).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from hadoop_0_20_2_ljx_spark.pinning import pin


def key_field_sort(df: DataFrame, keys: list[tuple[str, bool, bool]]) -> DataFrame:
    """KeyFieldBasedComparator: sort(1)-style multi-field sort.

    keys: [(column, numeric, reverse)]. 'numeric' reproduces -n (numeric
    compare of a string field, KeyFieldBasedComparator.numericalCompare
    :112) via a double cast; 'reverse' is -r.

    NULL contract (r10 pin): ASC = NULLS FIRST, DESC = NULLS LAST —
    explicit, because the engines' defaults are OPPOSITE (Spark ASC is
    nulls-first, DuckDB ASC is nulls-last; queries/base.py). A null key
    sorts as the smallest value in both directions, the same contract
    the asof sweep pinned in r9; oracles must say NULLS FIRST/LAST
    explicitly in their ORDER BY.
    """
    order: list[Column] = []
    for col, numeric, reverse in keys:
        c = F.col(col).cast("double") if numeric else F.col(col)
        order.append(c.desc_nulls_last() if reverse else c.asc_nulls_first())
    return df.orderBy(*order)


_KEYSPEC_RE = re.compile(
    r"^(?:-k)?(?P<f1>\d+)(?:\.(?P<c1>\d+))?(?P<o1>[nr]*)"
    r"(?:,(?P<f2>\d+)(?:\.(?P<c2>\d+))?(?P<o2>[nr]*))?$"
)


def parse_key_spec(spec: str) -> dict:
    """Parse a sort(1)-style key spec ``-k pos1[,pos2]``, pos = f[.c][opts].

    Reference grammar: mapred/lib/KeyFieldHelper.java:31-39 — fields and
    chars are 1-based; ``.c`` defaults to 1 in pos1 and 0 (end of field) in
    pos2; pos2 omitted means end of line; opts are 'n' (numeric) and 'r'
    (reverse), allowed on either pos.
    """
    m = _KEYSPEC_RE.match(spec.strip())
    if not m:
        raise ValueError(f"bad key spec {spec!r}")
    opts = (m.group("o1") or "") + (m.group("o2") or "")
    return {
        "f1": int(m.group("f1")),
        "c1": int(m.group("c1") or 1),
        "f2": int(m.group("f2")) if m.group("f2") else None,
        "c2": int(m.group("c2") or 0),
        "numeric": "n" in opts,
        "reverse": "r" in opts,
    }


def key_field_slice(line: Column, spec: str, sep: str = "\t") -> Column:
    """The character slice a ``-k`` spec compares, as a Column.

    Offsets are computed over the raw line exactly like the reference
    (KeyFieldHelper.getStartOffset/getEndOffset operate on the key's bytes,
    so a char range larger than its field spills across separators —
    reproduced here by absolute substring arithmetic rather than per-field
    extraction). A start field beyond the last field yields ''.
    """
    k = parse_key_spec(spec)
    fields = F.split(line, re.escape(sep))

    def start_of(f: int) -> Column:
        # 1-based char position of field f's first char in the raw line.
        if f == 1:
            return F.lit(1)
        return F.length(F.array_join(F.slice(fields, 1, f - 1), sep)) + len(sep) + 1

    begin = start_of(k["f1"]) + (k["c1"] - 1)
    if k["f2"] is None:
        end = F.length(line)
    elif k["c2"] == 0:
        # end field entirely absent -> key runs to end of line (sort(1) /
        # KeyFieldHelper.getEndOffset); try_element_at because ANSI mode
        # makes a plain element_at OOB a runtime error, not NULL
        fld = F.coalesce(F.try_element_at(fields, F.lit(k["f2"])), F.lit(""))
        end = F.when(
            F.size(fields) >= k["f2"], start_of(k["f2"]) + F.length(fld) - 1
        ).otherwise(F.length(line))
    else:
        end = F.when(
            F.size(fields) >= k["f2"], start_of(k["f2"]) + (k["c2"] - 1)
        ).otherwise(F.length(line))
    sliced = F.when(
        F.size(fields) >= k["f1"],
        F.substring(line, begin, F.greatest(end - begin + 1, F.lit(0))),
    ).otherwise(F.lit(""))
    return sliced


def key_field_order_columns(line: Column, specs: list[str], sep: str = "\t") -> list[Column]:
    """Ordering columns (asc/desc applied) for a list of ``-k`` specs.

    Numeric ('n') parses the leading decimal of the slice (sort(1)
    semantics: non-numeric compares as 0) — reference
    KeyFieldBasedComparator.numericalCompare:112-180.
    """
    order: list[Column] = []
    for spec in specs:
        k = parse_key_spec(spec)
        c: Column = key_field_slice(line, spec, sep)
        if k["numeric"]:
            num = F.regexp_extract(c, r"^\s*(-?\d+(?:\.\d+)?)", 1)
            # ANSI-safe: regexp_extract yields '' on no match, which a bare
            # double cast rejects; sort(1) compares non-numerics as 0.
            c = F.when(num != "", num.cast("double")).otherwise(F.lit(0.0))
        order.append(c.desc() if k["reverse"] else c.asc())
    return order


def total_order_sort(df: DataFrame, *cols: str, num_partitions: int | None = None) -> DataFrame:
    """TotalOrderPartitioner + InputSampler + sort, in one declarative op.

    orderBy's RangePartitioner samples keys (like InputSampler.RandomSampler
    :162), computes split points (like writePartitionFile :314), range-
    partitions, then sorts within partitions — output files are globally
    ordered, the TeraSort contract. No driver-side partition file.
    """
    if num_partitions:
        return df.repartitionByRange(num_partitions, *cols).sortWithinPartitions(*cols)
    return df.orderBy(*cols)


def with_global_row_number(df: DataFrame, order: list[Column], rn_col: str = "rn") -> DataFrame:
    """Global 1-based rank WITHOUT a global window (which would move every
    row to one partition — the WindowExec single-partition trap).

    Two-pass zipWithIndex shape: range-partition by the order, rank within
    each partition (window partitioned by pid — stays parallel), then add
    per-partition offsets. The offsets pass collects O(num_partitions)
    rows, never data. Rows tied on the full `order` may receive either of
    their ranks (as with any total sort over a non-unique key).

    The ranged frame is localCheckpoint-ed (eager) so the counts pass and
    the rank pass see the SAME partition assignment — without it, AQE may
    coalesce the range exchange differently per job and the offsets would
    not match. Materialization is the price of rank consistency (the same
    one zipWithIndex pays via deterministic recomputation).
    """
    spark = df.sparkSession
    n_part = spark.sparkContext.defaultParallelism
    ranged = (
        df.repartitionByRange(n_part, *order)
        .withColumn("_pid", F.spark_partition_id())
        .transform(pin)
    )
    counts = ranged.groupBy("_pid").count().collect()
    offsets: list[Column] = []
    acc = 0
    for r in sorted(counts, key=lambda r: r["_pid"]):
        offsets.extend([F.lit(int(r["_pid"])), F.lit(acc)])
        acc += r["count"]
    # Empty input => no offsets; a zero-arg create_map() is VOID-keyed
    # and fails analysis when indexed (a filter-to-zero slice at scale
    # must flow through as zero rows, not crash the job).
    if offsets:
        off = F.coalesce(F.create_map(*offsets)[F.col("_pid")], F.lit(0))
    else:
        off = F.lit(0)
    from pyspark.sql.window import Window

    w = Window.partitionBy("_pid").orderBy(*order)
    return ranged.withColumn(
        rn_col, (F.row_number().over(w) + off).cast("long")
    ).drop("_pid")


def secondary_sort_stream(df: DataFrame, group_key: str, *order_cols: Column) -> DataFrame:
    """Secondary sort, streaming form: hash-partition by group key, sort
    within partitions by (key, value) — byte-for-byte the reference's
    physical plan (partitioner on key, sort comparator on composite,
    grouping comparator on key; ReduceTask.ReduceValuesIterator:227).
    Downstream per-group iteration (e.g. mapInPandas) sees each group
    contiguous and internally ordered, with nothing materialized per key.
    """
    return df.repartition(F.col(group_key)).sortWithinPartitions(F.col(group_key), *order_cols)


def top_k(df: DataFrame, order_cols: list[Column], k: int) -> DataFrame:
    """Grep's job 2: single reducer + descending sort + head. Spark's
    orderBy().limit() compiles to TakeOrderedAndProject — each partition
    keeps a k-heap, the driver merges k*P rows. No single-reducer
    bottleneck at any scale."""
    return df.orderBy(*order_cols).limit(k)
