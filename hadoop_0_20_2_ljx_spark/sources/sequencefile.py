"""SequenceFile compat: read/write the reference's native K/V container.

Reference: io/SequenceFile.java:186 (Writer :779, Reader :1353) — flat
binary key/value files whose header records the key/value class names
(io/SequenceFile.java:1462-1481). Spark ships the Hadoop I/O layer, so
``sc.sequenceFile`` / ``saveAsSequenceFile`` give genuine wire-format
compatibility: files written here are readable by the reference engine
and vice versa (primitive Writables: Text, IntWritable, LongWritable,
DoubleWritable, BytesWritable auto-convert).

This is deliberately the ONLY place the engine drops to the RDD layer —
the format is row-oriented K/V, there is no columnar projection to push
down, and the conversion cost is the price of wire compat. The idiomatic
container for everything else is Parquet (SURVEY.md §1.5); a typical
migration reads SequenceFiles once and rewrites Parquet.

Scale: both directions stream per-partition (no driver materialization);
read parallelism follows HDFS splits exactly as the reference's
SequenceFileInputFormat (mapred/SequenceFileInputFormat.java:36).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


# io/SequenceFile.java ships DefaultCodec(zlib)/GzipCodec/BZip2Codec;
# record- vs block-compression is a writer config, readers dispatch off
# the header either way (SequenceFile.java:1462-1481).
_CODECS = {
    "default": "org.apache.hadoop.io.compress.DefaultCodec",
    "gzip": "org.apache.hadoop.io.compress.GzipCodec",
    "bzip2": "org.apache.hadoop.io.compress.BZip2Codec",
}


def write_sequence_file(
    df: DataFrame, path: str, key_col: str, value_col: str, codec: str | None = None
) -> None:
    """Write a two-column DataFrame as a Hadoop SequenceFile.

    Key/value Spark types map to the corresponding Writables (str -> Text,
    int -> LongWritable, float -> DoubleWritable, bytes -> BytesWritable).
    ``codec`` ∈ {default (zlib), gzip, bzip2} compresses on write; reads
    are codec-transparent (the file header names the codec class, exactly
    as the reference reader dispatches).
    """
    rdd = df.select(key_col, value_col).rdd.map(tuple)
    if codec is None:
        rdd.saveAsSequenceFile(path)
    else:
        rdd.saveAsSequenceFile(path, compressionCodecClass=_CODECS.get(codec, codec))


def read_sequence_file(
    spark: SparkSession,
    path: str,
    key_name: str = "key",
    value_name: str = "value",
    min_partitions: int | None = None,
) -> DataFrame:
    """Read a Hadoop SequenceFile into a two-column DataFrame.

    Key/value classes come from the file header, as in the reference's
    reader (io/SequenceFile.java:1462-1481) — no schema needs declaring.
    """
    rdd = spark.sparkContext.sequenceFile(path, minSplits=min_partitions)
    return rdd.toDF([key_name, value_name])


def read_map_file(
    spark: SparkSession,
    path: str,
    key_name: str = "key",
    value_name: str = "value",
) -> DataFrame:
    """Read an existing MapFile (or BloomMapFile) DIRECTORY.

    A MapFile is a directory whose ``data`` member is a plain SequenceFile
    sorted by key (io/MapFile.java:92-98); ``index`` (and BloomMapFile's
    ``bloom``, io/BloomMapFile.java:38) only accelerate random access,
    which a distributed full scan never uses — point lookups become
    pushed-down filters instead. So migration-reading the directory is
    exactly reading its data file.
    """
    return read_sequence_file(spark, f"{path}/data", key_name, value_name)


def write_map_file(df: DataFrame, path: str, key_col: str, value_col: str) -> None:
    """Write a MapFile-layout directory the reference can open.

    Writes the ``data`` SequenceFile globally key-sorted (the MapFile
    ordering contract, MapFile.Writer.append:219 enforces it). The offset
    ``index`` can't be produced through the RDD write path (byte offsets
    are private to the record writer); the reference regenerates it with
    the standard repair utility ``MapFile.fix()`` (io/MapFile.java:640),
    whose documented purpose is rebuilding a missing index from data.
    """
    df.select(key_col, value_col).sort(key_col).rdd.map(tuple).saveAsSequenceFile(
        f"{path}/data"
    )


def write_set_file(df: DataFrame, path: str, key_col: str) -> None:
    """Write a SetFile-layout directory (key-only sorted set).

    Reference: io/SetFile.java:27 — a MapFile whose value class is
    NullWritable (SetFile.Writer:41 passes ``NullWritable.class``;
    append:61-62 pairs every key with ``NullWritable.get()``). A set is
    therefore a sorted, DISTINCT key sequence; Python ``None`` converts to
    NullWritable through the same Pyrolite path the other primitives use,
    so the data member is byte-for-byte what SetFile.Writer emits.
    """
    (
        df.select(key_col)
        .distinct()
        .sort(key_col)
        .rdd.map(lambda r: (r[0], None))
        .saveAsSequenceFile(f"{path}/data")
    )


def read_set_file(spark: SparkSession, path: str, key_name: str = "key") -> DataFrame:
    """Read a SetFile directory as a one-column DataFrame of its members.

    Mirrors SetFile.Reader (io/SetFile.java:67): values are NullWritable
    and carry no information, so only keys surface.
    """
    rdd = spark.sparkContext.sequenceFile(f"{path}/data").map(lambda kv: (kv[0],))
    return rdd.toDF([key_name])


def write_array_file(df: DataFrame, path: str, value_col: str) -> None:
    """Write an ArrayFile-layout directory (long-indexed value sequence).

    Reference: io/ArrayFile.java:29 — a MapFile keyed by a LongWritable
    append counter (Writer.append:53-56 emits ``(count++, value)``), i.e.
    keys are exactly 0..n-1 in row order. ``zipWithIndex`` assigns the
    same dense 0-based ids in DataFrame order, distributed (one count-only
    job for partition offsets, no data to the driver).
    """
    (
        df.select(value_col)
        .rdd.map(lambda r: r[0])
        .zipWithIndex()
        .map(lambda vi: (vi[1], vi[0]))
        .saveAsSequenceFile(f"{path}/data")
    )


def read_array_file(
    spark: SparkSession,
    path: str,
    value_name: str = "value",
    index_name: str = "idx",
) -> DataFrame:
    """Read an ArrayFile directory as (idx, value).

    The LongWritable position key (ArrayFile.Reader.key:82) becomes an
    explicit column so ``get(n)`` point access is a pushable filter and
    ``seek`` is an ``idx >= n`` range predicate.
    """
    rdd = spark.sparkContext.sequenceFile(f"{path}/data")
    return rdd.toDF([index_name, value_name])


def sort_sequence_file(
    spark: SparkSession,
    in_paths: str | list[str],
    out_path: str,
) -> None:
    """SequenceFile.Sorter parity: sort (or merge) K/V files by key.

    Reference: io/SequenceFile.java Sorter:2211 — external merge sort of
    one or more SequenceFiles into a key-ordered output (``sort``:2270,
    ``merge``:2648; pre-sorted inputs are just the k-way merge case of the
    same plan, so one entry point covers both). Here the heavy machinery
    (spill runs, RawKeyValueIterator heap) is Spark's sort-based shuffle:
    ``repartitionByRange`` samples split points exactly like the
    reference's InputSampler and each output part file is an ordered,
    non-overlapping key range — part order IS global order, the same
    contract TeraSort's output directory satisfies.
    """
    paths = [in_paths] if isinstance(in_paths, str) else list(in_paths)
    df = None
    for p in paths:
        part = read_sequence_file(spark, p)
        df = part if df is None else df.unionByName(part)
    key = df.columns[0]
    df.repartitionByRange(df.rdd.getNumPartitions(), key).sortWithinPartitions(
        key
    ).rdd.map(tuple).saveAsSequenceFile(out_path)
