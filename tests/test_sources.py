"""Source connectors: SequenceFile wire-format roundtrip."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from hadoop_0_20_2_ljx_spark import catalog
from hadoop_0_20_2_ljx_spark.sources.sequencefile import (
    read_array_file,
    read_map_file,
    read_sequence_file,
    read_set_file,
    sort_sequence_file,
    write_array_file,
    write_map_file,
    write_sequence_file,
    write_set_file,
)
from tests.conftest import SF_SMOKE

TMP = "/root/repo/.tmp/seqfile"


def test_sequence_file_roundtrip_text(spark):
    shutil.rmtree(TMP, ignore_errors=True)
    cust = catalog.load(spark, SF_SMOKE, "customer").select(
        F.col("c_name").cast("string"), F.col("c_mktsegment").cast("string")
    )
    write_sequence_file(cust, TMP, "c_name", "c_mktsegment")
    back = read_sequence_file(spark, TMP)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, cust.collect()))
    shutil.rmtree(TMP, ignore_errors=True)


def test_sequence_file_roundtrip_numeric(spark):
    shutil.rmtree(TMP, ignore_errors=True)
    orders = catalog.load(spark, SF_SMOKE, "orders").select("o_orderkey", "o_totalprice")
    write_sequence_file(orders, TMP, "o_orderkey", "o_totalprice")
    back = read_sequence_file(spark, TMP, "o_orderkey", "o_totalprice")
    assert back.schema["o_orderkey"].dataType.typeName() == "long"
    a = sorted(map(tuple, back.collect()))
    b = sorted(map(tuple, orders.collect()))
    assert len(a) == len(b)
    assert all(x[0] == y[0] and abs(x[1] - y[1]) < 1e-9 for x, y in zip(a, b))
    shutil.rmtree(TMP, ignore_errors=True)


def test_map_file_directory_roundtrip(spark):
    """MapFile layout: sorted data SequenceFile in a directory; reading
    the directory == reading its data member (io/MapFile.java:92-98)."""
    shutil.rmtree(TMP, ignore_errors=True)
    cust = catalog.load(spark, SF_SMOKE, "customer").select(
        F.col("c_name").cast("string"), F.col("c_mktsegment").cast("string")
    )
    write_map_file(cust, TMP, "c_name", "c_mktsegment")
    back = read_map_file(spark, TMP, "c_name", "c_mktsegment")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, cust.collect()))
    # the MapFile ordering contract: data is globally key-sorted
    keys = [r[0] for r in read_map_file(spark, TMP).collect()]
    assert keys == sorted(keys)
    shutil.rmtree(TMP, ignore_errors=True)


def test_set_file_roundtrip(spark):
    """SetFile = MapFile with NullWritable values (io/SetFile.java:27):
    the data member is a sorted DISTINCT key sequence."""
    shutil.rmtree(TMP, ignore_errors=True)
    cust = catalog.load(spark, SF_SMOKE, "customer").select(
        F.col("c_mktsegment").cast("string")
    )
    write_set_file(cust, TMP, "c_mktsegment")
    members = [r[0] for r in read_set_file(spark, TMP).collect()]
    expect = sorted({r[0] for r in cust.collect()})
    assert sorted(members) == expect
    assert len(members) == len(set(members))  # set semantics: no dups
    # ordering contract inherited from MapFile: data is key-sorted
    in_file_order = [r[0] for r in read_set_file(spark, TMP).collect()]
    assert in_file_order == sorted(in_file_order)
    shutil.rmtree(TMP, ignore_errors=True)


def test_array_file_roundtrip(spark):
    """ArrayFile = MapFile keyed by the append counter 0..n-1
    (io/ArrayFile.java:53-56); get(n) is a pushed-down idx filter."""
    shutil.rmtree(TMP, ignore_errors=True)
    cust = catalog.load(spark, SF_SMOKE, "customer").orderBy("c_custkey").select(
        F.col("c_name").cast("string")
    )
    names = [r[0] for r in cust.collect()]
    write_array_file(cust, TMP, "c_name")
    back = read_array_file(spark, TMP, value_name="c_name")
    got = {r["idx"]: r["c_name"] for r in back.collect()}
    assert sorted(got) == list(range(len(names)))
    assert [got[i] for i in range(len(names))] == names
    # point access get(7): a single-row filter on the index column
    assert back.filter(F.col("idx") == 7).collect()[0]["c_name"] == names[7]
    shutil.rmtree(TMP, ignore_errors=True)


def test_sorter_sort_and_merge(spark):
    """SequenceFile.Sorter (io/SequenceFile.java:2211): sort one unsorted
    file; merge two pre-sorted files — output part files are ordered,
    non-overlapping key ranges (part order = global order)."""
    import glob

    for d in (f"{TMP}_in_a", f"{TMP}_in_b", f"{TMP}_out"):
        shutil.rmtree(d, ignore_errors=True)
    cust = catalog.load(spark, SF_SMOKE, "customer").select(
        F.col("c_name").cast("string"), F.col("c_mktsegment").cast("string")
    )
    half_a = cust.filter(F.crc32(F.col("c_name")) % 2 == 0)
    half_b = cust.filter(F.crc32(F.col("c_name")) % 2 == 1)
    write_sequence_file(half_a.sort("c_name"), f"{TMP}_in_a", "c_name", "c_mktsegment")
    write_sequence_file(half_b.sort("c_name"), f"{TMP}_in_b", "c_name", "c_mktsegment")
    sort_sequence_file(spark, [f"{TMP}_in_a", f"{TMP}_in_b"], f"{TMP}_out")
    # global order: concatenating parts in name order yields sorted keys
    keys = []
    parts = sorted(
        p for p in glob.glob(f"{TMP}_out/part-*") if not p.endswith(".crc")
    )
    for p in parts:
        keys.extend(r[0] for r in read_sequence_file(spark, p).collect())
    assert keys == sorted(keys)
    assert sorted(keys) == sorted(r[0] for r in cust.collect())
    for d in (f"{TMP}_in_a", f"{TMP}_in_b", f"{TMP}_out"):
        shutil.rmtree(d, ignore_errors=True)


def test_sequence_file_compressed_roundtrip(spark):
    """zlib-compressed SequenceFiles (the reference's DefaultCodec) must
    roundtrip; the header must name the codec class so the reference
    reader would dispatch it identically."""
    import glob

    shutil.rmtree(TMP, ignore_errors=True)
    cust = catalog.load(spark, SF_SMOKE, "customer").select(
        F.col("c_name").cast("string"), F.col("c_mktsegment").cast("string")
    )
    write_sequence_file(cust, TMP, "c_name", "c_mktsegment", codec="default")
    parts = [p for p in glob.glob(f"{TMP}/part-*") if not p.endswith(".crc")]
    header = open(parts[0], "rb").read(4096)
    assert b"org.apache.hadoop.io.compress.DefaultCodec" in header
    back = read_sequence_file(spark, TMP)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, cust.collect()))
    shutil.rmtree(TMP, ignore_errors=True)


def test_bz2_single_file_is_splittable(spark, tmp_path):
    """The property gzip cannot have (reference BZip2Codec is a
    SplittableCompressionCodec; GzipCodec is not): ONE .bz2 text file
    must fan out into multiple input splits under a small
    maxPartitionBytes, while ONE .gz file of the same data stays a
    single task. Also proves no line is lost or torn at any split
    boundary (counts + content hash match the uncompressed source)."""
    from tests.conftest import SF_T2

    src = catalog.load(spark, SF_T2, "lineitem").select(
        F.concat_ws(
            "\t",
            F.col("l_orderkey").cast("string"),
            F.col("l_partkey").cast("string"),
            F.col("l_suppkey").cast("string"),
            F.col("l_linenumber").cast("string"),
            F.col("l_extendedprice").cast("string"),
            F.col("l_returnflag"),
            F.col("l_linestatus"),
        ).alias("value")
    )
    bz_path, gz_path = str(tmp_path / "bz2"), str(tmp_path / "gz")
    src.coalesce(1).write.option("compression", "bzip2").text(bz_path)
    src.coalesce(1).write.option("compression", "gzip").text(gz_path)

    conf = spark.conf
    old_max = conf.get("spark.sql.files.maxPartitionBytes")
    old_open = conf.get("spark.sql.files.openCostInBytes")
    try:
        # split arithmetic runs on COMPRESSED bytes; sf0.001 lineitem
        # compresses to ~100+ KB, so 16 KB ranges force >1 split
        conf.set("spark.sql.files.maxPartitionBytes", "16384")
        conf.set("spark.sql.files.openCostInBytes", "0")
        bz = spark.read.text(bz_path)
        gz = spark.read.text(gz_path)
        bz_parts = bz.rdd.getNumPartitions()
        gz_parts = gz.rdd.getNumPartitions()
        n_src = src.count()
        assert bz_parts > 1, f"bz2 single file did not split ({bz_parts} partition)"
        # gzip: the scan may PLAN multiple ranges but only the range
        # containing offset 0 emits rows (non-splittable codec reads
        # whole-file); correctness assertion below is the real gate
        assert bz.count() == n_src and gz.count() == n_src
        # content equality under splitting (no torn/duplicated lines)
        h = lambda df: df.agg(  # noqa: E731
            F.sum(F.crc32(F.col("value")) % 1000003).alias("h")
        ).first()["h"]
        assert h(bz) == h(src) == h(gz)
    finally:
        conf.set("spark.sql.files.maxPartitionBytes", old_max)
        conf.set("spark.sql.files.openCostInBytes", old_open)
