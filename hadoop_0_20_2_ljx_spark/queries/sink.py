"""Declared queries: sinks (Q-sink-1..5, SURVEY.md §2.2).

Each query exercises a real write + re-read round trip through Spark's
committer, then returns an aggregate the DuckDB oracle reproduces straight
from the source table — proving the sink lost/changed nothing.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hadoop_0_20_2_ljx_spark.functions.portable import md5_int_sql
from hadoop_0_20_2_ljx_spark.operators import sinks
from hadoop_0_20_2_ljx_spark.queries.base import QueryDef, T, h32_sql, scratch_dir


def _tmp(name: str) -> str:
    # pid-suffixed + atexit-cleaned (queries/base.py:scratch_dir)
    return scratch_dir(name)


# --- Q-sink-1: TextOutputFormat round trip -----------------------------------
def _sink_text_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    src = T(spark, sf, "orders").select("o_orderkey", "o_orderstatus")
    path = _tmp("q_sink_text")
    sinks.write_text_kv(src, path, sep="\t")
    back = sinks.read_text_kv(spark, path, "o_orderkey long, o_orderstatus string", sep="\t")
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"), F.sum(F.col("o_orderkey") % 1000003).alias("key_sum")
    )


# --- Q-sink-2: SequenceFile(parquet) round trip ------------------------------
def _sink_parquet_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    src = T(spark, sf, "orders").groupBy("o_orderpriority").agg(
        F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total")
    )
    path = _tmp("q_sink_parquet")
    sinks.write_parquet(src, path, codec="snappy")
    return spark.read.parquet(path)


# --- Q-sink-3: MapFileOutputFormat sorted write + point lookup ---------------
def _sink_sorted_lookup(spark: SparkSession, sf: str) -> DataFrame:
    src = T(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    path = _tmp("q_sink_sorted")
    sinks.write_sorted_keyed(src, path, key="o_orderkey", num_ranges=4)
    return sinks.lookup_keyed(spark, path, "o_orderkey", 777).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


# --- Q-sink-4: MultipleOutputFormat partitionBy ------------------------------
def _sink_partitioned(spark: SparkSession, sf: str) -> DataFrame:
    src = T(spark, sf, "lineitem").select("l_orderkey", "l_quantity", "l_returnflag")
    path = _tmp("q_sink_partitioned")
    sinks.write_partitioned(src, path, "l_returnflag")
    # explicit schema: reading back a possibly-empty partitioned write
    # must not depend on inferring the schema from data files (an empty
    # slice writes zero partition dirs)
    back = spark.read.schema(src.schema).parquet(path)
    return back.groupBy("l_returnflag").agg(
        F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty")
    )


# --- Q-sink-5: MultipleOutputs named side outputs ----------------------------
def _sink_named_outputs(spark: SparkSession, sf: str) -> DataFrame:
    src = T(spark, sf, "orders")
    base = _tmp("q_sink_named")
    paths = sinks.write_named_outputs(
        src,
        base,
        {"fulfilled": F.col("o_orderstatus") == "F", "open": F.col("o_orderstatus") == "O"},
    )
    outs = []
    for name, p in sorted(paths.items()):
        outs.append(
            # explicit schema: an output whose predicate matched nothing
            # has no data files to infer from
            spark.read.schema(src.schema).parquet(p).agg(
                F.lit(name).alias("output_name"),
                F.count("*").alias("n"),
                F.sum(F.col("o_orderkey") % 1000003).alias("key_sum"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# --- Q-sink-7: TFile container round trip ------------------------------------
def _sink_tfile_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Write orders as sorted TFiles (one per partition — the reference's
    reducer-output layout), re-read them block-parallel through the
    BCFile/TFile index machinery, and prove the container lossless with an
    aggregate the oracle computes from parquet
    (io/file/tfile/TFile.java:128, BCFile.java:614)."""
    from hadoop_0_20_2_ljx_spark.sources import tfile

    src = T(spark, sf, "orders").select(
        # zero-padded text key: memcmp order == numeric order (the TFile
        # sorted-container contract with the default memcmp comparator)
        F.format_string("%012d", F.col("o_orderkey")).alias("k"),
        F.col("o_orderstatus").alias("v"),
    )
    path = _tmp("q_sink_tfile")
    tfile.write_tfile_dir(src.repartition(4, "k"), path, "k", "v")
    back = tfile.read_tfile_dir(spark, path)
    return (
        back.select(
            F.decode("key", "UTF-8").cast("long").alias("okey"),
            F.decode("value", "UTF-8").alias("status"),
        )
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("okey") % 1000003).cast("long").alias("key_sum"),
        )
    )


# --- Q-sink-8: size-budgeted tar training shards -----------------------------
def _sink_tar_shards(spark: SparkSession, sf: str) -> DataFrame:
    """Export documents as WebDataset-style size-budgeted tar shards (one
    task per partition, rolls a new tar when the byte budget fills), read
    them back with a stock tar decoder, and prove the export lossless
    with content hashes the oracle recomputes from parquet."""
    from hadoop_0_20_2_ljx_spark.extensions import shards

    docs = T(spark, sf, "documents").select("doc_id", "text")
    path = _tmp("q_sink_tar")
    shards.write_tar_shards(
        docs.repartition(4, "doc_id"), path, "doc_id", "text",
        shard_budget_bytes=256 * 1024,
    )
    back = shards.read_tar_shards(spark, path)
    return back.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.expr(md5_int_sql("text", 8)) % 1000003).cast("long").alias("text_hash_sum"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
    )


# --- Q-sink-9 (extra): ORC columnar round trip -------------------------------
def _sink_orc_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Write a lineitem slice as ORC (zlib), read it back, and prove the
    pipe lossless with an aggregate the oracle computes straight from
    parquet. ORC is the other columnar container a Hadoop 0.20 shop
    migrates SequenceFiles to; Spark's writer is a first-class Catalyst
    sink (predicate pushdown + column pruning on re-read, same as
    parquet), so the sink family covers both columnar formats."""
    src = T(spark, sf, "lineitem").select(
        "l_orderkey", "l_linestatus", "l_quantity", "l_extendedprice"
    )
    path = _tmp("q_sink_orc")
    src.write.mode("overwrite").option("compression", "zlib").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("l_linestatus").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("l_orderkey") % 1000003).cast("long").alias("key_sum"),
        F.round(F.sum("l_quantity"), 2).alias("qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("price"),
    )


_ORC_SQL = """
SELECT l_linestatus, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(l_orderkey % 1000003) AS BIGINT) AS key_sum,
       round(sum(l_quantity), 2) AS qty,
       round(sum(l_extendedprice), 2) AS price
FROM lineitem GROUP BY 1
"""


# --- Q-sink-12: Hadoop Archive (.har) round trip -----------------------------
def _sink_har_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Archive documents into a .har (masterindex/index/part layout the
    reference's HarFileSystem opens, fs/HarFileSystem.java:35-43), read
    it back, and exercise the masterindex point lookup. Content proven
    lossless by hashes the oracle recomputes from parquet."""
    from hadoop_0_20_2_ljx_spark.sources import har

    docs = T(spark, sf, "documents").select(
        F.concat(F.lit("doc-"), F.col("doc_id")).alias("name"), "text"
    )
    path = os.path.join(_tmp("q_sink_har"), "docs.har")
    har.write_har(docs.repartition(4, "name"), path, "name", "text")
    back = har.read_har(spark, path)
    looked = har.har_lookup(path, "doc-7")
    return back.agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum(F.expr(md5_int_sql("payload", 8)) % 1000003).cast("long").alias("text_hash_sum"),
        F.sum(F.length("payload")).cast("long").alias("total_chars"),
        F.lit(looked is not None).alias("lookup_hit"),
    )


_HAR_SQL = f"""
SELECT CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum({h32_sql("text")} % 1000003) AS BIGINT) AS text_hash_sum,
       CAST(sum(length(text)) AS BIGINT) AS total_chars,
       TRUE AS lookup_hit
FROM documents
"""


# --- Q-sink-13..15: SequenceFile / MapFile / BloomMapFile containers --------
_KV_SQL = "lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS k, coalesce(c_name, '') AS v"


def _customer_kv(spark: SparkSession, sf: str) -> DataFrame:
    """customer as Text key/value pairs: the key zero-padded so memcmp
    order is numeric order (the sorted-container contract), the value
    NULL-free because a SequenceFile fixes its value class per file."""
    return T(spark, sf, "customer").select(
        F.lpad(F.col("c_custkey").cast("string"), 12, "0").alias("k"),
        F.coalesce("c_name", F.lit("")).alias("v"),
    )


def _fresh(name: str) -> str:
    # the Hadoop committer refuses an existing output dir, and a replay
    # calls each query more than once per process
    path = _tmp(name)
    shutil.rmtree(path, ignore_errors=True)
    return path


def _kv_hashes(key: str | None, value: str | None) -> dict[str, Column]:
    def h(c: str | None) -> Column:
        if c is None:
            return F.lit(None).cast("long")
        return F.expr(md5_int_sql(c, 8)) % 1000003

    return {"n": F.lit(1), "key_hash_sum": h(key), "value_hash_sum": h(value)}


def _sorted_parts(df: DataFrame, key: str, sums: dict[str, Column]) -> DataFrame:
    """One row: each of `sums` summed over `df`, and `ordered` — every
    input partition (one per part-file split, rows in file order) holds
    strictly ascending keys and the partitions' key ranges are disjoint,
    so in range order the parts concatenate into one strictly sorted
    sequence. Both steps are partition-local or over one row per part."""
    rows = df.select(
        key,
        *[c.alias(n) for n, c in sums.items()],
        F.spark_partition_id().alias("_part"),
        F.monotonically_increasing_id().alias("_pos"),
    )
    prev = F.lag(key).over(Window.partitionBy("_part").orderBy("_pos"))
    parts = rows.withColumn("_prev", prev).groupBy("_part").agg(
        F.min(key).alias("_lo"),
        F.max(key).alias("_hi"),
        F.bool_and(F.col("_prev").isNull() | (F.col("_prev") < F.col(key))).alias("_asc"),
        *[F.sum(n).alias(n) for n in sums],
    )
    prev_hi = F.lag("_hi").over(Window.orderBy("_lo"))
    return parts.withColumn("_prev_hi", prev_hi).agg(
        *[F.sum(n).cast("long").alias(n) for n in sums],
        F.bool_and(
            F.col("_asc") & (F.col("_prev_hi").isNull() | (F.col("_prev_hi") < F.col("_lo")))
        ).alias("ordered"),
        F.min("_lo").alias("_lo"),
        F.max("_hi").alias("_hi"),
    )


def _sink_seqfile_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """SequenceFile write, Sorter merge and re-read (io/SequenceFile.java
    Writer:779, Sorter:2211, Reader:1353): two halves of customer are
    written as SequenceFiles, one plain and one block-compressed with the
    reference's DefaultCodec (the reader dispatches on the header's codec
    class), merge-sorted into one range-partitioned output, and read
    back. Proven lossless by hashes the oracle recomputes from parquet,
    and globally ordered (every part sorted, part key ranges disjoint)."""
    from hadoop_0_20_2_ljx_spark.sources import sequencefile

    src = _customer_kv(spark, sf)
    base = _fresh("q_sink_seqfile")
    even = F.col("k").cast("long") % 2 == 0
    plain, packed, out = f"{base}/plain", f"{base}/zlib", f"{base}/sorted"
    sequencefile.write_sequence_file(src.where(even).repartition(2, "k"), plain, "k", "v")
    sequencefile.write_sequence_file(
        src.where(~even).repartition(2, "k"), packed, "k", "v", codec="default"
    )
    sequencefile.sort_sequence_file(spark, [plain, packed], out)
    back = sequencefile.read_sequence_file(spark, out, "k", "v")
    return _sorted_parts(back, "k", _kv_hashes("k", "v")).drop("_lo", "_hi")


_KV_HASHES_SQL = f"""CAST(count(*) AS BIGINT) AS n,
       CAST(sum({h32_sql("k")} % 1000003) AS BIGINT) AS key_hash_sum,
       CAST(sum({h32_sql("v")} % 1000003) AS BIGINT) AS value_hash_sum"""

_SEQFILE_SQL = f"""
SELECT {_KV_HASHES_SQL}, TRUE AS ordered
FROM (SELECT {_KV_SQL} FROM customer)
"""


def _sink_mapfile_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """The three MapFile layouts, written and read back (io/MapFile.java:92,
    SetFile.java:27, ArrayFile.java:29), one row each: a MapFile of
    customer's key/value pairs (data globally key-sorted); a SetFile of
    its market segments (sorted and distinct: strictly ascending); an
    ArrayFile of its names, whose keys are the dense positions 0..n-1.
    Content proven by hashes the oracle recomputes from parquet."""
    from hadoop_0_20_2_ljx_spark.sources import sequencefile

    cust = T(spark, sf, "customer")
    src = _customer_kv(spark, sf)
    base = _fresh("q_sink_mapfile")
    mpath, spath, apath = f"{base}/map", f"{base}/set", f"{base}/array"
    sequencefile.write_map_file(src.repartition(4, "k"), mpath, "k", "v")
    segments = cust.select(F.coalesce("c_mktsegment", F.lit("")).alias("seg"))
    sequencefile.write_set_file(segments.repartition(4, "seg"), spath, "seg")
    sequencefile.write_array_file(src.orderBy("k"), apath, "v")

    def row(layout: str, summary: DataFrame, ok: Column) -> DataFrame:
        return summary.select(
            F.lit(layout).alias("layout"),
            "n", "key_hash_sum", "value_hash_sum",
            (F.col("ordered") & ok).alias("ok"),
        )

    mapped = _sorted_parts(sequencefile.read_map_file(spark, mpath, "k", "v"), "k",
                           _kv_hashes("k", "v"))
    members = _sorted_parts(sequencefile.read_set_file(spark, spath, "seg"), "seg",
                            _kv_hashes("seg", None))
    # strictly ascending positions from 0 to n-1 are exactly 0..n-1
    positions = _sorted_parts(sequencefile.read_array_file(spark, apath, "v", "idx"), "idx",
                              _kv_hashes(None, "v"))
    dense = (F.col("_lo") == 0) & (F.col("_hi") == F.col("n") - 1)
    return (
        row("MapFile", mapped, F.lit(True))
        .unionByName(row("SetFile", members, F.lit(True)))
        .unionByName(row("ArrayFile", positions, dense))
    )


_MAPFILE_SQL = f"""
SELECT 'MapFile' AS layout, {_KV_HASHES_SQL}, TRUE AS ok
FROM (SELECT {_KV_SQL} FROM customer)
UNION ALL
SELECT 'SetFile', CAST(count(*) AS BIGINT),
       CAST(sum({h32_sql("seg")} % 1000003) AS BIGINT), CAST(NULL AS BIGINT), TRUE
FROM (SELECT DISTINCT coalesce(c_mktsegment, '') AS seg FROM customer)
UNION ALL
SELECT 'ArrayFile', CAST(count(*) AS BIGINT), CAST(NULL AS BIGINT),
       CAST(sum({h32_sql("coalesce(c_name, '')")} % 1000003) AS BIGINT), TRUE
FROM customer
"""


def _sink_bloommap_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """BloomMapFile write, re-read and key fast-reject (io/BloomMapFile.java:
    47, Reader.get:218 probablyHasKey before the index seek): customer's
    pairs go to a MapFile dir with its reference-format DynamicBloomFilter
    sidecar (1024 keys per matrix row, so the matrix grows past one row
    from sf0.01 up); the written keys plus as many absent keys are
    probed through the bloom, and the survivors join back to the stored
    pairs. The join drops the false positives, so n and the hashes are
    exact; the false-positive share of the absent probes stays under 10%."""
    from hadoop_0_20_2_ljx_spark.sources import bloomfile, sequencefile

    src = _customer_kv(spark, sf)
    path = _fresh("q_sink_bloommap")
    bloomfile.write_bloom_map_file(src.repartition(4, "k"), path, "k", "v", num_keys=1024)
    stored = sequencefile.read_map_file(spark, path, "k", "v")
    probe = stored.select("k").unionByName(
        stored.select(F.concat(F.lit("absent-"), F.col("k")).alias("k"))
    )
    kept = bloomfile.bloom_prefilter_keys(probe, path, "k")
    hits = kept.join(stored.withColumn("hit", F.lit(1)), "k", "left")
    hashes = _kv_hashes("k", "v")
    n = F.count("hit")
    return hits.agg(
        n.cast("long").alias("n"),
        F.sum(F.when(F.col("hit") == 1, hashes["key_hash_sum"])).cast("long").alias("key_hash_sum"),
        F.sum(hashes["value_hash_sum"]).cast("long").alias("value_hash_sum"),
        ((F.count(F.lit(1)) - n) * 10 < F.greatest(n, F.lit(1))).alias("fp_under_10pct"),
    )


_BLOOMMAP_SQL = f"""
SELECT {_KV_HASHES_SQL}, TRUE AS fp_under_10pct
FROM (SELECT {_KV_SQL} FROM customer)
"""


# --- Q-scan-5: gzip-compressed text (TextInputFormat + GzipCodec) ------------
def _scan_gzip_text(spark: SparkSession, sf: str) -> DataFrame:
    """Compressed text lines: write tab-separated KV as .gz, read back
    through the codec-transparent text reader — the reference's
    TextInputFormat + GzipCodec path (io/compress/GzipCodec.java:36,
    mapred/LineRecordReader.java:77 picks the codec by extension; Spark's
    text source does the same). Gzip is NOT splittable — one task per
    .gz file on both engines — so parallelism comes from the file count;
    the writer keeps 8 files for exactly that reason (documented split
    model, SURVEY §1.5)."""
    src = T(spark, sf, "orders").select("o_orderkey", "o_orderstatus")
    path = _tmp("q_scan_gzip")
    (
        src.select(F.concat_ws("\t", F.col("o_orderkey").cast("string"), "o_orderstatus").alias("value"))
        .repartition(8)
        .write.mode("overwrite")
        .option("compression", "gzip")
        .text(path)
    )
    back = spark.read.text(path).select(
        F.split(F.col("value"), "\t")[0].cast("long").alias("o_orderkey"),
        F.split(F.col("value"), "\t")[1].alias("o_orderstatus"),
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("o_orderkey") % 1000003).cast("long").alias("key_sum"),
    )


_GZIP_SQL = """
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(o_orderkey % 1000003) AS BIGINT) AS key_sum
FROM orders GROUP BY 1
"""


# --- Q-scan-6: bzip2-compressed text (splittable codec) ----------------------
def _scan_bz2_text(spark: SparkSession, sf: str) -> DataFrame:
    """Splittable-codec text: write tab-separated KV as ONE .bz2 file,
    read it back through the codec-transparent text reader. The point of
    bzip2 vs gzip is the split model (io/compress/BZip2Codec.java — a
    SplittableCompressionCodec; LineRecordReader seeks to the next
    48-bit block magic): ONE .bz2 file still yields one input split per
    maxPartitionBytes range, so a single 1 GB archive parallelizes
    across a cluster where gzip would serialize onto one task.
    Multi-split parallelism from this single file is pinned in
    tests/test_sources.py::test_bz2_single_file_is_splittable; here the
    coalesce(1) writer proves the correctness half (no line lost or
    torn across block boundaries at any split placement)."""
    src = T(spark, sf, "lineitem").select("l_orderkey", "l_linenumber", "l_returnflag")
    path = _tmp("q_scan_bz2")
    (
        src.select(
            F.concat_ws(
                "\t",
                F.col("l_orderkey").cast("string"),
                F.col("l_linenumber").cast("string"),
                "l_returnflag",
            ).alias("value")
        )
        .coalesce(1)
        .write.mode("overwrite")
        .option("compression", "bzip2")
        .text(path)
    )
    back = spark.read.text(path).select(
        F.split(F.col("value"), "\t")[0].cast("long").alias("l_orderkey"),
        F.split(F.col("value"), "\t")[1].cast("long").alias("l_linenumber"),
        F.split(F.col("value"), "\t")[2].alias("l_returnflag"),
    )
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("l_orderkey") * 7 + F.col("l_linenumber")) % 1000003)
        .cast("long")
        .alias("key_sum"),
    )


_BZ2_SQL = """
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       CAST(sum((l_orderkey * 7 + l_linenumber) % 1000003) AS BIGINT) AS key_sum
FROM lineitem GROUP BY 1
"""


# --- Q-sink-10 (extra): schema evolution via mergeSchema ---------------------
def _sink_schema_evolution(spark: SparkSession, sf: str) -> DataFrame:
    """Schema evolution: v1 files lack a column that v2 files carry
    (every long-lived 100 TB table has this); read both generations with
    mergeSchema and prove old rows surface NULL for the new column while
    nothing is lost. The reference forced a full rewrite or a custom
    RecordReader for this (rigid Writable schemas, record/ IDL)."""
    src = T(spark, sf, "orders")
    path = _tmp("q_sink_evolve")
    v1 = src.where(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_orderstatus")
    v2 = src.where(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    v1.write.mode("overwrite").parquet(f"{path}/gen=1")
    v2.write.mode("overwrite").parquet(f"{path}/gen=2")
    back = spark.read.option("mergeSchema", True).parquet(path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("o_totalprice").isNull().cast("long")).cast("long").alias("n_v1"),
        F.round(F.sum(F.coalesce("o_totalprice", F.lit(0.0))), 2).alias("v2_total"),
    )


_EVOLVE_SQL = """
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_v1,
       round(sum(CASE WHEN o_orderkey % 2 = 1 THEN o_totalprice ELSE 0 END), 2) AS v2_total
FROM orders GROUP BY 1
"""


# --- Q-sink-11 (extra): small-file compaction --------------------------------
def _sink_compaction(spark: SparkSession, sf: str) -> DataFrame:
    """Small-file compaction: rewrite a many-small-files table into few
    right-sized files (THE recurring 100 TB maintenance job — the
    reference's 'har' archives and CombineFileInputFormat exist because
    of exactly this). Proves content identical and file count reduced;
    returns accounting the oracle reproduces from the source + pinned
    file-count booleans."""
    import glob

    src = T(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    frag_path, comp_path = _tmp("q_sink_frag"), _tmp("q_sink_compact")
    src.repartition(64).write.mode("overwrite").parquet(frag_path)
    frag = spark.read.parquet(frag_path)
    n_small = len(glob.glob(f"{frag_path}/part-*.parquet"))
    frag.repartition(4).write.mode("overwrite").parquet(comp_path)
    back = spark.read.parquet(comp_path)
    n_big = len(glob.glob(f"{comp_path}/part-*.parquet"))
    return back.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col("l_orderkey") % 1000003).cast("long").alias("key_sum"),
        F.round(F.sum("l_quantity"), 2).alias("qty"),
        F.lit(n_small == 64).alias("fragmented_64"),
        F.lit(n_big == 4).alias("compacted_4"),
    )


_COMPACT_SQL = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(l_orderkey % 1000003) AS BIGINT) AS key_sum,
       round(sum(l_quantity), 2) AS qty,
       TRUE AS fragmented_64, TRUE AS compacted_4
FROM lineitem
"""


# --- Q-sink-6 (extra): CSV + JSON-lines round trips --------------------------
def _sink_csv_json_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Write the same slice as header-CSV and JSON-lines, read both back
    with explicit schemas (never inference — nondeterministic at scale),
    and prove both pipes lossless with the same aggregate the oracle
    computes straight from parquet. These are the two interchange
    formats every migration off the reference's TextOutputFormat uses."""
    src = T(spark, sf, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    schema = "o_orderkey long, o_orderstatus string, o_totalprice double"
    csv_path, json_path = _tmp("q_sink_csv"), _tmp("q_sink_json")
    src.write.mode("overwrite").option("header", True).csv(csv_path)
    src.write.mode("overwrite").json(json_path)
    back_csv = spark.read.schema(schema).option("header", True).csv(csv_path)
    back_json = spark.read.schema(schema).json(json_path)

    def roll(df: DataFrame, fmt: str) -> DataFrame:
        return df.agg(
            F.lit(fmt).alias("fmt"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("o_orderkey") % 1000003).cast("long").alias("key_sum"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )

    return roll(back_csv, "csv").unionByName(roll(back_json, "json"))


_CSV_JSON_SQL = """
SELECT 'csv' AS fmt, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(o_orderkey % 1000003) AS BIGINT) AS key_sum,
       round(sum(o_totalprice), 2) AS total
FROM orders
UNION ALL
SELECT 'json', CAST(count(*) AS BIGINT),
       CAST(sum(o_orderkey % 1000003) AS BIGINT), round(sum(o_totalprice), 2)
FROM orders
"""


QUERIES: dict[str, QueryDef] = {
    "q_sink_text_roundtrip": QueryDef(
        _sink_text_roundtrip,
        "SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n, "
        "CAST(sum(o_orderkey % 1000003) AS BIGINT) AS key_sum FROM orders GROUP BY 1",
        "Q-sink-1 TextOutputFormat round trip (mapred/TextOutputFormat.java:40)",
    ),
    "q_sink_parquet_roundtrip": QueryDef(
        _sink_parquet_roundtrip,
        "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n, round(sum(o_totalprice),2) AS total "
        "FROM orders GROUP BY 1",
        "Q-sink-2 SequenceFileOutputFormat round trip (mapred/SequenceFileOutputFormat.java:41)",
    ),
    "q_sink_sorted_lookup": QueryDef(
        _sink_sorted_lookup,
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey = 777",
        "Q-sink-3 MapFileOutputFormat sorted write + getEntry lookup "
        "(mapred/MapFileOutputFormat.java:39, io/MapFile.java:415)",
    ),
    "q_sink_partitioned": QueryDef(
        _sink_partitioned,
        "SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n, round(sum(l_quantity),2) AS qty "
        "FROM lineitem GROUP BY 1",
        "Q-sink-4 MultipleOutputFormat -> partitionBy (mapred/lib/MultipleOutputFormat.java:51)",
    ),
    "q_sink_named_outputs": QueryDef(
        _sink_named_outputs,
        "SELECT 'fulfilled' AS output_name, CAST(count(*) AS BIGINT) AS n, "
        "CAST(sum(o_orderkey % 1000003) AS BIGINT) AS key_sum FROM orders WHERE o_orderstatus='F' "
        "UNION ALL SELECT 'open', CAST(count(*) AS BIGINT), CAST(sum(o_orderkey % 1000003) AS BIGINT) "
        "FROM orders WHERE o_orderstatus='O'",
        "Q-sink-5 MultipleOutputs named outputs (mapred/lib/MultipleOutputs.java:70-104)",
    ),
    "q_sink_csv_json_roundtrip": QueryDef(
        _sink_csv_json_roundtrip,
        _CSV_JSON_SQL,
        "Q-sink-6 (engine extra) CSV(header) + JSON-lines round trips with "
        "explicit schemas — float totals survive both text formats",
    ),
    "q_sink_tar_shards": QueryDef(
        _sink_tar_shards,
        "SELECT CAST(count(*) AS BIGINT) AS n_docs, "
        f"CAST(sum({h32_sql('text')} % 1000003) AS BIGINT) AS text_hash_sum, "
        "CAST(sum(length(text)) AS BIGINT) AS total_chars FROM documents",
        "Q-sink-8 (engine extra) size-budgeted tar training shards "
        "(WebDataset layout; MultipleOutputFormat file routing with a byte "
        "budget, mapred/lib/MultipleOutputFormat.java:51)",
    ),
    "q_sink_har_roundtrip": QueryDef(
        _sink_har_roundtrip,
        _HAR_SQL,
        "Q-sink-12 Hadoop Archive (.har) wire compat: masterindex hash "
        "buckets + index + part files (fs/HarFileSystem.java:35-43,361,448), "
        "roundtrip + point lookup",
    ),
    "q_scan_gzip_text": QueryDef(
        _scan_gzip_text,
        _GZIP_SQL,
        "Q-scan-5 gzip text roundtrip: codec-by-extension read, "
        "non-splittable-codec parallelism from file count "
        "(io/compress/GzipCodec.java:36, mapred/LineRecordReader.java:77)",
    ),
    "q_scan_bz2_text": QueryDef(
        _scan_bz2_text,
        _BZ2_SQL,
        "Q-scan-6 bzip2 text roundtrip: SPLITTABLE codec — one .bz2 file "
        "yields multiple input splits (io/compress/BZip2Codec.java); "
        "split-parallelism pinned in tests/test_sources.py",
    ),
    "q_sink_schema_evolution": QueryDef(
        _sink_schema_evolution,
        _EVOLVE_SQL,
        "Q-sink-10 (engine extra) mergeSchema read across file generations "
        "— old rows surface NULL for late-added columns, nothing lost "
        "(the reference's rigid Writable/IDL schemas forced rewrites)",
    ),
    "q_sink_compaction": QueryDef(
        _sink_compaction,
        _COMPACT_SQL,
        "Q-sink-11 (engine extra) small-file compaction: 64 fragments -> 4 "
        "right-sized files, content hash-identical (the maintenance job "
        "behind har/CombineFileInputFormat, mapred/lib/CombineFileInputFormat.java:55)",
    ),
    "q_sink_orc_roundtrip": QueryDef(
        _sink_orc_roundtrip,
        _ORC_SQL,
        "Q-sink-9 (engine extra) ORC(zlib) columnar round trip — the other "
        "columnar migration target off SequenceFile",
    ),
    "q_sink_seqfile_roundtrip": QueryDef(
        _sink_seqfile_roundtrip,
        _SEQFILE_SQL,
        "Q-sink-13 SequenceFile write (plain + DefaultCodec block-compressed), "
        "Sorter merge, re-read: lossless and globally ordered "
        "(io/SequenceFile.java:779,1353,2211)",
    ),
    "q_sink_mapfile_roundtrip": QueryDef(
        _sink_mapfile_roundtrip,
        _MAPFILE_SQL,
        "Q-sink-14 MapFile / SetFile / ArrayFile layouts round trip: sorted "
        "data, sorted-distinct set, dense 0..n-1 positions "
        "(io/MapFile.java:92, SetFile.java:27, ArrayFile.java:29)",
    ),
    "q_sink_bloommap_roundtrip": QueryDef(
        _sink_bloommap_roundtrip,
        _BLOOMMAP_SQL,
        "Q-sink-15 BloomMapFile: MapFile + DynamicBloomFilter key sidecar, "
        "probe fast-reject then exact join-back (io/BloomMapFile.java:47,218)",
    ),
    "q_sink_tfile_roundtrip": QueryDef(
        _sink_tfile_roundtrip,
        "SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n, "
        "CAST(sum(o_orderkey % 1000003) AS BIGINT) AS key_sum "
        "FROM orders GROUP BY 1",
        "Q-sink-7 TFile sorted block-compressed container round trip "
        "(io/file/tfile/TFile.java:128, BCFile.java:614, "
        "tfile/Utils.java:91 chunked-VLong wire encoding)",
    ),
}


# --- Z-order layout round trip ----------------------------------------------
def _sink_zorder(spark: SparkSession, sf: str) -> DataFrame:
    """Write lineitem Z-ordered on (l_partkey, l_suppkey), read it back
    through a selective filter on EACH dimension, and return filtered
    aggregates the oracle reproduces from the source table — the layout
    changed nothing (content identity) while tiling the 2-D key space
    (the skipping property itself is asserted geometrically in
    tests/test_scale_properties.py)."""
    src = T(spark, sf, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    path = _tmp("q_sink_zorder")
    sinks.write_zordered(src, path, "l_partkey", "l_suppkey")
    back = spark.read.parquet(path)

    def slice_agg(name, cond):
        return back.where(cond).agg(
            F.lit(name).alias("slice"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("l_orderkey") % 1000003).cast("long").alias("key_sum"),
            F.sum("l_quantity").cast("long").alias("qty_sum"),
        )
    full = slice_agg("all", F.lit(True))
    by_part = slice_agg("partkey_slice", F.col("l_partkey") % 4096 < 256)
    by_supp = slice_agg("suppkey_slice", F.col("l_suppkey") % 4096 < 256)
    return full.unionByName(by_part).unionByName(by_supp)


_ZORDER_SQL = """
SELECT 'all' AS slice, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(l_orderkey % 1000003) AS BIGINT) AS key_sum,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum
FROM lineitem
UNION ALL
SELECT 'partkey_slice', CAST(count(*) AS BIGINT),
       CAST(sum(l_orderkey % 1000003) AS BIGINT),
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
FROM lineitem WHERE l_partkey % 4096 < 256
UNION ALL
SELECT 'suppkey_slice', CAST(count(*) AS BIGINT),
       CAST(sum(l_orderkey % 1000003) AS BIGINT),
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
FROM lineitem WHERE l_suppkey % 4096 < 256
"""

QUERIES["q_sink_zorder"] = QueryDef(
    _sink_zorder,
    _ZORDER_SQL,
    "Z-order (morton) layout write + content-identity round trip; 2-D "
    "data-skipping tiling asserted geometrically in tests",
)
