"""Declared queries: scans, projections, filters, sorts, generators, top-k.

Covers Q-scan-1..4, Q-gen-1/2, Q-proj-1/2, Q-filter-1, Q-sort-1..4,
Q-top-1 from SURVEY.md §2.1/2.3/2.4.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hadoop_0_20_2_ljx_spark.functions.portable import md5_int_sql
from hadoop_0_20_2_ljx_spark.operators import scans, sorts, transforms
from hadoop_0_20_2_ljx_spark.operators.generators import random_text, tera_gen
from hadoop_0_20_2_ljx_spark.queries.base import QueryDef, T, h32_sql, words_sql


# --- Q-scan-1: TextInputFormat line count ------------------------------------
def _scan_text_count(spark: SparkSession, sf: str) -> DataFrame:
    lines = scans.text_lines(T(spark, sf, "documents"), "text")
    return lines.filter(F.col("line").isNotNull()).agg(F.count("*").alias("n_lines"))


# --- Q-scan-2: KeyValueTextInputFormat first-separator split -----------------
def _scan_kv_split(spark: SparkSession, sf: str) -> DataFrame:
    kv = scans.kv_split(T(spark, sf, "documents"), "text", sep=" ")
    return kv.groupBy(F.col("key").alias("head")).agg(F.count("*").alias("cnt"))


# --- Q-scan-3: MD5Filter hash-sampled scan -----------------------------------
def _scan_sample(spark: SparkSession, sf: str) -> DataFrame:
    kept = scans.md5_filter(T(spark, sf, "customer"), "c_name", 10)
    return kept.agg(F.count("*").alias("n"))


# --- Q-scan-4: MultipleInputs union ------------------------------------------
def _scan_multi_input(spark: SparkSession, sf: str) -> DataFrame:
    u = scans.multi_input_union(
        (T(spark, sf, "customer").select(F.col("c_name").alias("name")), F.lit("customer")),
        (T(spark, sf, "supplier").select(F.col("s_name").alias("name")), F.lit("supplier")),
    )
    return u.groupBy(F.col("_src").alias("src")).agg(F.count("*").alias("n"))


# --- Q-gen-1: RandomTextWriter fingerprint -----------------------------------
def _gen_random_writer(spark: SparkSession, sf: str) -> DataFrame:
    df = random_text(spark, 10000, words_per_row=10)
    return df.agg(
        F.count("*").alias("n"),
        F.min(F.substring("text", 1, 8)).alias("min_tok"),
        F.max(F.substring("text", 1, 8)).alias("max_tok"),
        F.sum(F.expr(md5_int_sql("text", 8)) % 1000003).alias("hash_sum"),
    )


_GEN_TEXT_SQL = (
    "SELECT array_to_string(list_transform(range(10), i -> "
    "substring(md5(CAST(id AS VARCHAR) || '-' || CAST(i AS VARCHAR)), 1, 8)), ' ') AS text "
    "FROM range(10000) t(id)"
)


# --- Q-gen-2 + Q-sort-3: TeraGen + TeraSort + TeraValidate -------------------
def _gen_terasort(spark: SparkSession, sf: str) -> DataFrame:
    """Generate 10k TeraGen-shaped rows, total-order sort them, then
    TeraValidate: per-partition sortedness + cross-partition boundary
    monotonicity (terasort/package.html:60-69), plus a content checksum.

    The validation runs distributed: one row per partition out of
    mapInPandas, then a tiny final aggregate.
    """
    recs = tera_gen(spark, 10000)
    hashed = sorts.total_order_sort(recs, "key", num_partitions=8).withColumn(
        "pid", F.spark_partition_id()
    )

    def per_partition(batches):
        import pandas as pd

        first = last = None
        prev = None
        n = 0
        ok = True
        pid = -1
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pid = int(pdf["pid"].iloc[0])
            keys = pdf["key"]
            if first is None:
                first = keys.iloc[0]
            if prev is not None and keys.iloc[0] < prev:
                ok = False
            if not keys.is_monotonic_increasing:
                ok = False
            prev = last = keys.iloc[-1]
            n += len(pdf)
        if n == 0:
            return
        yield pd.DataFrame(
            {"pid": [pid], "first_key": [first], "last_key": [last], "n": [n], "part_ok": [ok]}
        )

    parts = hashed.mapInPandas(
        per_partition, schema="pid int, first_key string, last_key string, n long, part_ok boolean"
    )
    # Global window is safe HERE only: `parts` holds one summary row per
    # partition (O(P) rows), never data rows.
    w = Window.orderBy("first_key")
    boundaries = parts.withColumn("prev_last", F.lag("last_key").over(w)).withColumn(
        "bound_ok", F.coalesce(F.col("prev_last") <= F.col("first_key"), F.lit(True))
    )
    checks = boundaries.agg(
        F.sum("n").alias("n"),
        F.min("first_key").alias("min_key"),
        F.max("last_key").alias("max_key"),
        (F.min(F.col("part_ok").cast("int")) * F.min(F.col("bound_ok").cast("int"))).cast(
            "boolean"
        ).alias("sorted_ok"),
    )
    checksum = recs.agg(F.sum(F.expr(md5_int_sql("key", 8)) % 1000003).alias("hash_sum"))
    return checks.crossJoin(checksum)


_TERA_SQL_SRC = "SELECT substring(md5(CAST(id AS VARCHAR)), 1, 10) AS key FROM range(10000) t(id)"


# --- Q-proj-1: FieldSelection over delimited lines ---------------------------
def _proj_fieldsel(spark: SparkSession, sf: str) -> DataFrame:
    lines = T(spark, sf, "orders").select(
        F.concat_ws(
            "|",
            F.col("o_orderkey"),
            F.col("o_custkey"),
            F.col("o_orderstatus"),
            F.col("o_orderpriority"),
            (F.col("o_orderkey") % 7).cast("string"),
        ).alias("line")
    )
    return transforms.field_selection(lines, "line", spec="2,0,3-", sep=r"\|", out_sep="|")


# --- Q-proj-2: ChainMapper composition ---------------------------------------
def _proj_chain(spark: SparkSession, sf: str) -> DataFrame:
    return transforms.chain(
        T(spark, sf, "customer"),
        lambda d: d.filter(F.col("c_acctbal") > 0),
        lambda d: d.withColumn("seg", F.lower(F.col("c_mktsegment"))),
        lambda d: d.groupBy("seg").agg(
            F.count("*").alias("n"), F.round(F.sum("c_acctbal"), 2).alias("bal")
        ),
    )


# --- Q-filter-1: RegexMapper grep --------------------------------------------
def _filter_grep(spark: SparkSession, sf: str) -> DataFrame:
    matches = transforms.regex_matches(T(spark, sf, "documents"), "text", r"\bb[a-z]+")
    return matches.groupBy("match").agg(F.count("*").alias("cnt"))


# --- Q-sort-1: KeyFieldBasedComparator multi-field sort ----------------------
def _sort_keyfield(spark: SparkSession, sf: str) -> DataFrame:
    """Order fingerprint: position-weighted checksum over the sorted
    sequence proves the exact total order, which an order-insensitive
    row hash can't."""
    df = sorts.key_field_sort(
        T(spark, sf, "orders"),
        [("o_orderpriority", False, False), ("o_totalprice", False, True), ("o_orderkey", False, False)],
    )
    # null ordering explicit (r10 pin): ASC NULLS FIRST / DESC NULLS LAST
    # on both sides — the engines' defaults are opposite (key_field_sort
    # docstring has the contract).
    rn = sorts.with_global_row_number(
        df,
        [
            F.col("o_orderpriority").asc_nulls_first(),
            F.col("o_totalprice").desc_nulls_last(),
            F.col("o_orderkey").asc_nulls_first(),
        ],
    )
    return rn.agg(
        F.count("*").alias("n"),
        F.sum(F.col("rn") * (F.expr(md5_int_sql("o_orderkey", 8)) % 97)).alias("ordered_checksum"),
    )


# --- Q-sort-1b: KeyFieldBasedComparator char-offset sub-field specs ----------
def _sort_keyfield_offsets(spark: SparkSession, sf: str) -> DataFrame:
    """sort(1)-style -k f.c,f.c[n][r] specs over tab-joined lines
    (KeyFieldHelper.java grammar): 3rd char of field 1, numeric-reverse of
    field 3 minus its first char, then numeric fields 4 and 3. Fingerprinted
    with the position-weighted checksum (proves the exact total order)."""
    o = T(spark, sf, "orders")
    lined = o.select(
        "o_orderkey",
        F.concat_ws(
            "\t",
            F.col("o_orderpriority"),
            F.col("o_orderstatus"),
            F.col("o_orderkey").cast("string"),
            F.col("o_custkey").cast("string"),
        ).alias("line"),
    )
    specs = ["1.3,1.3", "3.2,3.0nr", "4,4n", "3,3n"]
    order = sorts.key_field_order_columns(F.col("line"), specs, "\t")
    # base.py window rule: the checksum proves ONE total order, so the
    # key specs get a unique tiebreak (r9 — on nullable inputs shifted
    # lines can tie on all four keys, leaving rn engine-ambiguous; the
    # fixture order is unchanged because its keys embed o_orderkey)
    order = [*order, F.col("o_orderkey").asc()]
    rn = sorts.with_global_row_number(lined, order)
    return rn.agg(
        F.count("*").alias("n"),
        F.sum(F.col("rn") * (F.col("o_orderkey") % 97)).alias("ordered_checksum"),
    )


def _kf_slice_sql(spec: str) -> str:
    """DuckDB rendering of operators.sorts.key_field_slice over a `line`
    column — the SAME absolute char-offset arithmetic (a key whose char
    range exceeds its field SPILLS across separators, the reference
    KeyFieldHelper byte model). The oracle must derive keys from the
    rendered line, not the source columns (r9): concat_ws skips NULLs in
    both engines, so a null field SHIFTS every later -k offset — a
    column-based oracle is equivalent only under the non-null fixture
    contract (base.py boundary). Extracted keys are never NULL ('' on
    absent fields, numeric misses parse as 0 — sort(1) semantics), so no
    ORDER BY null-default exposure remains either."""
    from hadoop_0_20_2_ljx_spark.operators.sorts import parse_key_spec

    k = parse_key_spec(spec)
    flds = "string_split(line, chr(9))"

    def start_of(f: int) -> str:
        if f == 1:
            return "1"
        return f"(length(array_to_string({flds}[1:{f - 1}], chr(9))) + 2)"

    begin = f"({start_of(k['f1'])} + {k['c1'] - 1})"
    if k["f2"] is None:
        end = "length(line)"
    elif k["c2"] == 0:
        end = (
            f"(CASE WHEN len({flds}) >= {k['f2']} "
            f"THEN {start_of(k['f2'])} + length({flds}[{k['f2']}]) - 1 "
            f"ELSE length(line) END)"
        )
    else:
        end = (
            f"(CASE WHEN len({flds}) >= {k['f2']} "
            f"THEN {start_of(k['f2'])} + {k['c2'] - 1} "
            f"ELSE length(line) END)"
        )
    sliced = (
        f"(CASE WHEN len({flds}) >= {k['f1']} "
        f"THEN substring(line, {begin}, greatest({end} - {begin} + 1, 0)) "
        f"ELSE '' END)"
    )
    if k["numeric"]:
        num = f"regexp_extract({sliced}, '^\\s*(-?\\d+(?:\\.\\d+)?)', 1)"
        sliced = f"(CASE WHEN {num} <> '' THEN CAST({num} AS DOUBLE) ELSE 0 END)"
    return sliced


def _keyfield_offsets_sql() -> str:
    ks = {
        f"k{i}": _kf_slice_sql(spec)
        for i, spec in enumerate(["1.3,1.3", "3.2,3.0nr", "4,4n", "3,3n"], start=1)
    }
    keyed = ",\n    ".join(f"{sql} AS {name}" for name, sql in ks.items())
    return f"""
WITH lined AS (
  SELECT o_orderkey,
         concat_ws(chr(9), o_orderpriority, o_orderstatus,
                   CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR)) AS line
  FROM orders
), keyed AS (
  SELECT o_orderkey,
    {keyed}
  FROM lined
)
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(sum(rn * (o_orderkey % 97)) AS BIGINT) AS ordered_checksum
FROM (SELECT o_orderkey,
             row_number() OVER (ORDER BY k1 ASC, k2 DESC, k3 ASC, k4 ASC,
                                o_orderkey ASC) AS rn
      FROM keyed)
"""


# --- Q-sort-2: TotalOrderPartitioner global sort fingerprint -----------------
def _sort_total_order(spark: SparkSession, sf: str) -> DataFrame:
    df = sorts.total_order_sort(T(spark, sf, "lineitem"), "l_orderkey", "l_linenumber")
    rn = sorts.with_global_row_number(
        df, [F.col("l_orderkey").asc(), F.col("l_linenumber").asc()]
    )
    return rn.agg(
        F.count("*").alias("n"),
        F.sum(F.col("rn") * ((F.col("l_orderkey") * 7 + F.col("l_linenumber")) % 1000003)).alias(
            "ordered_checksum"
        ),
    )


# --- Q-sort-4: secondary sort ------------------------------------------------
def _sort_secondary(spark: SparkSession, sf: str) -> DataFrame:
    """Per l_orderkey, line numbers ordered by (l_quantity desc,
    l_linenumber asc) — the SecondarySort example's contract with a total
    order via tiebreaker (SURVEY §7.3).

    NULL contract (r10 pin): DESC NULLS LAST — a null quantity is "no
    measurement" and sorts after every real one, still tie-broken by
    l_linenumber. The bare negated-struct encoding put null FIRST
    (Spark's struct comparator ranks a null field smallest in an
    ascending sort, i.e. largest under negation), the opposite of
    DuckDB's nulls-last default — so the ordering CLASS is an explicit
    leading sort field and the negated value is null-coalesced.

    Non-finite contract (r10 pin): NaN ranks GREATEST among values —
    above +Infinity, first under DESC — the native semantics of BOTH
    engines' comparators. Negation alone broke this (NaN is invariant
    under negation while finite values flip, so -q asc put NaN LAST);
    the class field restores it: 0 = NaN, 1 = real value (by -q), 2 =
    null. +/-Infinity negate cleanly and need no class of their own."""
    li = T(spark, sf, "lineitem")
    q = F.col("l_quantity")
    cls = (
        F.when(q.isNull(), F.lit(2)).when(F.isnan(q), F.lit(0)).otherwise(F.lit(1))
    )
    packed = F.struct(
        cls.alias("s0"),
        (-F.when(cls == 1, q).otherwise(F.lit(0.0))).alias("s1"),
        F.col("l_linenumber").alias("s2"),
    )
    return li.groupBy("l_orderkey").agg(
        F.array_join(
            F.transform(F.sort_array(F.collect_list(packed)), lambda s: s["s2"].cast("string")),
            ",",
        ).alias("lines")
    )


# --- Q-top-1: top-k most frequent tokens -------------------------------------
def _top_tokens(spark: SparkSession, sf: str) -> DataFrame:
    counts = (
        transforms.tokenize(T(spark, sf, "documents"), "text")
        .groupBy(F.col("token").alias("word"))
        .agg(F.count("*").alias("cnt"))
    )
    return sorts.top_k(counts, [F.col("cnt").desc(), F.col("word").asc()], 10)


QUERIES: dict[str, QueryDef] = {
    "q_scan_text_count": QueryDef(
        _scan_text_count,
        "SELECT count(*) AS n_lines FROM documents WHERE text IS NOT NULL",
        "Q-scan-1 TextInputFormat (mapred/TextInputFormat.java:35)",
    ),
    "q_scan_kv_split": QueryDef(
        _scan_kv_split,
        "SELECT split_part(text, ' ', 1) AS head, count(*) AS cnt FROM documents GROUP BY 1",
        "Q-scan-2 KeyValueTextInputFormat (mapred/KeyValueLineRecordReader.java:87)",
    ),
    "q_scan_sample_filter": QueryDef(
        _scan_sample,
        f"SELECT count(*) AS n FROM customer WHERE {h32_sql('c_name')} % 10 = 0",
        "Q-scan-3 SequenceFileInputFilter.MD5Filter (mapred/SequenceFileInputFilter.java:195)",
    ),
    "q_scan_multi_input": QueryDef(
        _scan_multi_input,
        "SELECT src, count(*) AS n FROM ("
        "SELECT c_name AS name, 'customer' AS src FROM customer "
        "UNION ALL SELECT s_name, 'supplier' FROM supplier) GROUP BY src",
        "Q-scan-4 MultipleInputs (mapred/lib/MultipleInputs.java:34)",
    ),
    "q_gen_random_writer": QueryDef(
        _gen_random_writer,
        f"SELECT CAST(count(*) AS BIGINT) AS n, min(substring(text,1,8)) AS min_tok, "
        f"max(substring(text,1,8)) AS max_tok, "
        f"CAST(sum({h32_sql('text')} % 1000003) AS BIGINT) AS hash_sum FROM ({_GEN_TEXT_SQL})",
        "Q-gen-1 RandomTextWriter (examples/.../RandomTextWriter.java:82)",
    ),
    "q_gen_terasort": QueryDef(
        _gen_terasort,
        f"SELECT CAST(count(*) AS BIGINT) AS n, min(key) AS min_key, max(key) AS max_key, "
        f"true AS sorted_ok, CAST(sum({h32_sql('key')} % 1000003) AS BIGINT) AS hash_sum "
        f"FROM ({_TERA_SQL_SRC})",
        "Q-gen-2/Q-sort-3 TeraGen+TeraSort+TeraValidate (examples/.../terasort/TeraSort.java:50)",
    ),
    "q_proj_fieldsel": QueryDef(
        _proj_fieldsel,
        "SELECT l[3] || '|' || l[1] || '|' || array_to_string(l[4:], '|') AS selected FROM ("
        "SELECT str_split(CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR) || '|' "
        "|| o_orderstatus || '|' || o_orderpriority || '|' || CAST(o_orderkey % 7 AS VARCHAR), '|') AS l "
        "FROM orders)",
        "Q-proj-1 FieldSelectionMapReduce spec '2,0,3-' (mapred/lib/FieldSelectionMapReduce.java:25)",
    ),
    "q_proj_chain": QueryDef(
        _proj_chain,
        "SELECT lower(c_mktsegment) AS seg, count(*) AS n, round(sum(c_acctbal), 2) AS bal "
        "FROM customer WHERE c_acctbal > 0 GROUP BY 1",
        "Q-proj-2 ChainMapper == single composed query (mapred/lib/ChainMapper.java:90)",
    ),
    "q_filter_grep": QueryDef(
        _filter_grep,
        "SELECT match, count(*) AS cnt FROM ("
        "SELECT unnest(regexp_extract_all(text, '\\bb[a-z]+')) AS match FROM documents) GROUP BY 1",
        "Q-filter-1 RegexMapper grep (mapred/lib/RegexMapper.java:35)",
    ),
    "q_sort_keyfield": QueryDef(
        _sort_keyfield,
        f"SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(rn * ({h32_sql('o_orderkey')} % 97)) AS BIGINT) "
        "AS ordered_checksum FROM (SELECT o_orderkey, row_number() OVER "
        "(ORDER BY o_orderpriority ASC NULLS FIRST, o_totalprice DESC NULLS LAST, "
        "o_orderkey ASC NULLS FIRST) AS rn FROM orders)",
        "Q-sort-1 KeyFieldBasedComparator (mapred/lib/KeyFieldBasedComparator.java:33)",
    ),
    "q_sort_keyfield_offsets": QueryDef(
        _sort_keyfield_offsets,
        _keyfield_offsets_sql(),
        "Q-sort-1b KeyFieldBasedComparator -k f.c,f.c[n][r] char-offset specs "
        "(mapred/lib/KeyFieldHelper.java:31-39, KeyFieldBasedComparator.java:33-120)",
    ),
    "q_sort_total_order": QueryDef(
        _sort_total_order,
        "SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(rn * ((l_orderkey*7 + l_linenumber) % 1000003)) AS BIGINT) "
        "AS ordered_checksum FROM (SELECT l_orderkey, l_linenumber, row_number() OVER "
        "(ORDER BY l_orderkey, l_linenumber) AS rn FROM lineitem)",
        "Q-sort-2 TotalOrderPartitioner global sort (mapred/lib/TotalOrderPartitioner.java:41)",
    ),
    "q_sort_secondary": QueryDef(
        _sort_secondary,
        "SELECT l_orderkey, string_agg(CAST(l_linenumber AS VARCHAR), ',' "
        "ORDER BY l_quantity DESC NULLS LAST, l_linenumber ASC) AS lines "
        "FROM lineitem GROUP BY l_orderkey",
        "Q-sort-4 secondary sort (examples/.../SecondarySort.java:57, JobConf.java:708)",
    ),
    "q_top_tokens": QueryDef(
        _top_tokens,
        "SELECT word, cnt FROM (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM ("
        f"SELECT unnest({words_sql('text')}) AS word "
        "FROM documents) GROUP BY word) ORDER BY cnt DESC, word ASC LIMIT 10",
        "Q-top-1 Grep job 2 top-k (examples/.../Grep.java:71-84)",
    ),
}


# --- unpivot / melt (wide -> long reshape) -----------------------------------
def _proj_unpivot(spark: SparkSession, sf: str) -> DataFrame:
    """Melt four lineitem measure columns into (metric, value) rows —
    the wide->long reshape feeding any per-metric pipeline. Spark's
    native unpivot (Expand node: one pass, no join/shuffle, 1->4 rows
    per input); values normalized to integer "milli" units so the long
    table is cross-engine exact despite mixed scales. Thinned to every
    50th order so the declared result stays bounded."""
    li = T(spark, sf, "lineitem").where(F.col("l_orderkey") % 50 == 0)
    wide = li.select(
        "l_orderkey",
        "l_linenumber",
        *[
            F.round(F.col(c) * 1000, 0).cast("long").alias(c)
            for c in ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        ],
    )
    return wide.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "metric",
        "value_milli",
    )


_UNPIVOT_SQL = """
WITH base AS (SELECT * FROM lineitem WHERE l_orderkey % 50 = 0)
SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
       CAST(round(l_quantity * 1000, 0) AS BIGINT) AS value_milli FROM base
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice',
       CAST(round(l_extendedprice * 1000, 0) AS BIGINT) FROM base
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount',
       CAST(round(l_discount * 1000, 0) AS BIGINT) FROM base
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_tax',
       CAST(round(l_tax * 1000, 0) AS BIGINT) FROM base
"""

QUERIES["q_proj_unpivot"] = QueryDef(
    _proj_unpivot,
    _UNPIVOT_SQL,
    "unpivot/melt wide->long via the native Expand node (one pass, no "
    "shuffle); oracle replays as UNION ALL",
)
