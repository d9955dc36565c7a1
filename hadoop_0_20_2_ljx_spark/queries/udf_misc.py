"""Declared queries: UDF surface, skip-bad-records, Pi, JSON scalar,
streaming-batch extras (Q-udf-1/2, Q-filter-2, Q-num-1, Q-fn-1,
Q-stream-1/2 — SURVEY.md §2.3/2.8/2.9/2.10).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from hadoop_0_20_2_ljx_spark.operators.generators import halton_pi_exact, pi_estimate
from hadoop_0_20_2_ljx_spark.queries.agg import _HISTOGRAM_SQL
from hadoop_0_20_2_ljx_spark.queries.base import QueryDef, T, scratch_dir, words_sql
from hadoop_0_20_2_ljx_spark.streaming.windows import sessionize, tumbling_counts


# --- Q-udf-1: scalar Python UDF (Arrow-vectorized) ---------------------------
def _udf_scalar(spark: SparkSession, sf: str) -> DataFrame:
    """The reference's Mapper-as-UDF surface (mapred/Mapper.java:133) as a
    vectorized pandas UDF — Arrow batches, not row-at-a-time."""

    @pandas_udf("string")
    def rev_upper(s: pd.Series) -> pd.Series:
        return s.str.upper().map(lambda x: x[::-1] if x is not None else None)

    return T(spark, sf, "customer").select(
        "c_custkey", rev_upper(F.col("c_name")).alias("rname")
    )


# --- Q-udf-2: grouped pandas UDAF re-implementing ValueHistogram -------------
def _udf_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """UserDefinedValueAggregatorDescriptor surface
    (mapred/lib/aggregate/UserDefinedValueAggregatorDescriptor.java:35):
    a custom aggregator as applyInPandas. Reproduces the ValueHistogram
    report (same output contract as q_agg_histogram) in Python — the
    'plugin UDAF' path, whereas q_agg_histogram is the built-in path."""
    ev = T(spark, sf, "events").withColumn("bucket", F.col("user_id") % 100)

    def hist(pdf: pd.DataFrame) -> pd.DataFrame:
        # dropna=False (r9): pandas' groupby default silently DROPS null
        # values, so a null event_type vanished from the histogram where
        # the built-in twin (q_agg_histogram) and the SQL oracle count it
        # as its own group — found by the 30%-nulled differential replay
        freqs = (
            pdf.groupby("event_type", dropna=False)
            .size()
            .sort_values(kind="stable")
            .values
        )
        n = len(freqs)
        import math

        mean = float(freqs.sum()) / n
        var = float(((freqs - mean) ** 2).sum()) / n
        return pd.DataFrame(
            {
                "bucket": [pdf["bucket"].iloc[0]],
                "n_items": [int(freqs.sum())],
                "n_unique": [n],
                "min_freq": [int(freqs.min())],
                "max_freq": [int(freqs.max())],
                "median_freq": [int(sorted(freqs)[n // 2])],
                # half-AWAY-from-zero at 6 decimals (floor(x*1e6+0.5) on
                # nonnegative values) — Python round() is half-to-even and
                # can diverge from the oracle's round() on exact-.5 digits
                "avg_freq": [math.floor(mean * 1e6 + 0.5) / 1e6],
                "stddev_freq": [math.floor(math.sqrt(var) * 1e6 + 0.5) / 1e6],
            }
        )

    return ev.groupBy("bucket").applyInPandas(
        hist,
        schema="bucket long, n_items long, n_unique long, min_freq long, max_freq long, "
        "median_freq long, avg_freq double, stddev_freq double",
    )


# --- Q-filter-2: SkipBadRecords / malformed-line drop ------------------------
def _filter_skipbad(spark: SparkSession, sf: str) -> DataFrame:
    """Render orders as delimited text with ~1% deterministically corrupted
    lines (delimiters stripped when o_orderkey % 100 == 7, FIXTURES.md),
    then parse with DROPMALFORMED — the declarative SkipBadRecords
    (mapred/SkipBadRecords.java:51): bad records skipped, not fatal."""
    o = T(spark, sf, "orders")
    line = F.concat_ws(
        "|",
        F.col("o_orderkey"),
        F.col("o_custkey"),
        F.col("o_orderstatus"),
        F.col("o_orderpriority"),
    )
    dirty = o.select(
        F.when(F.col("o_orderkey") % 100 == 7, F.regexp_replace(line, r"\|", ""))
        .otherwise(line)
        .alias("value")
    )
    # pid-suffixed + atexit-cleaned like every sink scratch dir
    # (queries/base.py:scratch_dir) — concurrent gate runs must not
    # clobber each other, and no run may leak the dir (r6 ADVICE)
    path = scratch_dir("q_filter_skipbad")
    dirty.write.mode("overwrite").text(path)
    parsed = spark.read.csv(
        path,
        sep="|",
        schema="o_orderkey long, o_custkey long, o_orderstatus string, o_orderpriority string",
        mode="DROPMALFORMED",
    )
    # corrupted lines concatenate all fields into a non-numeric first token
    # -> bigint parse fails -> row dropped
    return parsed.filter(F.col("o_orderkey").isNotNull()).agg(
        F.count("*").alias("n_good"), F.sum(F.col("o_orderkey") % 1000003).alias("key_sum")
    )


# --- Q-num-1: PiEstimator ----------------------------------------------------
_PI_N = 10000


def _num_pi(spark: SparkSession, sf: str) -> DataFrame:
    return pi_estimate(spark, _PI_N)


# --- Q-fn-1: JSON scalar over events.props -----------------------------------
def _fn_json(spark: SparkSession, sf: str) -> DataFrame:
    ev = T(spark, sf, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return ev.select((k % 10).alias("k_mod")).groupBy("k_mod").agg(F.count("*").alias("n"))


# --- Q-fn-2: Record IDL compile + CSV wire roundtrip -------------------------
_ORDER_IDL = """
module ljx.examples {
  class OrderRec {
    long okey;
    ustring status;
    double price;
  }
}
"""


def _fn_recordio(spark: SparkSession, sf: str) -> DataFrame:
    """rcc IDL -> StructType -> CSV *and* binary wire forms -> parse back
    -> aggregate; any roundtrip corruption in either codec breaks the
    checksum (record/compiler grammar rcc.jj:154-171, CsvRecordInput.java,
    BinaryRecordOutput.java:68-118). The binary path is exact (vint longs,
    IEEE doubles), so its decoded aggregates must equal the CSV path's —
    the oracle computes both from the base table."""
    from hadoop_0_20_2_ljx_spark.functions import recordio

    schema = recordio.schema_from_idl(_ORDER_IDL, "OrderRec")
    o = T(spark, sf, "orders").select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    packed = recordio.pack(o, ["okey", "status", "price"])
    back = recordio.unpack(
        recordio.from_csv_records(recordio.to_csv_records(packed), recordio.ddl(schema))
    )
    bin_back = recordio.unpack(
        recordio.from_binary_records(
            recordio.to_binary_records(packed), schema
        )
    )
    bin_agg = bin_back.agg(
        F.sum(F.col("okey") % 1000003).alias("bin_key_sum"),
        F.round(F.sum("price"), 2).alias("bin_total_price"),
    )
    return back.agg(
        F.count("*").alias("n"),
        F.sum(F.col("okey") % 1000003).alias("key_sum"),
        F.round(F.sum("price"), 2).alias("total_price"),
    ).crossJoin(bin_agg)


# --- Q-udf-3: Python UDTF (one input row -> many output rows) ----------------
def _udf_tokenize_udtf(spark: SparkSession, sf: str) -> DataFrame:
    """The reference Mapper's 1->N emission contract
    (mapred/Mapper.java:124-158: map() may collect any number of records,
    e.g. TokenCountMapper emitting one pair per token) as a Spark 4 Python
    UDTF in a LATERAL join. Top tokens with positional stats; the DuckDB
    oracle zips parallel unnests for the same (token, pos) stream."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, token string")
    class Tokenize:
        # the ONE corpus tokenizer contract (textstats.tokens_sql =
        # Java-regex \s+, i.e. [ \t\n\x0b\f\r]+): Python str.split()
        # splits on UNICODE whitespace (NBSP, ideographic space, ...),
        # which silently diverged from every relational text op on
        # non-ASCII text — found r8 by a unicode-salted differential
        # replay, pinned in tests/test_unicode_boundary.py. Compiled once
        # at class level, not in eval() (per-row path; r8 ADVICE).
        _WS = re.compile(r"[ \t\n\x0b\f\r]+")

        def eval(self, text: str):  # noqa: ANN001
            for i, w in enumerate(t for t in self._WS.split(text or "") if t):
                yield i, w

    spark.udtf.register("lateral_tokenize", Tokenize)
    T(spark, sf, "documents").createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        """
        SELECT t.token, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(t.pos) AS BIGINT) AS pos_sum
        FROM _udtf_docs d, LATERAL lateral_tokenize(d.text) t
        GROUP BY t.token ORDER BY n DESC, t.token LIMIT 10
        """
    )


_UDTF_SQL = f"""WITH toks AS (
  SELECT unnest(w) AS token,
         unnest(generate_series(1, len(w))) - 1 AS pos
  FROM (SELECT {words_sql('text')} AS w
        FROM documents)
)
SELECT token, CAST(count(*) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS pos_sum
FROM toks GROUP BY token ORDER BY n DESC, token LIMIT 10
"""


# --- Q-fn-3: distributed pentomino (prefix-split exact cover) ----------------
def _fn_pentomino(spark: SparkSession, sf: str) -> DataFrame:
    """DistributedPentomino.java:40-60 on the 3x20 board with the symmetry
    prune off: the full raw solution set is exactly 8 (the two published
    distinct tilings x the board's 4 symmetries) — an exact-count oracle in
    the q_num_pi style. n_distinct canonicalizes each solution under the
    symmetry group inside a task-side closure (8 rows; not a hot path)."""
    from hadoop_0_20_2_ljx_spark.operators.dancing import distributed_pentomino

    sols = distributed_pentomino(
        spark, width=20, height=3, depth=2, restrict_first=False
    )

    @pandas_udf("string")
    def canon(s: pd.Series) -> pd.Series:
        def one(b: str) -> str:
            g = [b[i * 20 : (i + 1) * 20] for i in range(3)]
            forms = {
                "".join(f)
                for f in (g, [r[::-1] for r in g], g[::-1], [r[::-1] for r in g[::-1]])
            }
            return min(forms)

        return s.map(one)

    return sols.agg(
        F.count("*").alias("n_solutions"),
        F.countDistinct(canon(F.col("solution"))).alias("n_distinct"),
    )


# --- Q-stream-3: stream-stream interval join (batch-equivalent) --------------
def _stream_interval_join(spark: SparkSession, sf: str) -> DataFrame:
    """Attribution join: each error event paired with same-user signup
    events in the preceding hour. Streaming form (watermarked stream-stream
    join) asserted equal in tests/test_streaming.py."""
    from hadoop_0_20_2_ljx_spark.streaming.joins import interval_join

    ev = T(spark, sf, "events")
    errors = ev.filter(F.col("event_type") == "error")
    signups = ev.filter(F.col("event_type") == "signup")
    j = interval_join(errors, signups, "user_id", lookback_seconds=3600)
    return j.agg(
        F.count("*").alias("n_pairs"),
        F.sum(F.col("left_id") % 1000003).alias("left_hash"),
        F.sum(F.col("right_id") % 1000003).alias("right_hash"),
    )


_INTERVAL_JOIN_SQL = """
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
  CAST(sum(l.event_id % 1000003) AS BIGINT) AS left_hash,
  CAST(sum(r.event_id % 1000003) AS BIGINT) AS right_hash
FROM (SELECT * FROM events WHERE event_type = 'error') l
JOIN (SELECT * FROM events WHERE event_type = 'signup') r
  ON l.user_id = r.user_id
 AND r.ts <= l.ts
 AND r.ts > l.ts - INTERVAL 1 HOUR
"""


# --- Q-stream-1: tumbling window (batch-equivalent semantics) ----------------
def _stream_tumbling(spark: SparkSession, sf: str) -> DataFrame:
    return tumbling_counts(T(spark, sf, "events"), "1 hour")


# --- Q-stream-4: watermark late-data accounting ------------------------------
def _stream_late_data(spark: SparkSession, sf: str) -> DataFrame:
    """Terminal state of a 2h event-time watermark over the events table:
    a row is 'late' (dropped by a watermarked streaming agg once the
    stream has advanced to max(ts)) iff ts < max(ts) - 2h. The global
    high-water mark is a 1-row broadcast aggregate; the data-sized pass
    is one stateless comparison + groupBy — the batch twin of
    streaming/windows.py's withWatermark forms."""
    ev = T(spark, sf, "events").select("event_type", F.unix_micros("ts").alias("t_us"))
    hwm = ev.agg((F.max("t_us") - F.lit(7_200_000_000)).alias("thr"))
    return (
        ev.join(F.broadcast(hwm))
        .groupBy("event_type")
        .agg(
            F.sum((F.col("t_us") < F.col("thr")).cast("long")).alias("n_late"),
            F.sum((F.col("t_us") >= F.col("thr")).cast("long")).alias("n_kept"),
        )
    )


_LATE_DATA_SQL = """
WITH hwm AS (SELECT max(epoch_us(ts)) - 7200000000 AS thr FROM events)
SELECT event_type,
       CAST(sum(CASE WHEN epoch_us(ts) < thr THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       CAST(sum(CASE WHEN epoch_us(ts) >= thr THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM events CROSS JOIN hwm
GROUP BY 1
"""


# --- Q-stream-2: sessionization ----------------------------------------------
def _stream_session(spark: SparkSession, sf: str) -> DataFrame:
    s = sessionize(T(spark, sf, "events"), gap_seconds=1800)
    return s.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
        F.max("session_start").alias("last_session_start"),
    )


_SESSION_SQL = """
WITH gaps AS (
  SELECT user_id, ts,
    CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800
         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
    THEN 1 ELSE 0 END AS new_session
  FROM events
  WHERE ts IS NOT NULL
), sids AS (
  SELECT user_id, ts,
    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM gaps
), sessions AS (
  SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
    strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start
  FROM sids GROUP BY 1, 2
)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
  CAST(sum(n_events) AS BIGINT) AS n_events,
  max(session_start) AS last_session_start
FROM sessions GROUP BY user_id
"""


QUERIES: dict[str, QueryDef] = {
    "q_udf_scalar": QueryDef(
        _udf_scalar,
        "SELECT c_custkey, reverse(upper(c_name)) AS rname FROM customer",
        "Q-udf-1 Mapper-as-UDF, Arrow-vectorized (mapred/Mapper.java:133)",
    ),
    "q_udf_histogram": QueryDef(
        _udf_histogram,
        _HISTOGRAM_SQL,  # same contract as q_agg_histogram's oracle
        "Q-udf-2 plugin UDAF via applyInPandas "
        "(mapred/lib/aggregate/UserDefinedValueAggregatorDescriptor.java:35)",
    ),
    "q_filter_skipbad": QueryDef(
        _filter_skipbad,
        "SELECT CAST(count(*) AS BIGINT) AS n_good, CAST(sum(o_orderkey % 1000003) AS BIGINT) AS key_sum "
        "FROM orders WHERE o_orderkey % 100 <> 7",
        "Q-filter-2 SkipBadRecords -> DROPMALFORMED (mapred/SkipBadRecords.java:51)",
    ),
    "q_num_pi": QueryDef(
        _num_pi,
        f"SELECT CAST({halton_pi_exact(_PI_N)} AS DOUBLE) AS pi_est, {_PI_N} AS n_points",
        "Q-num-1 PiEstimator Halton sequence — exact expected value at fixed N "
        "(examples/.../PiEstimator.java:154)",
    ),
    "q_fn_json": QueryDef(
        _fn_json,
        "SELECT CAST(regexp_extract(props, '\"k\": ([0-9]+)', 1) AS BIGINT) % 10 AS k_mod, "
        "CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1",
        "Q-fn-1 (engine extra) JSON scalar — absent in the reference",
    ),
    "q_fn_recordio": QueryDef(
        _fn_recordio,
        "SELECT CAST(count(*) AS BIGINT) AS n, "
        "CAST(sum(o_orderkey % 1000003) AS BIGINT) AS key_sum, "
        "round(sum(o_totalprice), 2) AS total_price, "
        "CAST(sum(o_orderkey % 1000003) AS BIGINT) AS bin_key_sum, "
        "round(sum(o_totalprice), 2) AS bin_total_price FROM orders",
        "Q-fn-2 Record IDL: rcc DDL compiled to a Spark schema, CSV + binary "
        "wire roundtrips (record/compiler/generated/rcc.jj:154-171, "
        "RccConstants.java:25-46, BinaryRecordOutput.java:68-118)",
    ),
    "q_udf_tokenize_udtf": QueryDef(
        _udf_tokenize_udtf,
        _UDTF_SQL,
        "Q-udf-3 Python UDTF in a LATERAL join — the Mapper 1->N emission "
        "contract (mapred/Mapper.java:124-158, TokenCountMapper)",
    ),
    "q_fn_pentomino": QueryDef(
        _fn_pentomino,
        "SELECT CAST(8 AS BIGINT) AS n_solutions, CAST(2 AS BIGINT) AS n_distinct",
        "Q-fn-3 DistributedPentomino: prefix-split exact-cover search, 3x20 "
        "board — exact published solution count as oracle "
        "(examples/dancing/DistributedPentomino.java:40-60, Pentomino.java:269)",
    ),
    "q_stream_late_data": QueryDef(
        _stream_late_data,
        _LATE_DATA_SQL,
        "Q-stream-4 (engine extra) watermark late-data accounting — the "
        "terminal state of a 2h-watermark stream: per type, rows a "
        "streaming agg would have dropped vs kept",
    ),
    "q_stream_tumbling": QueryDef(
        _stream_tumbling,
        "SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start, "
        "event_type, CAST(count(*) AS BIGINT) AS cnt FROM events "
        "WHERE ts IS NOT NULL GROUP BY 1, 2",
        "Q-stream-1 (engine extra) tumbling event-time window — reference is batch-only "
        "(SURVEY.md §2.10)",
    ),
    "q_stream_session": QueryDef(
        _stream_session,
        _SESSION_SQL,
        "Q-stream-2 (engine extra) 30-min-gap sessionization — reference is batch-only",
    ),
    "q_stream_interval_join": QueryDef(
        _stream_interval_join,
        _INTERVAL_JOIN_SQL,
        "Q-stream-3 (engine extra) stream-stream time-interval join "
        "(watermark-bounded state; streaming==batch asserted in tests)",
    ),
}


# --- cogrouped applyInPandas: the tagged-value reduce-side join --------------
def _udf_cogroup(spark: SparkSession, sf: str) -> DataFrame:
    """Per-key custom merge of TWO grouped inputs via
    groupBy().cogroup().applyInPandas — Spark's rendering of the
    reference's reduce-side join contract (join/DataJoinReducerBase.java
    tagged WritableComparable streams arriving at one reducer call;
    MultipleInputs + a shared key). Each Arrow batch carries one key's
    rows from both sides; the pandas fn reconciles the order header
    against its lineitems. All outputs are exact integers (per-row cent
    rounding, integral quantities), so the result hash-matches the
    oracle's relational replay.

    Scale shape: cogroup = one co-partitioned shuffle of both inputs on
    the key (exactly the reference's reduce-side join I/O); the UDF is
    Arrow-batched. Inputs thinned to every 20th order so the declared
    result stays bounded."""
    orders = (
        T(spark, sf, "orders")
        .where(F.col("o_orderkey") % 20 == 0)
        .select("o_orderkey", "o_totalprice")
    )
    li = (
        T(spark, sf, "lineitem")
        .where(F.col("l_orderkey") % 20 == 0)
        .select("l_orderkey", "l_quantity", "l_extendedprice")
    )

    def merge(key, odf: pd.DataFrame, ldf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if len(odf) == 0:  # lineitem orphan (none exist; RI-checked) — drop
            return pd.DataFrame(
                columns=["o_orderkey", "n_items", "sum_qty", "item_cents", "total_cents"]
            )
        # half-AWAY-from-zero per-row cent rounding (np.floor(x+0.5) on
        # nonnegative prices), matching DuckDB round() and F.round —
        # Series.round/Python round are half-to-even and can diverge on
        # exact-.5 products (repo determinism rule: same rounding BOTH sides)
        #
        # NULL contract (r10 pin): SQL aggregate semantics — sum() skips
        # NULL measurements (pandas skipna=True matches; an all-null sum
        # is 0 via the oracle's coalesce), and a NULL o_totalprice yields
        # a NULL total_cents (int(NaN) raised on the nulled replay).
        item_cents = (
            int(np.floor(ldf["l_extendedprice"] * 100 + 0.5).sum()) if len(ldf) else 0
        )
        tp = odf["o_totalprice"].iloc[0]
        return pd.DataFrame(
            [
                [
                    int(key[0]),
                    len(ldf),
                    int(ldf["l_quantity"].sum()) if len(ldf) else 0,
                    item_cents,
                    int(np.floor(tp * 100 + 0.5)) if pd.notna(tp) else None,
                ]
            ],
            columns=["o_orderkey", "n_items", "sum_qty", "item_cents", "total_cents"],
        )

    return (
        orders.groupBy("o_orderkey")
        .cogroup(li.groupBy("l_orderkey"))
        .applyInPandas(
            merge,
            "o_orderkey long, n_items long, sum_qty long, item_cents long, "
            "total_cents long",
        )
    )


_COGROUP_SQL = """
WITH o AS (
  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 20 = 0
), l AS (
  SELECT l_orderkey, l_quantity, l_extendedprice FROM lineitem WHERE l_orderkey % 20 = 0
)
SELECT o.o_orderkey,
       CAST(count(l.l_orderkey) AS BIGINT) AS n_items,
       CAST(coalesce(sum(CAST(l_quantity AS BIGINT)), 0) AS BIGINT) AS sum_qty,
       CAST(coalesce(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)), 0) AS BIGINT)
         AS item_cents,
       CAST(round(o_totalprice * 100, 0) AS BIGINT) AS total_cents
FROM o LEFT JOIN l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderkey, o_totalprice
"""

QUERIES["q_udf_cogroup"] = QueryDef(
    _udf_cogroup,
    _COGROUP_SQL,
    "Q-udf-4 (engine extra) cogrouped applyInPandas — the reference's "
    "tagged-value reduce-side join contract as an Arrow-batched UDF",
)


# --- pipes / Streaming line protocol as a declared query ---------------------
def _udf_pipes(spark: SparkSession, sf: str) -> DataFrame:
    """The Hadoop Pipes / Streaming external-process contract
    (mapred/pipes/Application.java:177, Submitter.java:67) as an
    oracle-gated query: orders rows stream line-per-record through an
    external `sed` process (one process per partition, stdin/stdout
    backpressure — functions/pipes.py), which rewrites status F to
    FULL; the re-parsed rows aggregate to a result DuckDB replays
    relationally. `sed` stands in for the user executable — POSIX,
    present on any executor image; on a cluster ship the real binary
    via spark.files (the DistributedCache model)."""
    from hadoop_0_20_2_ljx_spark.functions.pipes import pipe_records
    from hadoop_0_20_2_ljx_spark.session import ship_package

    ship_package(spark)  # rdd lambdas reference package modules
    src = T(spark, sf, "orders").select("o_orderkey", "o_orderstatus")
    piped = pipe_records(
        src, "sed s/F/FULL/", "o_orderkey long, o_orderstatus string"
    )
    return piped.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("o_orderkey") % 1000003).cast("long").alias("key_sum"),
    )


_PIPES_SQL = """
SELECT CASE WHEN o_orderstatus = 'F' THEN 'FULL' ELSE o_orderstatus END AS o_orderstatus,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(o_orderkey % 1000003) AS BIGINT) AS key_sum
FROM orders GROUP BY 1
"""

QUERIES["q_udf_pipes"] = QueryDef(
    _udf_pipes,
    _PIPES_SQL,
    "Q-udf-5 (pipes surface) external-process line-protocol transform "
    "(mapred/pipes, contrib Streaming contract) — sed per partition, "
    "result replayed relationally",
)
