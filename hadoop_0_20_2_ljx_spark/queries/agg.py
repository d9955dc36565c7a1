"""Declared queries: aggregation library (Q-agg-1..7, SURVEY.md §2.5).

Spark's HashAggregate always runs partial (map-side combiner,
MapTask.java:1298) + final — every query here gets the reference's
combiner optimization automatically. Float sums are rounded identically
on both sides because summation order is engine-dependent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_0_20_2_ljx_spark.operators import aggregates
from hadoop_0_20_2_ljx_spark.queries.base import QueryDef, T, h32_sql, words_sql
from hadoop_0_20_2_ljx_spark.pinning import pin


# --- Q-agg-1: WordCount ------------------------------------------------------
def _wordcount(spark: SparkSession, sf: str) -> DataFrame:
    return aggregates.word_count(T(spark, sf, "documents"), "text")


# --- Q-agg-2: TPC-H Q1 shape -------------------------------------------------
def _tpch_q1(spark: SparkSession, sf: str) -> DataFrame:
    li = T(spark, sf, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-12-01"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "sum_disc_price"
        ),
        F.round(
            F.sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
            ),
            2,
        ).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


# --- Q-agg-3: min/max aggregators --------------------------------------------
def _minmax(spark: SparkSession, sf: str) -> DataFrame:
    return aggregates.multi_aggregate(
        T(spark, sf, "orders"),
        "o_orderpriority",
        {
            "min_price": F.min("o_totalprice"),
            "max_price": F.max("o_totalprice"),
            "n": F.count("*"),
        },
    )


# --- Q-agg-4: UniqValueCount exact -------------------------------------------
def _distinct_per_bucket(spark: SparkSession, sf: str) -> DataFrame:
    li = T(spark, sf, "lineitem").withColumn("bucket", F.col("l_partkey") % 100)
    return aggregates.uniq_value_count(li, "bucket", "l_suppkey", approx=False)


# --- Q-agg-4b: UniqValueCount capped == approx -------------------------------
# Oracle-gradeable form: the HLL++ estimate itself is engine-specific (no
# DuckDB hash match possible), but its CONTRACT is oracle-expressible —
# |approx - exact| / exact <= bound. So the query emits, per bucket, the
# exact distinct count (value-hashed against DuckDB like any other column)
# plus `approx_ok`, Spark-side evidence the estimate met the bound; the
# oracle pins approx_ok to TRUE. A broken HLL would flip approx_ok to
# false and fail the hash — a real gate, not rows-only. Bound: rsd=0.05 is
# HLL++'s standard deviation, so 4*rsd catches a broken sketch without
# flaking on an honest one (and small buckets sit in exact sparse mode).
def _approx_distinct_per_bucket(spark: SparkSession, sf: str) -> DataFrame:
    li = T(spark, sf, "lineitem").withColumn("bucket", F.col("l_partkey") % 100)
    both = li.groupBy("bucket").agg(
        F.countDistinct("l_suppkey").alias("uniq_cnt"),
        F.approx_count_distinct("l_suppkey", rsd=0.05).alias("_approx"),
    )
    return both.select(
        "bucket",
        "uniq_cnt",
        (
            F.abs(F.col("_approx") - F.col("uniq_cnt")) / F.col("uniq_cnt") <= F.lit(0.2)
        ).alias("approx_ok"),
    )


# --- Q-agg-5: ValueHistogram -------------------------------------------------
def _histogram(spark: SparkSession, sf: str) -> DataFrame:
    ev = T(spark, sf, "events")
    out = aggregates.value_histogram(ev, (F.col("user_id") % 100).alias("bucket"), "event_type")
    return out.withColumnRenamed("hkey", "bucket")


_HISTOGRAM_SQL = """
WITH freqs AS (
  SELECT user_id % 100 AS bucket, event_type, CAST(count(*) AS BIGINT) AS freq
  FROM events GROUP BY 1, 2
)
SELECT bucket,
  CAST(sum(freq) AS BIGINT) AS n_items,
  CAST(count(*) AS BIGINT) AS n_unique,
  min(freq) AS min_freq,
  max(freq) AS max_freq,
  list_sort(list(freq))[CAST(floor(count(*) / 2) AS INT) + 1] AS median_freq,
  round(avg(freq), 6) AS avg_freq,
  round(coalesce(stddev_pop(freq), 0.0), 6) AS stddev_freq
FROM freqs GROUP BY bucket
"""


# --- Q-agg-6: ValueAggregatorJob one-pass multi-aggregate --------------------
def _multi_agg(spark: SparkSession, sf: str) -> DataFrame:
    return aggregates.multi_aggregate(
        T(spark, sf, "events"),
        "event_type",
        {
            "sum_value": F.round(F.sum("value"), 2),
            "min_value": F.min("value"),
            "max_value": F.max("value"),
            "n": F.count("*"),
            "n_users": F.countDistinct("user_id"),
        },
    )


# --- Q-agg-7 (extra): rollup -------------------------------------------------
def _rollup(spark: SparkSession, sf: str) -> DataFrame:
    return (
        T(spark, sf, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
    )


# --- Q-agg-8 (extra): cube ---------------------------------------------------
def _cube(spark: SparkSession, sf: str) -> DataFrame:
    return (
        T(spark, sf, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )


# --- Q-agg-8b (extra): grouping sets + pivot ---------------------------------
def _grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form rollup/cube specialize):
    {(status), (priority), ()} over orders, with grouping_id to
    disambiguate the all-NULL total row from genuine NULL keys."""
    T(spark, sf, "orders").createOrReplaceTempView("_gs_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(o_totalprice), 2) AS revenue
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


def _pivot(spark: SparkSession, sf: str) -> DataFrame:
    """Pivot event counts into one column per event type (explicit value
    list, so the plan needs no extra distinct-values job and stays
    deterministic)."""
    types = ["click", "view", "purchase", "signup", "error"]
    return (
        T(spark, sf, "events")
        .withColumn("bucket", F.col("user_id") % 10)
        .groupBy("bucket")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .select(
            "bucket", *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}") for t in types]
        )
    )


_PIVOT_SQL = """
SELECT user_id % 10 AS bucket,
  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
FROM events GROUP BY 1
"""


# --- Q-agg-5b (extra): equi-width numeric histogram --------------------------
def _numeric_hist(spark: SparkSession, sf: str) -> DataFrame:
    """Equi-width value histogram of order totals (50k-wide buckets via
    constant floor-division — one partial+final agg, no sort). The
    continuous-value companion of the categorical ValueHistogram
    (reference ValueHistogram.java:35)."""
    return (
        T(spark, sf, "orders")
        .groupBy(
            F.floor(F.col("o_totalprice") / F.lit(50000.0)).cast("long").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


_NUMERIC_HIST_SQL = """
SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n, round(sum(o_totalprice), 2) AS total
FROM orders GROUP BY 1
"""


# --- Q-agg-6b (extra): statistical aggregates (corr / covar / stddev) --------
def _stats_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Per-flag correlation / sample covariance / sample stddev of
    lineitem quantity vs extended price. Single-pass merged-moments
    aggregation in both engines; rounded because the merge order differs."""
    return (
        T(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qp"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("covar_qp"),
            F.round(F.stddev_samp("l_extendedprice"), 2).alias("sd_price"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )


_STATS_SQL = """
SELECT l_returnflag,
       round(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
       round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qp,
       round(stddev_samp(l_extendedprice), 2) AS sd_price,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem GROUP BY 1
"""


# --- Q-agg-13 (extra): deterministic string aggregation ----------------------
def _string_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Per-status sorted roster of distinct priorities as one delimited
    string. collect_set is order-nondeterministic, so sort_array before
    joining — the only way string aggregation is reproducible across
    partitionings (and the only form an oracle can match)."""
    return (
        T(spark, sf, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.array_join(F.sort_array(F.collect_set("o_orderpriority")), ",").alias(
                "priorities"
            ),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )


_STRING_AGG_SQL = """
SELECT o_orderstatus,
       string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS priorities,
       CAST(count(*) AS BIGINT) AS n
FROM orders GROUP BY 1
"""


# --- Q-agg-12 (extra): hot-key skew diagnosis --------------------------------
def _hot_keys(spark: SparkSession, sf: str) -> DataFrame:
    """Skew diagnosis over event types (operators/skew.py top_hot_keys).
    top_n exceeds the key cardinality here so the oracle needs no LIMIT —
    the top-k cutoff itself is plan-asserted in tests/test_skew.py."""
    from hadoop_0_20_2_ljx_spark.operators import skew

    return skew.top_hot_keys(T(spark, sf, "events"), "event_type", top_n=50)


# --- Q-agg-11 (extra): table profiling (ANALYZE-style column stats) ----------
_PROFILE_NUM = ("l_quantity", "l_extendedprice", "l_discount")
_PROFILE_STR = ("l_returnflag", "l_linestatus")


def _profile(spark: SparkSession, sf: str) -> DataFrame:
    """Column-statistics profile of lineitem (null count, exact distinct,
    min/max) for 3 numeric + 2 string columns — the ANALYZE TABLE /
    data-quality pass. ONE scan: a single aggregate computes every
    per-column stat, then an explode unpivots to one row per column
    (numeric min/max printf'd at fixed precision so both engines render
    identically).

    Non-finite contract (r10 pin): a NaN/Infinity min or max renders as
    the explicit tokens 'NaN' / 'Infinity' / '-Infinity' on BOTH sides —
    float-to-string rendering beyond digits is engine-specific (Java
    printf says "NaN"/"Infinity", DuckDB printf says "nan"/"inf"), so a
    profile over a non-finite-salted column must not ride printf. Both
    engines already agree NaN ranks GREATEST (above +Infinity), so
    min/max themselves match; only the rendering needed the pin."""

    def _render(x: F.Column) -> F.Column:
        return (
            F.when(F.isnan(x), F.lit("NaN"))
            .when(x == F.lit(float("inf")), F.lit("Infinity"))
            .when(x == F.lit(float("-inf")), F.lit("-Infinity"))
            .otherwise(F.format_string("%.2f", x))
        )

    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in _PROFILE_NUM + _PROFILE_STR:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nn"),
            F.countDistinct(c).alias(f"{c}__nd"),
        ]
    for c in _PROFILE_NUM:
        aggs += [
            _render(F.min(c)).alias(f"{c}__mn"),
            _render(F.max(c)).alias(f"{c}__mx"),
        ]
    for c in _PROFILE_STR:
        aggs += [F.min(c).alias(f"{c}__mn"), F.max(c).alias(f"{c}__mx")]
    a = T(spark, sf, "lineitem").agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col("n_rows").cast("long").alias("n_rows"),
                F.col(f"{c}__nn").cast("long").alias("n_null"),
                F.col(f"{c}__nd").cast("long").alias("n_distinct"),
                F.col(f"{c}__mn").alias("min_s"),
                F.col(f"{c}__mx").alias("max_s"),
            )
            for c in _PROFILE_NUM + _PROFILE_STR
        ]
    )
    return a.select(F.explode(rows).alias("r")).select("r.*")


def _profile_oracle() -> str:
    # non-finite rendering pinned to 'NaN'/'Infinity'/'-Infinity' — the
    # _profile docstring contract (DuckDB printf would say nan/inf)
    def _r(e: str) -> str:
        return (
            f"CASE WHEN isnan({e}) THEN 'NaN' "
            f"WHEN {e} = 'infinity'::DOUBLE THEN 'Infinity' "
            f"WHEN {e} = '-infinity'::DOUBLE THEN '-Infinity' "
            f"ELSE printf('%.2f', {e}) END"
        )

    branches = []
    for c in _PROFILE_NUM:
        branches.append(
            f"SELECT '{c}' AS column, CAST(count(*) AS BIGINT) AS n_rows, "
            f"CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null, "
            f"CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct, "
            f"{_r(f'min({c})')} AS min_s, {_r(f'max({c})')} AS max_s "
            f"FROM lineitem"
        )
    for c in _PROFILE_STR:
        branches.append(
            f"SELECT '{c}', CAST(count(*) AS BIGINT), "
            f"CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT), "
            f"CAST(count(DISTINCT {c}) AS BIGINT), min({c}), max({c}) FROM lineitem"
        )
    return " UNION ALL ".join(branches)


# --- Q-agg-6c (extra): exact median + mode -----------------------------------
def _median_mode(spark: SparkSession, sf: str) -> DataFrame:
    """Exact per-group median (rank-based: avg of the one or two middle
    sorted values — no percentile interpolation, which differs between
    engines) and mode with a deterministic tie-break (highest count,
    then lowest value). Both sides compute the identical definition.
    The per-group sort is the unavoidable exact-median cost; groups
    partition the shuffle, so parallelism is by group at scale.

    NULL contract (r10 pin): median and mode are order statistics over
    the OBSERVED values — null prices and null statuses are excluded
    before ranking (percentile_cont semantics, queries/base.py); a NULL
    group key keeps its own group, so the med-x-mode recombining join is
    NULL-SAFE on both sides (a bare equi-join silently dropped it)."""
    from pyspark.sql.window import Window

    o = T(spark, sf, "orders").select(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_totalprice").alias("p"),
        F.col("o_orderstatus").alias("st"),
        F.col("o_orderkey").alias("ok"),
    )
    # ok tie-break: the median VALUE is permutation-invariant, but the
    # repo rule is every rank window orders totally (both engines do)
    wr = Window.partitionBy("pri").orderBy("p", "ok")
    wn = Window.partitionBy("pri")
    ranked = (
        o.where(F.col("p").isNotNull())
        .withColumn("rn", F.row_number().over(wr))
        .withColumn("n", F.count(F.lit(1)).over(wn))
    )
    med = (
        ranked.where(
            (F.col("rn") == F.floor((F.col("n") + 1) / 2))
            | (F.col("rn") == F.floor((F.col("n") + 2) / 2))
        )
        .groupBy("pri")
        .agg(F.round(F.avg("p"), 2).alias("median_price"))
    )
    cnt = (
        o.where(F.col("st").isNotNull())
        .groupBy("pri", "st")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wm = Window.partitionBy("pri").orderBy(F.desc("c"), F.asc("st"))
    mode = (
        cnt.withColumn("r", F.row_number().over(wm))
        .where(F.col("r") == 1)
        .select(F.col("pri").alias("_mpri"), F.col("st").alias("mode_status"))
    )
    return med.join(
        mode, F.col("pri").eqNullSafe(F.col("_mpri"))
    ).select(F.col("pri").alias("o_orderpriority"), "median_price", "mode_status")


_MEDIAN_MODE_SQL = """
WITH o AS (
  SELECT o_orderpriority AS pri, o_totalprice AS p, o_orderstatus AS st,
         o_orderkey AS ok FROM orders
), ranked AS (
  SELECT pri, p, row_number() OVER (PARTITION BY pri ORDER BY p, ok) AS rn,
         count(*) OVER (PARTITION BY pri) AS n
  FROM o WHERE p IS NOT NULL
), med AS (
  SELECT pri, round(avg(p), 2) AS median_price FROM ranked
  WHERE rn = floor((n + 1) / 2) OR rn = floor((n + 2) / 2) GROUP BY 1
), cnt AS (
  SELECT pri, st, count(*) AS c FROM o WHERE st IS NOT NULL GROUP BY 1, 2
), md AS (
  SELECT pri, st AS mode_status FROM (
    SELECT pri, st, row_number() OVER (PARTITION BY pri ORDER BY c DESC, st) AS r
    FROM cnt
  ) WHERE r = 1
)
SELECT med.pri AS o_orderpriority, med.median_price, md.mode_status
FROM med JOIN md ON med.pri IS NOT DISTINCT FROM md.pri
"""


# --- Q-agg-10 (extra): calendar-day rollup -----------------------------------
def _daily_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Events per UTC calendar day with distinct-user counts — the
    date_trunc time-series rollup every log pipeline starts with."""
    return (
        T(spark, sf, "events")
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
    )


_DAILY_SQL = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       round(sum(value), 2) AS value_sum
FROM events GROUP BY 1
"""


# --- Q-agg-9b (extra): analytic window functions (lag / lead / ntile) --------
def _window_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user event-stream analytics: seconds since the previous event
    (lag), next event type (lead), activity quartile (ntile). Ordering
    includes event_id so ties at equal timestamps are deterministic in
    both engines, and null ordering is PINNED explicitly on both sides
    (r9: Spark's ASC default is NULLS FIRST, DuckDB's is NULLS LAST —
    t_us is null whenever ts is, so an unpinned ordering diverges on
    nullable data; base.py NULL-ordering boundary). One shuffle on
    user_id shared by all three functions."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(
        F.col("t_us").asc_nulls_first(), F.col("event_id").asc_nulls_first()
    )
    base = T(spark, sf, "events").select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("t_us")
    )
    return base.select(
        "event_id",
        "user_id",
        F.floor((F.col("t_us") - F.lag("t_us", 1).over(w)) / F.lit(1_000_000))
        .cast("long")
        .alias("gap_s"),
        F.lead("event_type", 1).over(w).alias("next_type"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


_WINDOW_FUNCS_SQL = """
SELECT event_id, user_id,
  CAST(floor((t_us - lag(t_us) OVER w) / 1000000) AS BIGINT) AS gap_s,
  lead(event_type) OVER w AS next_type,
  CAST(ntile(4) OVER w AS BIGINT) AS quartile
FROM (SELECT event_id, user_id, event_type, epoch_us(ts) AS t_us FROM events)
WINDOW w AS (PARTITION BY user_id ORDER BY t_us NULLS FIRST, event_id NULLS FIRST)
"""


# --- Q-agg-9 (extra): window ranking functions -------------------------------
def _window_rank(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 orders by price per priority via dense_rank — the window is
    partitioned by the group key, so it parallelizes on the shuffle (never
    the global-window single-partition trap). Null ordering pinned
    explicitly on both sides (r9, base.py NULL-ordering boundary): a
    null o_totalprice must rank LAST in both engines or the top-3 cut
    diverges on nullable data."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc_nulls_last(), F.col("o_orderkey").asc_nulls_first()
    )
    return (
        T(spark, sf, "orders")
        .withColumn("rnk", F.dense_rank().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_orderpriority", "rnk", "o_orderkey", "o_totalprice")
    )


# --- Q-agg-14 (engine extra): Count-Min Sketch heavy hitters -----------------
def _cms_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """CMS(depth=4, width=64) over events.user_id, narrow enough that
    buckets genuinely collide at sf0.01 — the estimate column exercises
    the min-over-rows path, not a trivially exact one. Deterministic
    hashes: the ESTIMATE hash-matches DuckDB, not just the exact count."""
    est = aggregates.count_min_estimates(
        T(spark, sf, "events"), "user_id", depth=4, width=64
    )
    return est.orderBy(F.desc("cms_est"), F.asc("k")).limit(10)


def _cms_oracle() -> str:
    def b(j: int) -> str:
        inner = h32_sql(f"'cms{j}:' || k")
        return f"{inner} % 64"

    return f"""
WITH r AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events),
b AS (SELECT k, {b(0)} AS b0, {b(1)} AS b1, {b(2)} AS b2, {b(3)} AS b3 FROM r),
keyed AS (SELECT k, b0, b1, b2, b3, CAST(count(*) AS BIGINT) AS exact
          FROM b GROUP BY k, b0, b1, b2, b3),
c0 AS (SELECT b0, CAST(count(*) AS BIGINT) AS c0 FROM b GROUP BY b0),
c1 AS (SELECT b1, CAST(count(*) AS BIGINT) AS c1 FROM b GROUP BY b1),
c2 AS (SELECT b2, CAST(count(*) AS BIGINT) AS c2 FROM b GROUP BY b2),
c3 AS (SELECT b3, CAST(count(*) AS BIGINT) AS c3 FROM b GROUP BY b3)
SELECT k, exact, least(c0, c1, c2, c3) AS cms_est
FROM keyed JOIN c0 USING (b0) JOIN c1 USING (b1) JOIN c2 USING (b2) JOIN c3 USING (b3)
ORDER BY cms_est DESC, k ASC LIMIT 10
"""


QUERIES: dict[str, QueryDef] = {
    "q_agg_cms": QueryDef(
        _cms_heavy_hitters,
        _cms_oracle(),
        "Q-agg-14 (engine extra) Count-Min Sketch heavy hitters — "
        "deterministic md5 bucket hashes, the ESTIMATE hash-matches the "
        "oracle (sketch replayed relationally), bounded depth*width state",
    ),

    "q_agg_wordcount": QueryDef(
        _wordcount,
        "SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM ("
        f"SELECT unnest({words_sql('text')}) AS word "
        "FROM documents) GROUP BY word",
        "Q-agg-1 WordCount w/ combiner (examples/.../WordCount.java:61, mapred/lib/LongSumReducer.java:36)",
    ),
    "q_agg_tpch_q1": QueryDef(
        _tpch_q1,
        "SELECT l_returnflag, l_linestatus, round(sum(l_quantity),2) AS sum_qty, "
        "round(sum(l_extendedprice),2) AS sum_base_price, "
        "round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price, "
        "round(sum(l_extendedprice*(1-l_discount)*(1+l_tax)),2) AS sum_charge, "
        "round(avg(l_quantity),6) AS avg_qty, round(avg(l_extendedprice),6) AS avg_price, "
        "round(avg(l_discount),6) AS avg_disc, CAST(count(*) AS BIGINT) AS count_order "
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-12-01' "
        "GROUP BY l_returnflag, l_linestatus",
        "Q-agg-2 TPC-H Q1 shape (mapred/lib/aggregate/DoubleValueSum.java)",
    ),
    "q_agg_minmax": QueryDef(
        _minmax,
        "SELECT o_orderpriority, min(o_totalprice) AS min_price, max(o_totalprice) AS max_price, "
        "CAST(count(*) AS BIGINT) AS n FROM orders GROUP BY 1",
        "Q-agg-3 LongValueMax/Min (mapred/lib/aggregate/LongValueMax.java)",
    ),
    "q_agg_distinct": QueryDef(
        _distinct_per_bucket,
        "SELECT l_partkey % 100 AS bucket, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS uniq_cnt "
        "FROM lineitem GROUP BY 1",
        "Q-agg-4 UniqValueCount exact (mapred/lib/aggregate/UniqValueCount.java:30)",
    ),
    "q_agg_approx_distinct": QueryDef(
        _approx_distinct_per_bucket,
        # Exact counts hash-match DuckDB; the engine-specific HLL estimate
        # enters as the Spark-computed relative-error assertion approx_ok,
        # which the oracle requires to be TRUE for every bucket.
        "SELECT l_partkey % 100 AS bucket, "
        "CAST(count(DISTINCT l_suppkey) AS BIGINT) AS uniq_cnt, "
        "TRUE AS approx_ok FROM lineitem GROUP BY 1",
        "Q-agg-4b UniqValueCount with maxNumItems cap == bounded-memory approx "
        "(mapred/lib/aggregate/UniqValueCount.java:36); gated on "
        "|approx-exact|/exact <= 4*rsd",
    ),
    "q_agg_histogram": QueryDef(
        _histogram,
        _HISTOGRAM_SQL,
        "Q-agg-5 ValueHistogram report (mapred/lib/aggregate/ValueHistogram.java:33-168)",
    ),
    "q_agg_multi": QueryDef(
        _multi_agg,
        "SELECT event_type, round(sum(value),2) AS sum_value, min(value) AS min_value, "
        "max(value) AS max_value, CAST(count(*) AS BIGINT) AS n, "
        "CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM events GROUP BY 1",
        "Q-agg-6 ValueAggregatorJob one-pass multi-aggregate "
        "(mapred/lib/aggregate/ValueAggregatorJob.java:110)",
    ),
    "q_agg_rollup": QueryDef(
        _rollup,
        "SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n, "
        "round(sum(l_quantity),2) AS sum_qty FROM lineitem "
        "GROUP BY ROLLUP (l_returnflag, l_linestatus)",
        "Q-agg-7 (engine extra) grouping-set rollup — absent in the reference",
    ),
    "q_agg_cube": QueryDef(
        _cube,
        "SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n, "
        "round(sum(o_totalprice),2) AS revenue FROM orders "
        "GROUP BY CUBE (o_orderstatus, o_orderpriority)",
        "Q-agg-8 (engine extra) cube — absent in the reference",
    ),
    "q_agg_grouping_sets": QueryDef(
        _grouping_sets,
        "SELECT o_orderstatus, o_orderpriority, "
        "CAST(grouping(o_orderstatus, o_orderpriority) AS BIGINT) AS gid, "
        "CAST(count(*) AS BIGINT) AS n, round(sum(o_totalprice), 2) AS revenue "
        "FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())",
        "Q-agg-8b (engine extra) explicit GROUPING SETS + grouping_id",
    ),
    "q_agg_pivot": QueryDef(
        _pivot,
        _PIVOT_SQL,
        "Q-agg-8c (engine extra) pivot with explicit value list (no "
        "distinct-values pre-job)",
    ),
    "q_agg_numeric_hist": QueryDef(
        _numeric_hist,
        _NUMERIC_HIST_SQL,
        "Q-agg-5b (engine extra) equi-width numeric histogram",
    ),
    "q_agg_stats": QueryDef(
        _stats_agg,
        _STATS_SQL,
        "Q-agg-6b (engine extra) corr/covar/stddev statistical aggregates",
    ),
    "q_agg_string_agg": QueryDef(
        _string_agg,
        _STRING_AGG_SQL,
        "Q-agg-13 (engine extra) deterministic string aggregation "
        "(sorted collect_set -> join; order-stable across partitionings)",
    ),
    "q_agg_hot_keys": QueryDef(
        _hot_keys,
        "SELECT event_type, CAST(count(*) AS BIGINT) AS cnt, "
        "round(count(*) / (SELECT CAST(count(*) AS DOUBLE) FROM events), 6) AS share "
        "FROM events GROUP BY 1",
        "Q-agg-12 (engine extra) skew diagnosis — heaviest keys + row "
        "share, lazy broadcast total, TakeOrderedAndProject top-k",
    ),
    "q_agg_profile": QueryDef(
        _profile,
        _profile_oracle(),
        "Q-agg-11 (engine extra) ANALYZE-style column profile — all "
        "stats for 5 columns in ONE scan, exploded to rows",
    ),
    "q_agg_median_mode": QueryDef(
        _median_mode,
        _MEDIAN_MODE_SQL,
        "Q-agg-6c (engine extra) exact rank-based median + deterministic "
        "mode (no cross-engine percentile interpolation)",
    ),
    "q_agg_daily": QueryDef(
        _daily_rollup,
        _DAILY_SQL,
        "Q-agg-10 (engine extra) calendar-day time-series rollup",
    ),
    "q_agg_window_funcs": QueryDef(
        _window_funcs,
        _WINDOW_FUNCS_SQL,
        "Q-agg-9b (engine extra) lag/lead/ntile event-stream analytics, "
        "one shared shuffle",
    ),
    "q_agg_window_rank": QueryDef(
        _window_rank,
        "SELECT o_orderpriority, CAST(rnk AS BIGINT) AS rnk, o_orderkey, o_totalprice FROM ("
        "SELECT o_orderpriority, o_orderkey, o_totalprice, "
        "dense_rank() OVER (PARTITION BY o_orderpriority "
        "ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC NULLS FIRST) AS rnk "
        "FROM orders) WHERE rnk <= 3",
        "Q-agg-9 (engine extra) window ranking — absent in the reference",
    ),
}


# --- calendar gap-fill + forward fill (time-series resampling) ---------------
def _agg_gapfill(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user daily activity resampled onto the full calendar with
    forward fill — the time-series gap-fill every metrics pipeline runs.

    Shape: the calendar is users x sequence(lo, hi) — the 1-row bounds
    broadcast, the per-user explode is |users|*days rows (output-sized,
    never events-sized); the fill is one window per user ordered by day.
    Sums are integer cents (order-independent); the fill itself is
    deterministic (last non-null by calendar order).
    """
    from pyspark.sql.window import Window

    ev = T(spark, sf, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    # one events scan: bounds and the user set both derive from the
    # (user, day) aggregate itself (a user/date with no events can't
    # shift min/max or add a user), pinned once for its three consumers
    daily = (
        ev.groupBy("user_id", F.to_date("ts").alias("d"))
        .agg(F.sum(cents).cast("long").alias("cents"))
        .transform(pin)
    )
    bounds = daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    users = daily.select("user_id").distinct()
    cal = users.join(F.broadcast(bounds)).select(
        "user_id", F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("d")
    )
    j = cal.join(daily, ["user_id", "d"], "left")
    w = Window.partitionBy("user_id").orderBy("d")
    return j.select(
        "user_id",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.coalesce(F.last("cents", ignorenulls=True).over(w), F.lit(0))
        .cast("long")
        .alias("cents_filled"),
        F.col("cents").isNull().alias("is_gap"),
    )


_GAPFILL_SQL = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
), b AS (
  SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi FROM events
), cal AS (
  SELECT u.user_id, CAST(unnest(generate_series(b.lo, b.hi, INTERVAL 1 DAY)) AS DATE) AS d
  FROM (SELECT DISTINCT user_id FROM events) u, b
), j AS (
  SELECT c.user_id, c.d, daily.cents FROM cal c
  LEFT JOIN daily ON c.user_id = daily.user_id AND c.d = daily.d
)
SELECT user_id, strftime(d, '%Y-%m-%d') AS day,
       CAST(coalesce(last_value(cents IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY d
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS BIGINT) AS cents_filled,
       cents IS NULL AS is_gap
FROM j
"""

QUERIES["q_agg_gapfill"] = QueryDef(
    _agg_gapfill,
    _GAPFILL_SQL,
    "calendar gap-fill + forward fill (time-series resample); calendar is "
    "output-sized, fill is one keyed window",
)


# --- SCD type-2 history build (validity intervals from a change stream) ------
def _agg_scd2(spark: SparkSession, sf: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build: per user, collapse the
    purchase stream into value-band history rows with [valid_from,
    valid_to) intervals and a version number — the warehouse op the
    reference's users chain two sort jobs for (secondary sort by
    (user, ts) then a stateful reducer sweep); here it is two window
    functions on ONE keyed shuffle (change detection via lag, interval
    close via lead over the surviving change rows).

    Determinism: epoch micros are integers; the band is an integer div
    of cents; ties on ts broken by event_id (base.py window rule); null
    ordering pinned NULLS FIRST on both sides (r9, base.py NULL-ordering
    boundary — t_us inherits ts's nulls, and the history sweep's change
    detection depends on row order).
    """
    from pyspark.sql.window import Window

    ev = (
        T(spark, sf, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("t_us"),
            F.floor(F.round(F.col("value") * 100, 0) / 10000).cast("long").alias("band"),
        )
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("t_us").asc_nulls_first(), F.col("event_id").asc_nulls_first()
    )
    changes = ev.withColumn("_prev", F.lag("band").over(w)).where(
        F.col("_prev").isNull() | (F.col("_prev") != F.col("band"))
    )
    w2 = Window.partitionBy("user_id").orderBy(
        F.col("t_us").asc_nulls_first(), F.col("event_id").asc_nulls_first()
    )
    return changes.select(
        "user_id",
        "band",
        F.col("t_us").alias("valid_from_us"),
        F.coalesce(F.lead("t_us").over(w2), F.lit(-1)).cast("long").alias("valid_to_us"),
        F.row_number().over(w2).cast("long").alias("version"),
    )


_SCD2_SQL = """
WITH ev AS (
  SELECT user_id, event_id, epoch_us(ts) AS t_us,
         CAST(floor(CAST(round(value * 100, 0) AS BIGINT) / 10000) AS BIGINT) AS band
  FROM events WHERE event_type = 'purchase'
), changes AS (
  SELECT * FROM (
    SELECT user_id, event_id, t_us, band,
           lag(band) OVER (PARTITION BY user_id ORDER BY t_us NULLS FIRST, event_id NULLS FIRST) AS prev
    FROM ev
  ) WHERE prev IS NULL OR prev <> band
)
SELECT user_id, band, t_us AS valid_from_us,
       CAST(coalesce(lead(t_us) OVER (PARTITION BY user_id ORDER BY t_us NULLS FIRST, event_id NULLS FIRST), -1) AS BIGINT)
         AS valid_to_us,
       CAST(row_number() OVER (PARTITION BY user_id ORDER BY t_us NULLS FIRST, event_id NULLS FIRST) AS BIGINT)
         AS version
FROM changes
"""

QUERIES["q_agg_scd2"] = QueryDef(
    _agg_scd2,
    _SCD2_SQL,
    "SCD type-2 history build: change detection + interval close, two "
    "window passes on one keyed shuffle",
)


# --- rolling 7-day distinct users (WAU-style engagement) ---------------------
def _agg_wau(spark: SparkSession, sf: str) -> DataFrame:
    """Per calendar day, the distinct users active in the trailing 7
    days — the DAU/WAU engagement metric. Sliding DISTINCT cannot use a
    running window (distinct doesn't decompose), so each (user, day)
    contributes itself to the 7 window-ends it falls in via a row-local
    explode (constant 7x fan-out of the USER-DAY table, never the raw
    events), then one countDistinct per window end. Two bounded
    shuffles; output trimmed to fully-covered days."""
    ev = T(spark, sf, "events")
    user_days = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    contrib = user_days.select(
        "user_id",
        F.explode(
            F.expr("sequence(d, date_add(d, 6), interval 1 day)")
        ).alias("w_end"),
    )
    bounds = user_days.agg(
        F.min("d").alias("lo"), F.max("d").alias("hi")
    )
    out = contrib.groupBy("w_end").agg(
        F.countDistinct("user_id").cast("long").alias("wau")
    )
    return (
        out.join(F.broadcast(bounds))
        .where((F.col("w_end") >= F.expr("date_add(lo, 6)")) & (F.col("w_end") <= F.col("hi")))
        .select(F.date_format("w_end", "yyyy-MM-dd").alias("day"), "wau")
    )


_WAU_SQL = """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), b AS (
  SELECT min(d) AS lo, max(d) AS hi FROM ud
), contrib AS (
  SELECT user_id, CAST(unnest(generate_series(d, d + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS DATE) AS w_end
  FROM ud
)
SELECT strftime(w_end, '%Y-%m-%d') AS day,
       CAST(count(DISTINCT user_id) AS BIGINT) AS wau
FROM contrib, b
WHERE w_end >= lo + INTERVAL 6 DAY AND w_end <= hi
GROUP BY w_end
"""

QUERIES["q_agg_wau"] = QueryDef(
    _agg_wau,
    _WAU_SQL,
    "7-day rolling distinct users: row-local 7x window-end explode of "
    "the user-day table + one countDistinct per day",
)
