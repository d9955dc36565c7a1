"""Declared queries: temporal joins + relevance scoring (engine extras).

The reference's users build these by hand as reduce-side secondary-sort
jobs (tag inputs, partition on key, sort by (key, time, tag), sweep);
here they are single declarative plans. Oracles use DuckDB's native
ASOF JOIN / inequality join, so the oracle exercises a *different*
algorithm than the engine (window sweep / bin-equi-join) — a genuine
cross-check, not the same plan twice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_0_20_2_ljx_spark.extensions import relevance, temporal
from hadoop_0_20_2_ljx_spark.queries.base import QueryDef, T, words_sql

_HOUR_US = 3_600_000_000

# --- as-of join: click -> latest prior purchase per user ---------------------
def _join_asof(spark: SparkSession, sf: str) -> DataFrame:
    """Attribution: each click picks the user's most recent purchase at or
    before the click. Engine side is the union+window sweep
    (extensions/temporal.py asof_join — one shuffle); the oracle is
    DuckDB's native ASOF LEFT JOIN."""
    ev = T(spark, sf, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", F.unix_micros("ts").alias("t_us")
    )
    # unique (user, ts) on the right => deterministic match
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", F.unix_micros("ts").alias("t_us"))
        .agg(F.max("value").alias("pval"))
    )
    j = temporal.asof_join(
        clicks, purchases, on=["user_id"], left_ts="t_us", right_ts="t_us",
        value_cols=["pval"],
    )
    return j.select(
        "event_id",
        "user_id",
        F.col("t_us").alias("click_us"),
        F.round("pval", 2).alias("last_purchase"),
        F.floor((F.col("t_us") - F.col("_asof_matched_ts")) / F.lit(1_000_000))
        .cast("long")
        .alias("secs_since"),
    )


_ASOF_SQL = """
WITH clicks AS (
  SELECT event_id, user_id, epoch_us(ts) AS t_us FROM events WHERE event_type = 'click'
), p AS (
  SELECT user_id, epoch_us(ts) AS t_us, max(value) AS pval
  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL GROUP BY 1, 2
)
-- NULL event times take the standard-SQL inequality semantics (r9,
-- temporal.asof_join's pinned contract): a null right_ts never matches
-- (filtered in p above) and a null left_ts matches nothing. DuckDB's
-- native ASOF instead PAIRS a null probe with a null build row (its
-- sort-merge treats NULL as a sortable value), so null-ts clicks are
-- routed around the ASOF operator and re-attached unmatched.
SELECT c.event_id, c.user_id, c.t_us AS click_us,
       round(p.pval, 2) AS last_purchase,
       CAST(floor((c.t_us - p.t_us) / 1000000) AS BIGINT) AS secs_since
FROM (SELECT * FROM clicks WHERE t_us IS NOT NULL) c ASOF LEFT JOIN p
  ON c.user_id = p.user_id AND c.t_us >= p.t_us
UNION ALL
SELECT event_id, user_id, t_us AS click_us,
       CAST(NULL AS DOUBLE) AS last_purchase, CAST(NULL AS BIGINT) AS secs_since
FROM clicks WHERE t_us IS NULL
"""


def _join_asof_fwd(spark: SparkSession, sf: str) -> DataFrame:
    """Forward as-of: each click picks the user's NEXT purchase at or
    after the click (time-to-conversion). Same union+window sweep as the
    backward form, run in reverse time order (temporal.asof_join
    direction='forward'); the oracle is DuckDB's native forward ASOF
    (the `<=` inequality selects the nearest following row)."""
    ev = T(spark, sf, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", F.unix_micros("ts").alias("t_us")
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", F.unix_micros("ts").alias("t_us"))
        .agg(F.max("value").alias("pval"))
    )
    j = temporal.asof_join(
        clicks, purchases, on=["user_id"], left_ts="t_us", right_ts="t_us",
        value_cols=["pval"], direction="forward",
    )
    return j.select(
        "event_id",
        "user_id",
        F.col("t_us").alias("click_us"),
        F.round("pval", 2).alias("next_purchase"),
        F.floor((F.col("_asof_matched_ts") - F.col("t_us")) / F.lit(1_000_000))
        .cast("long")
        .alias("secs_until"),
    )


_ASOF_FWD_SQL = """
WITH clicks AS (
  SELECT event_id, user_id, epoch_us(ts) AS t_us FROM events WHERE event_type = 'click'
), p AS (
  SELECT user_id, epoch_us(ts) AS t_us, max(value) AS pval
  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL GROUP BY 1, 2
)
-- null-ts routing: same standard-SQL null contract as _ASOF_SQL
SELECT c.event_id, c.user_id, c.t_us AS click_us,
       round(p.pval, 2) AS next_purchase,
       CAST(floor((p.t_us - c.t_us) / 1000000) AS BIGINT) AS secs_until
FROM (SELECT * FROM clicks WHERE t_us IS NOT NULL) c ASOF LEFT JOIN p
  ON c.user_id = p.user_id AND c.t_us <= p.t_us
UNION ALL
SELECT event_id, user_id, t_us AS click_us,
       CAST(NULL AS DOUBLE) AS next_purchase, CAST(NULL AS BIGINT) AS secs_until
FROM clicks WHERE t_us IS NULL
"""


# --- binned range join: purchases inside each error's 1-hour window ----------
def _join_range(spark: SparkSession, sf: str) -> DataFrame:
    """Keyless point-in-interval join: every 'error' event opens a 1-hour
    window; count/sum the purchases (any user) inside it. The engine
    rewrites the inequality join as a bin equi-join
    (extensions/temporal.py range_join_binned) so the plan never falls
    back to BroadcastNestedLoopJoin; the oracle runs DuckDB's native
    inequality (IE) join."""
    ev = T(spark, sf, "events")
    errors = (
        ev.where(F.col("event_type") == "error")
        .select(F.col("event_id").alias("err_id"), F.unix_micros("ts").alias("w_start"))
        .withColumn("w_end", F.col("w_start") + F.lit(_HOUR_US))
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.unix_micros("ts").alias("p_us"), "value"
    )
    j = temporal.range_join_binned(
        purchases, errors, point_col="p_us", start_col="w_start", end_col="w_end",
        bin_width=_HOUR_US,
    )
    return j.groupBy("err_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
        F.round(F.sum("value"), 2).alias("window_value"),
    )


_RANGE_SQL = f"""
WITH e AS (
  SELECT event_id AS err_id, epoch_us(ts) AS w_start FROM events WHERE event_type = 'error'
), p AS (
  SELECT epoch_us(ts) AS p_us, value FROM events WHERE event_type = 'purchase'
)
SELECT e.err_id, CAST(count(*) AS BIGINT) AS n_purchases,
       round(sum(p.value), 2) AS window_value
FROM e JOIN p ON p.p_us >= e.w_start AND p.p_us < e.w_start + {_HOUR_US}
GROUP BY 1
"""


# --- binned overlap join: pairs of overlapping error windows -----------------
def _join_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Interval-interval self-overlap: every 'error' event opens a
    10-minute window; emit each overlapping window pair once (incident
    clustering). Engine side dedups pairs WITHOUT a distinct — a pair is
    kept only in the bin owning the later start (extensions/temporal.py
    overlap_join_binned); the oracle runs DuckDB's native IE self-join."""

    def windows():
        ev = T(spark, sf, "events")
        return (
            ev.where(F.col("event_type") == "error")
            .select(F.col("event_id").alias("id"), F.unix_micros("ts").alias("w_s"))
            .withColumn("w_e", F.col("w_s") + F.lit(600_000_000))
        )

    a = windows()
    b = (
        windows()
        .withColumnRenamed("id", "id_b")
        .withColumnRenamed("w_s", "b_s")
        .withColumnRenamed("w_e", "b_e")
    )
    j = temporal.overlap_join_binned(a, b, "w_s", "w_e", "b_s", "b_e", bin_width=600_000_000)
    return (
        j.where(F.col("id") < F.col("id_b"))
        .select(
            F.col("id").alias("err_a"),
            F.col("id_b").alias("err_b"),
            F.floor((F.least("w_e", "b_e") - F.greatest("w_s", "b_s")) / F.lit(1_000_000))
            .cast("long")
            .alias("overlap_s"),
        )
    )


_OVERLAP_SQL = """
WITH e AS (
  SELECT event_id AS id, epoch_us(ts) AS s, epoch_us(ts) + 600000000 AS e
  FROM events WHERE event_type = 'error'
)
SELECT a.id AS err_a, b.id AS err_b,
       CAST(floor((least(a.e, b.e) - greatest(a.s, b.s)) / 1000000) AS BIGINT) AS overlap_s
FROM e a JOIN e b ON a.id < b.id AND a.s < b.e AND b.s < a.e
"""


# --- BM25 relevance ----------------------------------------------------------
_BM25_TERMS = ("spark", "hash", "window")


def _text_bm25(spark: SparkSession, sf: str) -> DataFrame:
    """Okapi BM25 of every document against a fixed bag-of-terms query
    (corpus-curation scoring). All-docs output (no top-k) so the result
    set has no float-boundary sensitivity; score rounded to 4 dp on
    both sides."""
    return relevance.bm25_scores(
        T(spark, sf, "documents"), "doc_id", "text", list(_BM25_TERMS)
    )


_BM25_SQL = f"""WITH base AS (
  SELECT doc_id, {words_sql('text')} AS ws
  FROM documents
), gstats AS (
  SELECT count(*) AS n_docs, avg(len(ws)) AS avgdl FROM base
), tok AS (
  SELECT doc_id, len(ws) AS dl, unnest(ws) AS term FROM base
), tf AS (
  SELECT doc_id, dl, term, count(*) AS tf FROM tok
  WHERE term IN ('spark', 'hash', 'window') GROUP BY 1, 2, 3
), dfq AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1
)
SELECT tf.doc_id, CAST(count(*) AS BIGINT) AS n_terms,
       round(sum(
         ln(1 + (g.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
         * tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / g.avgdl))
       ), 4) AS bm25
FROM tf JOIN dfq USING (term) CROSS JOIN gstats g
GROUP BY 1
"""




# --- inverted index: postings-list build ------------------------------------
def _text_inverted_index(spark: SparkSession, sf: str) -> DataFrame:
    """Term -> (doc_freq, total_tf, first-20 postings) over documents.
    Engine side caps the postings list with a row_number window BEFORE
    collect_list (extensions/relevance.py inverted_index — a stopword
    term contributes 20 rows to the list, not its whole posting set);
    the oracle replays with string_agg FILTER on the same rank."""
    return relevance.inverted_index(
        T(spark, sf, "documents"), "doc_id", "text", min_df=2, postings_cap=20
    )


_INVERTED_SQL = f"""WITH tok AS (
  SELECT doc_id,
         unnest({words_sql('text')}) AS term
  FROM documents
), tf AS (
  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2
), ranked AS (
  SELECT term, doc_id, tf,
         row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
  FROM tf
)
SELECT term, CAST(count(*) AS BIGINT) AS doc_freq,
       CAST(sum(tf) AS BIGINT) AS total_tf,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
         FILTER (WHERE rn <= 20) AS postings
FROM ranked GROUP BY term HAVING count(*) >= 2
"""


QUERIES: dict[str, QueryDef] = {
    "q_text_inverted_index": QueryDef(
        _text_inverted_index,
        _INVERTED_SQL,
        "inverted-index postings build: window-capped posting lists, exact "
        "df/tf over the full corpus",
    ),

    "q_join_asof": QueryDef(
        _join_asof,
        _ASOF_SQL,
        "as-of (point-in-time) join via union+window sweep; oracle is native ASOF JOIN",
    ),
    "q_join_asof_fwd": QueryDef(
        _join_asof_fwd,
        _ASOF_FWD_SQL,
        "FORWARD as-of join (next event at-or-after): the same one-"
        "shuffle sweep in reverse time order; oracle is native forward "
        "ASOF (<= inequality)",
    ),
    "q_join_range": QueryDef(
        _join_range,
        _RANGE_SQL,
        "keyless interval join via bin equi-join rewrite; oracle is a native IE join",
    ),
    "q_join_overlap": QueryDef(
        _join_overlap,
        _OVERLAP_SQL,
        "interval-interval overlap pairs via later-start-bin dedup (no "
        "distinct); oracle is a native IE self-join",
    ),
    "q_text_bm25": QueryDef(
        _text_bm25,
        _BM25_SQL,
        "Okapi BM25 corpus scoring, pure built-ins, broadcast side inputs",
    ),
}


# --- interval union / coverage ----------------------------------------------
def _agg_interval_merge(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user activity coverage: each event opens a 10-minute
    interval; overlapping/touching intervals union into maximal spans
    (extensions/temporal.py merge_intervals — one keyed window pass,
    prefix-max segmentation), then per-user span count / covered time /
    longest span. Integer micros end to end; covered seconds by
    integer division."""
    ev = T(spark, sf, "events").select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.lit(600_000_000)).alias("e"),
        "event_id",
    )
    from hadoop_0_20_2_ljx_spark.extensions.temporal import merge_intervals

    spans = merge_intervals(ev, ["user_id"], "s", "e", "event_id")
    agg = spans.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum(F.col("span_end") - F.col("span_start")).alias("_cov_us"),
        F.max(F.col("span_end") - F.col("span_start")).alias("_max_us"),
        F.sum("n_intervals").cast("long").alias("n_events"),
    )
    return agg.select(
        "user_id",
        "n_spans",
        F.expr("_cov_us div 1000000").cast("long").alias("covered_secs"),
        F.expr("_max_us div 1000000").cast("long").alias("max_span_secs"),
        "n_events",
    )


_INTERVAL_MERGE_SQL = """
WITH iv AS (
  SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 600000000 AS e,
         event_id AS id
  FROM events
  WHERE ts IS NOT NULL
), r AS (
  SELECT user_id, s, e, id,
         max(e) OVER (PARTITION BY user_id ORDER BY s, e, id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
  FROM iv
), f AS (
  SELECT user_id, s, e, id,
         CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END AS opens
  FROM r
), seg AS (
  -- the running sum MUST share the id tie-break with the prefix-max:
  -- duplicate (s, e) rows otherwise land in arbitrary order and a
  -- span can split at the tie
  SELECT user_id, s, e,
         sum(opens) OVER (PARTITION BY user_id ORDER BY s, e, id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sg
  FROM f
), spans AS (
  SELECT user_id, sg, min(s) AS span_start, max(e) AS span_end,
         CAST(count(*) AS BIGINT) AS n_intervals
  FROM seg GROUP BY 1, 2
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(span_end - span_start) // 1000000 AS BIGINT) AS covered_secs,
       CAST(max(span_end - span_start) // 1000000 AS BIGINT) AS max_span_secs,
       CAST(sum(n_intervals) AS BIGINT) AS n_events
FROM spans GROUP BY 1
"""

QUERIES["q_agg_interval_merge"] = QueryDef(
    _agg_interval_merge,
    _INTERVAL_MERGE_SQL,
    "per-key union of overlapping intervals into maximal spans + "
    "coverage stats (one keyed window pass, prefix-max segmentation)",
)


# --- decomposable window hot-key path: chunked running sum --------------------
def _window_hotkey_runsum(spark: SparkSession, sf: str) -> DataFrame:
    """Per-key cumulative revenue where a key may be pathologically hot,
    computed via the DECOMPOSED shape (operators/skew.py
    chunked_running_sum: (key, time-chunk) windows + an O(chunks) offset
    table — one data exchange, the hot key spread over its chunks)
    instead of the direct one-task-per-key window. SCALE.md's window
    hot-key taxonomy row: algebraic frame aggregates decompose this way;
    rank/lag/asof sweeps cannot and take the spill-and-exact posture
    (the r12 pressure rung). The oracle computes the DIRECT window — the
    comparison proves the decomposition exact. Verified per row
    transitively: the per-group sum/max over all running sums pins every
    row's value. Integer cents (floor(value*100)) per the cross-engine
    float contract; event-time rows with null ts/value are excluded
    (event-time ops contract, r9)."""
    from hadoop_0_20_2_ljx_spark.operators import skew

    ev = T(spark, sf, "events").where(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    d = ev.select(
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("t_us"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    chunk = F.expr(f"t_us div {6 * _HOUR_US}")  # 6-hour buckets, monotone in t_us
    rs = skew.chunked_running_sum(
        d, "event_type", [F.col("t_us"), F.col("event_id")], "cents", chunk, "rs"
    )
    return rs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("rs").cast("long").alias("rs_total"),
        F.max("rs").cast("long").alias("rs_max"),
    )


_HOTKEY_RUNSUM_SQL = """
WITH e AS (
  SELECT event_id, event_type, epoch_us(ts) AS t_us,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
), r AS (
  SELECT event_type,
         SUM(cents) OVER (PARTITION BY event_type ORDER BY t_us, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rs
  FROM e
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(rs) AS BIGINT) AS rs_total,
       CAST(max(rs) AS BIGINT) AS rs_max
FROM r GROUP BY 1
"""

QUERIES["q_window_hotkey_runsum"] = QueryDef(
    _window_hotkey_runsum,
    _HOTKEY_RUNSUM_SQL,
    "per-key running revenue via the chunked (hot-key-decomposed) window "
    "path; oracle runs the direct window — proves the decomposition exact",
)


# --- decomposable window hot-key path: chunked running max -------------------
def _window_hotkey_runmax(spark: SparkSession, sf: str) -> DataFrame:
    """Per-key running record-high (cumulative MAX) via the DECOMPOSED
    hot-key window (operators/skew.py chunked_running_agg, agg="max") —
    the least/greatest offset-combine path of the r13 generalization,
    proven externally against DuckDB computing the DIRECT window. Unlike
    q_window_hotkey_runsum this query KEEPS null values in the stream
    (only null event times are excluded, per the event-time contract):
    window MAX ignores nulls in both engines, so the running max is NULL
    exactly until a key's first non-null value — the least/greatest
    null-IGNORING combine must reproduce that boundary across chunk
    seams, which is the subtle half of the operator's null contract
    (queries/base.py: least/greatest ignoring nulls is usually a trap;
    here it is exactly the min/max identity element). n_defined pins the
    NULL-prefix boundary per key; rm_total transitively pins every
    row's running max. Integer cents (floor(value*100)) per the
    cross-engine float contract. Reference counterpart: the same
    hand-built two-job prefix-aggregate idiom as runsum
    (mapred/lib/LongValueMax.java semantics composed over the
    secondary-sort pattern, reduce/Task.java partial-then-final)."""
    from hadoop_0_20_2_ljx_spark.operators import skew

    ev = T(spark, sf, "events").where(F.col("ts").isNotNull())
    d = ev.select(
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("t_us"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    chunk = F.expr(f"t_us div {6 * _HOUR_US}")  # 6-hour buckets, monotone in t_us
    rm = skew.chunked_running_agg(
        d, "event_type", [F.col("t_us"), F.col("event_id")], "cents", chunk, "max", "rm"
    )
    return rm.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count("rm").cast("long").alias("n_defined"),
        F.sum("rm").cast("long").alias("rm_total"),
        F.max("rm").cast("long").alias("rm_max"),
    )


_HOTKEY_RUNMAX_SQL = """
WITH e AS (
  SELECT event_id, event_type, epoch_us(ts) AS t_us,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events WHERE ts IS NOT NULL
), r AS (
  SELECT event_type,
         MAX(cents) OVER (PARTITION BY event_type ORDER BY t_us, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rm
  FROM e
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(rm) AS BIGINT) AS n_defined,
       CAST(sum(rm) AS BIGINT) AS rm_total,
       CAST(max(rm) AS BIGINT) AS rm_max
FROM r GROUP BY 1
"""

QUERIES["q_window_hotkey_runmax"] = QueryDef(
    _window_hotkey_runmax,
    _HOTKEY_RUNMAX_SQL,
    "per-key running record-high via the chunked (hot-key-decomposed) "
    "window, nulls kept in-stream; oracle runs the direct window — proves "
    "the least/greatest offset combine and its null boundary exact",
)
