"""Unit pins for the r9 NULL-boundary contracts (queries/base.py's
NULL-ordering note; end-to-end re-proven by the null axis of tools/sweep.py).

Each op declares an explicit contract for null inputs instead of riding
Spark-vs-DuckDB null-ordering defaults:
  - temporal.asof_join: null right_ts never matches (dropped before the
    sweep), null left_ts matches nothing (kept, NULL value columns) —
    standard SQL inequality semantics, both directions.
  - temporal.merge_intervals: intervals with a null endpoint are excluded.
  - audit.winsorized_stats / order_stat_summary: null measurements are
    excluded before ranking (percentile_cont semantics); n_rows counts
    non-null measurements; null GROUP keys keep their own group.
  - streaming.windows.tumbling_counts / sessionize: rows with null event
    time are excluded (a watermark could never admit them).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_0_20_2_ljx_spark.extensions import audit, temporal
from hadoop_0_20_2_ljx_spark.streaming.windows import sessionize, tumbling_counts


def _asof_frames(spark):
    left = spark.createDataFrame(
        [("k", 10, "a"), ("k", None, "b"), ("k", 3, "c")],
        "k string, t long, tag string",
    )
    right = spark.createDataFrame(
        [("k", 5, 1.0), ("k", None, 99.0), ("k", 20, 2.0)],
        "k string, t long, v double",
    )
    return left, right


def test_asof_null_right_ts_never_matches(spark):
    left, right = _asof_frames(spark)
    out = {
        r["tag"]: r
        for r in temporal.asof_join(
            left, right, ["k"], "t", "t", ["v"]
        ).collect()
    }
    # t=10 matches the t=5 right row — NEVER the null-ts row (v=99)
    assert out["a"]["v"] == 1.0 and out["a"]["_asof_matched_ts"] == 5
    # t=3 precedes every non-null right row: no match
    assert out["c"]["v"] is None and out["c"]["_asof_matched_ts"] is None
    # null left ts matches nothing, row is KEPT (left-join shape)
    assert out["b"]["v"] is None and out["b"]["_asof_matched_ts"] is None


def test_asof_forward_null_contract(spark):
    left, right = _asof_frames(spark)
    out = {
        r["tag"]: r
        for r in temporal.asof_join(
            left, right, ["k"], "t", "t", ["v"], direction="forward"
        ).collect()
    }
    # t=10 -> next right at-or-after is t=20 (never the null-ts row)
    assert out["a"]["v"] == 2.0 and out["a"]["_asof_matched_ts"] == 20
    # t=3 -> t=5
    assert out["c"]["v"] == 1.0 and out["c"]["_asof_matched_ts"] == 5
    # null left ts: no match even though desc default would sort it last
    assert out["b"]["v"] is None and out["b"]["_asof_matched_ts"] is None


def test_merge_intervals_excludes_null_endpoints(spark):
    iv = spark.createDataFrame(
        [("k", 0, 10, 1), ("k", None, 50, 2), ("k", 60, None, 3), ("k", 5, 20, 4)],
        "k string, s long, e long, id long",
    )
    spans = temporal.merge_intervals(iv, ["k"], "s", "e", "id").collect()
    assert len(spans) == 1  # only the two complete intervals, merged
    assert (spans[0]["span_start"], spans[0]["span_end"]) == (0, 20)
    assert spans[0]["n_intervals"] == 2


def test_order_stats_exclude_null_measurements(spark):
    df = spark.createDataFrame(
        [("g", v, i) for i, v in enumerate([10, None, 30, 20, None])]
        + [(None, 7, 90), (None, None, 91)],
        "g string, c long, id long",
    )
    w = {
        r["g"]: r
        for r in audit.winsorized_stats(
            df, "g", F.col("c"), F.col("id"), lo_pct=5, hi_pct=95
        ).collect()
    }
    # nulls excluded: 3 measurements in 'g', 1 in the NULL group
    assert w["g"]["n_rows"] == 3 and w["g"]["wsum_cents"] == 60
    assert w[None]["n_rows"] == 1 and w[None]["wsum_cents"] == 7
    bands = audit.order_stat_summary(
        df, "g", F.col("c"), F.col("id"), n_bands=2
    ).collect()
    # per group exactly n_bands-1 = 1 row, median of the NON-NULL set
    got = {(r["g"], r["band"]): r["cents"] for r in bands}
    assert got[("g", 1)] == 20  # ceil(3*1/2) = 2nd of [10, 20, 30]
    assert got[(None, 1)] == 7


def test_event_time_ops_exclude_null_ts(spark):
    ev = spark.createDataFrame(
        [(1, "c", "2024-01-01 00:10:00"), (1, "c", None),
         (2, "v", "2024-01-01 01:10:00")],
        "user_id long, event_type string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    tc = tumbling_counts(ev, "1 hour").collect()
    assert sum(r["cnt"] for r in tc) == 2  # the null-ts row is in no window
    s = sessionize(ev, gap_seconds=60).collect()
    assert sum(r["n_events"] for r in s) == 2


# --- r10 pins (the class-3 queue from the r9 verdict, queries/base.py) -------
def test_key_field_sort_null_contract(spark):
    """ASC = NULLS FIRST, DESC = NULLS LAST, explicit on the operator
    (engines' defaults are opposite)."""
    from hadoop_0_20_2_ljx_spark.operators import sorts

    df = spark.createDataFrame(
        [(None, 1), (5.0, 2), (1.0, 3)], "v double, id long"
    )
    asc = [r["id"] for r in sorts.key_field_sort(df, [("v", False, False)]).collect()]
    assert asc == [1, 3, 2]  # null first on ASC
    desc = [r["id"] for r in sorts.key_field_sort(df, [("v", False, True)]).collect()]
    assert desc == [2, 3, 1]  # null last on DESC


def test_keep_best_dedup_null_score_never_wins(spark):
    from hadoop_0_20_2_ljx_spark.extensions import dedup

    df = spark.createDataFrame(
        [(1, "same text", None), (2, "same text", 5), (3, "other", None),
         (4, "other", None)],
        "doc_id long, text string, score int",
    )
    out = {r["doc_id"]: r for r in
           dedup.keep_best_dedup(df, "doc_id", "text", "score").collect()}
    # scored doc beats the null-scored duplicate
    assert 2 in out and out[2]["score"] == 5 and out[2]["n_dups"] == 2
    # all-null group: smallest id wins, score surfaces as NULL
    assert 3 in out and out[3]["score"] is None and out[3]["n_dups"] == 2


def test_drift_counts_null_bin_and_slice_excluded(spark):
    from hadoop_0_20_2_ljx_spark.extensions import audit

    df = spark.createDataFrame(
        [("g", 1.0, True), ("g", None, True), ("g", 2.0, None), ("g", 3.0, False),
         (None, 4.0, True)],
        "g string, v double, in_a boolean",
    )
    rows = audit.drift_counts(
        df, "g", F.col("v").cast("long"), F.col("in_a")
    ).collect()
    got = {(r["_g"], r["_b"]): (r["_c1"], r["_c2"]) for r in rows}
    # null bin (v NULL) and null slice predicate rows are in NO histogram
    assert got == {("g", 1): (1, 0), ("g", 3): (0, 1), (None, 4): (1, 0)}


def test_ks_counts_null_slice_predicate_excluded(spark):
    from hadoop_0_20_2_ljx_spark.extensions import audit

    df = spark.createDataFrame(
        [("g", 1.0, True), ("g", 1.0, None), ("g", 2.0, False)],
        "g string, v double, in_a boolean",
    )
    rows = audit.ks_counts(df, "g", F.col("v"), F.col("in_a")).collect()
    got = {(r["_g"], r["_v"]): (r["_da"], r["_db"]) for r in rows}
    assert got == {("g", 1.0): (1, 0), ("g", 2.0): (0, 1)}


def test_classifier_null_text_scores_as_empty_doc(spark):
    from hadoop_0_20_2_ljx_spark.extensions import textstats

    df = spark.createDataFrame([(1, None), (2, "")], "doc_id long, text string")
    out = {r["doc_id"]: r for r in textstats.hashed_linear_classifier(
        df, "doc_id", "text").collect()}
    for i in (1, 2):  # NULL text == empty doc, bit for bit
        assert out[i]["n_tokens"] == 0 and out[i]["score_int"] == 0
        assert out[i]["score_ppm"] == 0 and out[i]["keep"] is False


def test_simhash_null_text_votes_sentinel(spark):
    from hadoop_0_20_2_ljx_spark.extensions import dedup

    df = spark.createDataFrame([(1, None), (2, "")], "doc_id long, text string")
    sigs = {r["doc_id"]: r["simhash"] for r in
            dedup.simhash_signatures(df, "doc_id", "text").collect()}
    assert sigs[1] == sigs[2]  # null text == empty doc == the sentinel
