"""Structured Streaming extensions: the streaming forms must run as real
streams (file source, availableNow trigger, memory sink) and agree with
their batch forms on on-time data."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from hadoop_0_20_2_ljx_spark import catalog
from hadoop_0_20_2_ljx_spark.streaming.windows import (
    sessionize,
    sessionize_stream,
    tumbling_counts,
    tumbling_counts_stream,
)
from tests.conftest import SF_SMOKE

TMP = "/root/repo/.tmp/streaming_src"


def _stage_events(spark):
    ev = catalog.load(spark, SF_SMOKE, "events")
    shutil.rmtree(TMP, ignore_errors=True)
    ev.write.parquet(TMP)
    return ev


def _run_stream(spark, make_stream, name, mode=None):
    schema = spark.read.parquet(TMP).schema
    src = spark.readStream.schema(schema).parquet(TMP)
    out = make_stream(src)
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode or ("complete" if name == "tumbling" else "append"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # a stateful query can keep running no-data state-cleanup batches past
    # the wait; left running, it holds the session's cores for later tests
    q.stop()
    return spark.table(name)


def test_tumbling_stream_matches_batch(spark):
    ev = _stage_events(spark)
    batch = tumbling_counts(ev, "1 hour")
    streamed = _run_stream(spark, lambda s: tumbling_counts_stream(s, "1 hour"), "tumbling")
    streamed_fmt = streamed.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "cnt",
    )
    assert sorted(map(tuple, batch.collect())) == sorted(map(tuple, streamed_fmt.collect()))


def test_session_stream_counts(spark):
    """session_window (streaming) and lag-cumsum (batch) agree on total
    sessions and events.

    Append mode only emits sessions finalized by the watermark, so a
    sentinel event far in the future (user -1) is staged to advance the
    watermark past every real session, then excluded from the comparison.
    """
    ev = _stage_events(spark)
    sentinel = ev.agg(
        F.lit(-1).cast("long").alias("event_id"),
        (F.max("ts") + F.expr("INTERVAL 10 DAYS")).alias("ts"),
        F.lit(-1).cast("long").alias("user_id"),
        F.lit("flush").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    sentinel.select(*ev.columns).write.mode("append").parquet(TMP)
    batch = sessionize(ev, gap_seconds=1800).agg(
        F.count("*").alias("sessions"), F.sum("n_events").alias("events")
    )
    streamed = (
        _run_stream(spark, lambda s: sessionize_stream(s, gap="30 minutes"), "sessions")
        .filter(F.col("user_id") >= 0)
        .agg(F.count("*").alias("sessions"), F.sum("n_events").alias("events"))
    )
    assert batch.collect()[0] == streamed.collect()[0]


def test_stateful_running_stats_matches_batch(spark):
    """applyInPandasWithState running per-user totals: one availableNow
    pass over a static source must equal the batch groupBy aggregate
    (each user's final update row carries the cumulative totals)."""
    from hadoop_0_20_2_ljx_spark.streaming.stateful import running_user_stats_stream

    ev = _stage_events(spark)
    batch = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"), F.round(F.sum("value"), 6).alias("sum_value")
    )
    streamed = _run_stream(spark, running_user_stats_stream, "runstats", mode="update")
    # update mode may emit a row per micro-batch per user; keep the last
    # (max n_events) per user, which is the cumulative total.
    final = streamed.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"), F.round(F.max("sum_value"), 6).alias("sum_value")
    )
    assert sorted(map(tuple, batch.collect())) == sorted(map(tuple, final.collect()))


def test_stream_cleanup():
    shutil.rmtree(TMP, ignore_errors=True)
    assert not os.path.exists(TMP)


def test_interval_join_stream_matches_batch(spark):
    """The watermarked stream-stream interval join must produce exactly
    the batch join's pairs on on-time data."""
    from hadoop_0_20_2_ljx_spark.streaming.joins import interval_join, interval_join_stream

    ev = _stage_events(spark)
    errors = ev.filter(F.col("event_type") == "error")
    signups = ev.filter(F.col("event_type") == "signup")
    batch = interval_join(errors, signups, "user_id", 3600)

    schema = spark.read.parquet(TMP).schema
    left = spark.readStream.schema(schema).parquet(TMP).filter(F.col("event_type") == "error")
    right = spark.readStream.schema(schema).parquet(TMP).filter(F.col("event_type") == "signup")
    out = interval_join_stream(left, right, "user_id", 3600)
    q = (
        out.writeStream.format("memory")
        .queryName("ivjoin")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.table("ivjoin")
    key = lambda r: (r["user_id"], r["left_id"], r["right_id"])
    assert sorted(map(key, batch.collect())) == sorted(map(key, streamed.collect()))
    assert batch.count() > 0


def test_late_rows_dropped_by_watermark_two_micro_batches(spark):
    """Real 2-micro-batch watermark semantics, the live twin of
    q_stream_late_data's accounting model: micro-batch 1 advances the
    2h watermark to max(ts)-2h; micro-batch 2 delivers 5 rows below it
    (dropped by the state operator) and 1 on-time row (kept). The second
    run resumes from the SAME checkpoint, so the watermark genuinely
    crosses micro-batch (and query-restart) boundaries."""
    import datetime as dt
    import json

    from hadoop_0_20_2_ljx_spark.streaming.windows import tumbling_counts_stream

    src_dir = "/root/repo/.tmp/late_src"
    ckpt = "/root/repo/.tmp/late_ckpt"
    out_dir = "/root/repo/.tmp/late_out"
    for d in (src_dir, ckpt, out_dir):
        shutil.rmtree(d, ignore_errors=True)
    t0 = dt.datetime(2024, 1, 1)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )

    def frame(hours, typ):
        rows = [
            (i, t0 + dt.timedelta(hours=h), 1, typ, 0.0, "{}")
            for i, h in enumerate(hours)
        ]
        return spark.createDataFrame(rows, schema)

    def run_once():
        # file sink, not memory: only durable sinks can RESUME from a
        # checkpoint, and the resume is what carries the watermark into
        # the second micro-batch
        src = spark.readStream.schema(
            spark.read.parquet(src_dir).schema
        ).parquet(src_dir)
        out = tumbling_counts_stream(src, "1 hour", watermark="2 hours")
        q = (
            out.writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return q

    # batch 1: three on-time rows + a high-water-mark row at t0+10h
    frame([0, 0.5, 1, 10], "on_time").write.mode("overwrite").parquet(src_dir)
    run_once()
    # batch 2: 5 rows far below the 8h watermark + 1 on-time row. One row
    # per hour window: the drop metric counts post-partial-agg GROUP rows
    # reaching the state store, so distinct windows make rows == groups.
    frame([2.5, 3.5, 4.5, 5.5, 6.5], "late").unionByName(
        frame([10.5], "on_time2")
    ).write.mode("append").parquet(src_dir)
    q2 = run_once()

    dropped = sum(
        int(json.loads(p.json)["stateOperators"][0]["numRowsDroppedByWatermark"])
        for p in q2.recentProgress
        if json.loads(p.json)["stateOperators"]
    )
    assert dropped == 5
    # and the dropped rows never surface in any emitted result
    emitted = spark.read.schema(
        "window_start timestamp, event_type string, cnt long"
    ).parquet(out_dir)
    assert emitted.filter(F.col("event_type") == "late").count() == 0
    assert emitted.filter(F.col("event_type") == "on_time").count() > 0
    for d in (src_dir, ckpt, out_dir):
        shutil.rmtree(d, ignore_errors=True)


def test_cdc_apply_stream_matches_batch_compaction(spark):
    """Streamed keep-latest upserts (foreachBatch, bucket-pruned dynamic
    overwrite) over two micro-batch runs must equal one batch compaction
    of the full input — and re-applying a batch must be idempotent."""
    import datetime as dt

    from hadoop_0_20_2_ljx_spark.extensions.pipeline_ops import keep_latest_versions
    from hadoop_0_20_2_ljx_spark.streaming import cdc

    src_dir = "/root/repo/.tmp/cdc_src"
    table = "/root/repo/.tmp/cdc_table"
    ckpt = "/root/repo/.tmp/cdc_ckpt"
    for d in (src_dir, table, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    t0 = dt.datetime(2024, 1, 1)
    schema = "user_id long, t_us long, event_id long, value double"

    def frame(rows):
        return spark.createDataFrame(rows, schema)

    b1 = frame([(u, 1000 + u, u * 10, float(u)) for u in range(50)])
    b2 = frame(
        [(u, 2000 + u, u * 10 + 1, float(u) + 0.5) for u in range(0, 30)]  # updates
        + [(u, 1500, u * 10 + 2, -1.0) for u in range(50, 60)]  # inserts
        + [(5, 900, 999, 7.0)]  # stale update: must lose to b1's ts
    )

    def run(batch):
        batch.write.mode("overwrite").parquet(src_dir + "_stage")
        batch.write.mode("append").parquet(src_dir)
        src = spark.readStream.schema(batch.schema).parquet(src_dir)
        q = cdc.cdc_apply_stream(
            src, table, ckpt, ["user_id"], "t_us", "event_id", n_buckets=8
        )
        q.awaitTermination(120)

    run(b1)
    run(b2)
    got = sorted(map(tuple, cdc.read_cdc_table(spark, table).collect()))
    want = sorted(
        map(
            tuple,
            keep_latest_versions(
                b1.unionByName(b2), ["user_id"], "t_us", "event_id"
            ).collect(),
        )
    )
    assert got == want
    # idempotence: re-applying the last batch changes nothing
    cdc.apply_cdc_batch(b2, table, ["user_id"], "t_us", "event_id", n_buckets=8)
    again = sorted(map(tuple, cdc.read_cdc_table(spark, table).collect()))
    assert again == want
    for d in (src_dir, src_dir + "_stage", table, ckpt):
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_incremental_dedup_matches_batch(spark, tmp_path):
    """Streaming ingest dedup: each micro-batch's docs are LSH-matched
    against the ACCUMULATED index via foreachBatch + incremental_lsh
    (the daily-ingest shape as a continuous pipeline). Two batches,
    file stream; the union of per-batch matches must equal the batch
    run of incremental_lsh_candidates over the same split."""
    from pyspark.sql import functions as F

    from hadoop_0_20_2_ljx_spark.extensions import dedup

    docs = catalog.load(spark, SF_SMOKE, "documents").select("doc_id", "text")
    index = docs.where(F.col("doc_id") % 10 != 0)
    new = docs.where(F.col("doc_id") % 10 == 0)
    src_dir = str(tmp_path / "stream_src")
    # two micro-batches of the new side (one file each)
    new.where(F.col("doc_id") % 20 == 0).coalesce(1).write.parquet(f"{src_dir}/b0")
    new.where(F.col("doc_id") % 20 == 10).coalesce(1).write.parquet(f"{src_dir}/b1")

    schema = docs.schema
    matches: list = []

    def on_batch(batch_df, batch_id):
        got = dedup.incremental_lsh_candidates(
            batch_df, index, "doc_id", "text"
        ).collect()
        matches.extend((r["new_id"], r["index_id"]) for r in got)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src_dir}/*")
    )
    q = stream.writeStream.foreachBatch(on_batch).trigger(availableNow=True).start()
    q.awaitTermination(180)

    expected = {
        (r["new_id"], r["index_id"])
        for r in dedup.incremental_lsh_candidates(new, index, "doc_id", "text").collect()
    }
    assert set(matches) == expected and expected


def test_streaming_drift_monitor_matches_batch(spark, tmp_path):
    """Streamable drift monitor: drift_counts' integer histogram counts
    are ADDITIVE, so a foreachBatch loop that appends each micro-batch's
    counts and re-finalizes (merge + js_from_counts) must equal the
    one-shot batch JS — without ever re-scanning history. Two
    micro-batches over the events fixture."""
    from pyspark.sql import functions as F

    from hadoop_0_20_2_ljx_spark.extensions import audit

    ev = catalog.load(spark, SF_SMOKE, "events").select(
        "event_id", "event_type", "value", "ts"
    )
    bin_col = F.least(F.floor(F.col("value") / 50).cast("long"), F.lit(9))
    split = F.col("ts") < F.lit("2024-01-16")

    src_dir = str(tmp_path / "drift_src")
    counts_dir = str(tmp_path / "drift_counts")
    ev.where(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(f"{src_dir}/b0")
    ev.where(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(f"{src_dir}/b1")

    def on_batch(batch_df, batch_id):
        audit.drift_counts(batch_df, "event_type", bin_col, split).write.mode(
            "append"
        ).parquet(counts_dir)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src_dir}/*")
    )
    q = stream.writeStream.foreachBatch(on_batch).trigger(availableNow=True).start()
    q.awaitTermination(180)

    merged = audit.merge_drift_counts(spark.read.parquet(counts_dir))
    streamed = {
        r["event_type"]: r["js_nano"]
        for r in audit.js_from_counts(merged, "event_type").collect()
    }
    batch = {
        r["event_type"]: r["js_nano"]
        for r in audit.distribution_drift_js(
            ev, "event_type", bin_col, split, n_bins=10
        ).collect()
    }
    assert streamed == batch and batch


def test_streaming_fingerprint_matches_batch(spark, tmp_path):
    """Streamable anti-entropy check: bucket_fingerprint's (n_rows,
    mod-2^63 hash-sum) statistics are ADDITIVE, so a foreachBatch loop
    that appends each micro-batch's bucket fingerprints and re-merges
    (merge_fingerprints) must equal the one-shot batch fingerprint —
    the continuously-ingested table never re-scans history. Two
    micro-batches over the orders fixture."""
    from pyspark.sql import functions as F

    from hadoop_0_20_2_ljx_spark.extensions import audit

    orders = catalog.load(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    )
    row = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_orderstatus"),
        F.col("o_orderpriority"),
    )

    src_dir = str(tmp_path / "fp_src")
    parts_dir = str(tmp_path / "fp_parts")
    orders.where(F.col("o_orderkey") % 2 == 0).coalesce(1).write.parquet(f"{src_dir}/b0")
    orders.where(F.col("o_orderkey") % 2 == 1).coalesce(1).write.parquet(f"{src_dir}/b1")

    def on_batch(batch_df, batch_id):
        r = F.concat_ws(
            "|",
            F.col("o_orderkey").cast("string"),
            F.col("o_orderstatus"),
            F.col("o_orderpriority"),
        )
        audit.bucket_fingerprint(batch_df, F.col("o_orderkey"), r, 16).write.mode(
            "append"
        ).parquet(parts_dir)

    stream = (
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src_dir}/*")
    )
    q = stream.writeStream.foreachBatch(on_batch).trigger(availableNow=True).start()
    q.awaitTermination(180)

    streamed = {
        r["bucket"]: (r["n_rows"], r["fingerprint"])
        for r in audit.merge_fingerprints(spark.read.parquet(parts_dir)).collect()
    }
    batch = {
        r["bucket"]: (r["n_rows"], r["fingerprint"])
        for r in audit.bucket_fingerprint(orders, F.col("o_orderkey"), row, 16).collect()
    }
    assert streamed == batch and len(batch) == 16


def test_drop_duplicates_within_watermark_stream(spark, tmp_path):
    """Built-in streaming dedup surface (dropDuplicatesWithinWatermark):
    re-deliveries of the same event id across micro-batches inside the
    watermark are dropped — the engine-native alternative to the
    applyInPandasWithState first-seen dedup above, with state bounded by
    the watermark instead of idle timeouts."""
    from pyspark.sql import functions as F

    ev = catalog.load(spark, SF_SMOKE, "events").select("event_id", "ts", "value")
    src_dir = str(tmp_path / "ddw_src")
    # batch 0: half the events; batch 1: the other half PLUS re-deliveries
    # of 50 ids from batch 0 (same rows — at-least-once delivery)
    b0 = ev.where(F.col("event_id") % 2 == 0)
    b1 = ev.where(F.col("event_id") % 2 == 1).unionByName(
        b0.where(F.col("event_id") % 100 == 0)
    )
    b0.coalesce(1).write.parquet(f"{src_dir}/b0")
    b1.coalesce(1).write.parquet(f"{src_dir}/b1")

    out: list = []

    def sink(df, _bid):
        out.extend(r["event_id"] for r in df.collect())

    q = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src_dir}/*")
        .withWatermark("ts", "90 days")
        .dropDuplicatesWithinWatermark(["event_id"])
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    assert sorted(out) == sorted(r["event_id"] for r in ev.select("event_id").collect())


def test_transform_with_state_closed_sessions(spark, tmp_path):
    """transformWithStateInPandas session close (streaming/tws.py): the
    event-time timer must flush idle keys' final sessions once the
    watermark passes, and the emitted set must equal the batch
    sessionization restricted to watermark-closed sessions. Runs only
    where the protobuf state protocol is available (not this container —
    the processor logic is covered by the fake-handle tests below)."""
    import pytest

    pytest.importorskip("google.protobuf")
    from hadoop_0_20_2_ljx_spark.streaming import tws

    rows = []
    base = 1704067200  # 2024-01-01 00:00:00 UTC, seconds
    for uid in range(5):
        for k in range(3):
            rows.append((uid, base + uid * 60 + k * 300))
        for k in range(2):
            rows.append((uid, base + 86400 + uid * 60 + k * 300))
    rows.append((999, base + 2 * 86400))  # sentinel: drives the watermark
    src_dir = str(tmp_path / "tws_src")
    df = spark.createDataFrame(rows, "user_id long, sec long").select(
        "user_id", F.col("sec").cast("timestamp").alias("ts")
    )
    df.write.parquet(src_dir)

    stream = spark.readStream.schema(df.schema).parquet(src_dir)
    out = tws.closed_sessions_stream(stream, gap="30 minutes", watermark="1 minute")
    q = (
        out.writeStream.format("memory")
        .queryName("tws_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = sorted(map(tuple, spark.table("tws_sessions").collect()))
    batch = sorted(
        map(
            tuple,
            tws.closed_sessions_batch(
                spark.read.parquet(src_dir), gap="30 minutes", watermark="1 minute"
            ).collect(),
        )
    )
    assert len(batch) == 10
    assert streamed == batch


class _FakeValueState:
    def __init__(self):
        self._v = None

    def exists(self):
        return self._v is not None

    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def clear(self):
        self._v = None


class _FakeHandle:
    def __init__(self):
        self.state = _FakeValueState()
        self.timers = []

    def getValueState(self, name, schema, ttlDurationMs=None):
        return self.state

    def listTimers(self):
        return list(self.timers)

    def deleteTimer(self, t):
        self.timers.remove(t)

    def registerTimer(self, t):
        self.timers.append(t)


class _FakeExpiredTimer:
    def __init__(self, ms):
        self._ms = ms

    def getExpiryTimeInMs(self):
        return self._ms


def _drive_processor(events_by_batch, gap_ms, final_wm_ms):
    """Replay the driver-side contract on the processor directly: per
    batch feed each key's rows, then fire any timers the batch-end
    watermark has passed (the MicroBatchExecution ordering)."""
    import pandas as pd

    from hadoop_0_20_2_ljx_spark.streaming.tws import SessionCloseProcessor

    proc = SessionCloseProcessor(gap_ms)
    handle = _FakeHandle()
    proc.init(handle)
    out = []
    for batch, wm in events_by_batch:
        if batch:
            pdf = pd.DataFrame({"ts_ms": batch})
            for res in proc.handleInputRows((7,), iter([pdf]), None):
                out.extend(map(tuple, res.itertuples(index=False)))
        for t in list(handle.timers):
            if t <= wm:
                handle.timers.remove(t)
                for res in proc.handleExpiredTimer((7,), None, _FakeExpiredTimer(t)):
                    out.extend(map(tuple, res.itertuples(index=False)))
    return out


def test_tws_processor_gap_split_and_timer_close():
    """Session merge + gap split on input, timer close on watermark: two
    bursts 1h apart with a 30-min gap must yield two sessions — the
    first emitted when the second burst arrives, the second only when
    the watermark passes its expiry."""
    gap = 30 * 60_000
    b1 = [0, 300_000, 600_000]          # burst 1: 3 events, 5 min apart
    b2 = [3_600_000, 3_900_000]         # burst 2: 1h later
    out = _drive_processor([(b1 + b2, 600_000)], gap, None)
    assert out == [(7, 0, 600_000, 3)]  # burst 1 closed by the gap split
    out2 = _drive_processor(
        [(b1 + b2, 600_000), ([], 3_900_000 + gap)], gap, None
    )
    assert out2 == [(7, 0, 600_000, 3), (7, 3_600_000, 3_900_000, 2)]


def test_tws_processor_stale_timer_does_not_close_extended_session():
    """A timer armed for an earlier state of the session must not fire
    the extended session early (the expiry >= last+gap guard)."""
    gap = 30 * 60_000
    proc_out = _drive_processor(
        [
            ([0], None if False else -1),        # arm timer at 0+gap; wm before it
            ([10 * 60_000], 0 + gap),            # extended; old timer wm passed
        ],
        gap,
        None,
    )
    # the batch-2 watermark (0+gap) is past the STALE expiry but the
    # processor re-armed at 10min+gap — replay fires only timers still
    # registered, and the re-arm deleted the stale one: nothing closes
    assert proc_out == []


def test_tws_processor_matches_batch_oracle(spark):
    """Full replay vs closed_sessions_batch on multi-user data: feeding
    every event then an empty batch at the final watermark must emit
    exactly the watermark-closed sessions of the batch form."""
    from hadoop_0_20_2_ljx_spark.streaming import tws

    base_s = 1704067200
    rows = []
    for uid in range(4):
        for k in range(3):
            rows.append((uid, base_s + uid * 60 + k * 300))
        for k in range(2):
            rows.append((uid, base_s + 86400 + uid * 60 + k * 300))
    rows.append((999, base_s + 2 * 86400))
    df = spark.createDataFrame(rows, "user_id long, sec long").select(
        "user_id", F.col("sec").cast("timestamp").alias("ts")
    )
    expected = sorted(
        map(
            tuple,
            tws.closed_sessions_batch(df, gap="30 minutes", watermark="1 minute")
            .collect(),
        )
    )
    # drive each user's processor; final watermark = max ts - 1 min
    final_wm = (base_s + 2 * 86400) * 1000 - 60_000
    got = []
    by_user = {}
    for uid, sec in rows:
        by_user.setdefault(uid, []).append(sec * 1000)
    for uid, ts_ms in by_user.items():
        out = _drive_processor([(sorted(ts_ms), final_wm)], 30 * 60_000, None)
        got.extend((uid,) + t[1:] for t in out)
    assert sorted(got) == expected


def test_streaming_ks_monitor_matches_batch(spark, tmp_path):
    """Streamable EXACT-KS monitor: ks_counts' per (group, value) slice
    counts are additive, so foreachBatch accumulation + re-finalize
    (merge_ks_counts + ks_from_counts) must equal the one-shot batch KS —
    the binless companion to the JS monitor, same never-re-scan-history
    contract. Two micro-batches over the events fixture."""
    from pyspark.sql import functions as F

    from hadoop_0_20_2_ljx_spark.extensions import audit

    ev = catalog.load(spark, SF_SMOKE, "events").select(
        "event_id", "event_type", "value", "ts"
    )
    split = F.col("ts") < F.lit("2024-01-16")

    src_dir = str(tmp_path / "ks_src")
    counts_dir = str(tmp_path / "ks_counts")
    ev.where(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(f"{src_dir}/b0")
    ev.where(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(f"{src_dir}/b1")

    def on_batch(batch_df, batch_id):
        audit.ks_counts(batch_df, "event_type", F.col("value"), split).write.mode(
            "append"
        ).parquet(counts_dir)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src_dir}/*")
    )
    q = stream.writeStream.foreachBatch(on_batch).trigger(availableNow=True).start()
    q.awaitTermination(180)

    merged = audit.merge_ks_counts(spark.read.parquet(counts_dir))
    streamed = {
        r["event_type"]: (r["ks_ppm"], r["at_value_micros"], r["n_a"], r["n_b"])
        for r in audit.ks_from_counts(merged, "event_type").collect()
    }
    batch = {
        r["event_type"]: (r["ks_ppm"], r["at_value_micros"], r["n_a"], r["n_b"])
        for r in audit.distribution_drift_ks(
            ev, "event_type", F.col("value"), split
        ).collect()
    }
    assert streamed == batch and batch


def _staged_quarters(spark, df, key, src_dir):
    """Stage a table as four single-file parquet drops (four micro-batches
    under maxFilesPerTrigger=1)."""
    for i in range(4):
        df.where(F.col(key) % 4 == i).coalesce(1).write.parquet(f"{src_dir}/b{i}")


def _run_monitor_stream(spark, schema, src_dir, on_batch, ckpt):
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src_dir}/*")
    )
    q = (
        stream.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def _kill_and_resume(spark, schema, src_dir, stats_fn, out_dir, ckpt):
    """Run a checkpointed idempotent monitor stream that CRASHES mid-batch
    1 (after leaving a deliberate partial write), then restart it from the
    same checkpoint. Returns nothing; raises on any broken invariant."""
    import pytest

    from hadoop_0_20_2_ljx_spark.streaming.monitors import idempotent_monitor_sink

    sink = idempotent_monitor_sink(stats_fn, out_dir)
    crashed = {"done": False}

    def crashing(batch_df, batch_id):
        if batch_id == 1 and not crashed["done"]:
            crashed["done"] = True
            # simulate dying mid-write: a PARTIAL stats file is already on
            # disk when the query dies — replay must overwrite it
            stats_fn(batch_df).limit(1).write.mode("overwrite").parquet(
                f"{out_dir}/batch_id={batch_id}"
            )
            raise RuntimeError("injected mid-batch crash")
        sink(batch_df, batch_id)

    with pytest.raises(Exception, match="injected mid-batch crash"):
        _run_monitor_stream(spark, schema, src_dir, crashing, ckpt)
    # vacuity guards: the crash really happened mid-stream, and the
    # partial write is really on disk (1 stats row where a full batch
    # writes many)
    assert crashed["done"]
    partial = spark.read.parquet(f"{out_dir}/batch_id=1").count()
    assert partial == 1, f"expected the partial write, saw {partial} rows"
    # restart from the SAME checkpoint: batch 1 replays under the SAME
    # batch_id (offset log precedes execution), overwrites its partial
    # output, and the stream runs to completion
    _run_monitor_stream(spark, schema, src_dir, crashing, ckpt)
    assert spark.read.parquet(f"{out_dir}/batch_id=1").count() > 1


def test_kill_and_resume_drift_monitor(spark, tmp_path):
    """JobTracker-restart analog (mapred/JobHistory.java:76) for the
    streamed JS drift monitor: kill the query mid-batch (partial stats
    write on disk), restart from the checkpoint, and the final merged
    state must be bit-equal to BOTH an uninterrupted streaming run and
    the one-shot batch monitor."""
    from hadoop_0_20_2_ljx_spark.extensions import audit
    from hadoop_0_20_2_ljx_spark.streaming.monitors import idempotent_monitor_sink

    ev = catalog.load(spark, SF_SMOKE, "events").select(
        "event_id", "event_type", "value", "ts"
    )
    bin_col = F.least(F.floor(F.col("value") / 50).cast("long"), F.lit(9))
    split = F.col("ts") < F.lit("2024-01-16")

    def stats_fn(batch_df):
        return audit.drift_counts(batch_df, "event_type", bin_col, split)

    def finalize(out_dir):
        merged = audit.merge_drift_counts(spark.read.parquet(out_dir))
        return {
            r["event_type"]: r["js_nano"]
            for r in audit.js_from_counts(merged, "event_type").collect()
        }

    src_dir = str(tmp_path / "src")
    _staged_quarters(spark, ev, "event_id", src_dir)

    _kill_and_resume(
        spark, ev.schema, src_dir, stats_fn,
        str(tmp_path / "killed"), str(tmp_path / "ckpt_killed"),
    )
    _run_monitor_stream(
        spark, ev.schema, src_dir,
        idempotent_monitor_sink(stats_fn, str(tmp_path / "clean")),
        str(tmp_path / "ckpt_clean"),
    )
    resumed = finalize(str(tmp_path / "killed"))
    uninterrupted = finalize(str(tmp_path / "clean"))
    batch = {
        r["event_type"]: r["js_nano"]
        for r in audit.distribution_drift_js(
            ev, "event_type", bin_col, split, n_bins=10
        ).collect()
    }
    assert resumed == uninterrupted == batch and batch


def test_kill_and_resume_fingerprint_monitor(spark, tmp_path):
    """Same kill-and-resume proof for the anti-entropy fingerprint: the
    mod-2^63 hash-sum is additive, so a replayed (previously partial)
    batch must leave the merged fingerprint bit-equal to the
    uninterrupted stream and the one-shot batch fingerprint."""
    from hadoop_0_20_2_ljx_spark.extensions import audit
    from hadoop_0_20_2_ljx_spark.streaming.monitors import idempotent_monitor_sink

    orders = catalog.load(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    )
    row = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_orderstatus"),
        F.col("o_orderpriority"),
    )

    def stats_fn(batch_df):
        r = F.concat_ws(
            "|",
            F.col("o_orderkey").cast("string"),
            F.col("o_orderstatus"),
            F.col("o_orderpriority"),
        )
        return audit.bucket_fingerprint(batch_df, F.col("o_orderkey"), r, 16)

    def finalize(out_dir):
        return {
            r["bucket"]: (r["n_rows"], r["fingerprint"])
            for r in audit.merge_fingerprints(spark.read.parquet(out_dir)).collect()
        }

    src_dir = str(tmp_path / "src")
    _staged_quarters(spark, orders, "o_orderkey", src_dir)

    _kill_and_resume(
        spark, orders.schema, src_dir, stats_fn,
        str(tmp_path / "killed"), str(tmp_path / "ckpt_killed"),
    )
    _run_monitor_stream(
        spark, orders.schema, src_dir,
        idempotent_monitor_sink(stats_fn, str(tmp_path / "clean")),
        str(tmp_path / "ckpt_clean"),
    )
    resumed = finalize(str(tmp_path / "killed"))
    uninterrupted = finalize(str(tmp_path / "clean"))
    batch = {
        r["bucket"]: (r["n_rows"], r["fingerprint"])
        for r in audit.bucket_fingerprint(orders, F.col("o_orderkey"), row, 16).collect()
    }
    assert resumed == uninterrupted == batch and len(batch) == 16
