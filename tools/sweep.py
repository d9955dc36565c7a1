#!/usr/bin/env python
"""Registry invariance sweeps: replay every registry query under one
session setting or one mutated fixture at a time, and diff the oracle
failures against the axis's expected set.

    python tools/sweep.py [AXIS ...] [--sf DIR] [--only q1,q2]

With no AXIS every row of ``AXES`` runs. A full run (no AXIS, no --only)
also writes SWEEPS.json at the repo root: pass, fail and expected counts,
failing names, wall time and fixture dir per axis, plus host cores, git
HEAD and Spark version. Exit code 0 means every axis held.

Each axis runs in its own spawned child process, because static confs
(spark.driver.memory, the force-spill threshold, default.parallelism)
only take effect when the JVM starts. The child replays through
``oracle.replay``, the same loop and oracle compare as the driver gate
(tools/driver_sim.py), so an axis differs from the gate only by its row.

An axis fails when its child exits non-zero or replays zero queries, when
a conf of its row does not read back from the live session, when its
vacuity check fails, when a query outside its expected set diverges, or
when a query inside it now passes (an improvement must be recorded on
purpose: shrink the set, and the queries/base.py note with it). Each
axis replays its own default fixture unless --sf names another: sf0.01
for the conf axes, which expect zero divergences at any scale, and
sf0.001 for the mutated-fixture axes, whose expected sets are measured
there.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
import time
from typing import Callable, Collection, NamedTuple

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from hadoop_0_20_2_ljx_spark import catalog, oracle  # noqa: E402 — needs REPO on sys.path
from hadoop_0_20_2_ljx_spark.jobs import DEFAULT_SF  # noqa: E402 — sf0.001

# the driver gate's scale: the conf axes' default fixture
GATE_SF = os.path.join(os.path.dirname(DEFAULT_SF), "sf0.01")


class Axis(NamedTuple):
    master: str
    # session confs on top of spark.driver.memory=8g; a callable value is
    # computed from the replayed fixture dir
    conf: dict
    why: str
    # (table name, pyarrow table) -> mutated table, or None to copy as is
    fixture: Callable | None = None
    # names expected to diverge from their oracle (a dict keeps reasons)
    expected: Collection[str] = frozenset()
    # (spark, replayed dir) -> None, or why the axis tested nothing
    check: Callable | None = None
    # replaces the plain registry replay (the two-pass retry axis)
    replay: Callable | None = None
    # default fixture dir (--sf overrides it)
    sf: str = GATE_SF
    # rows per parquet row group of a rewritten fixture (None: one group)
    row_group_rows: int | None = None


# ---------------------------------------------------------------- fixtures


def _h(key: str, digits: int) -> int:
    return int(hashlib.md5(key.encode()).hexdigest()[:digits], 16)


def _replace(tab, name: str, arr):
    cols = [arr if n == name else tab[n] for n in tab.column_names]
    return pa.Table.from_arrays(cols, schema=tab.schema)


def build_fixture(fixture: Callable, src: str, dst: str,
                  row_group_rows: int | None = None) -> None:
    """Write every fixture table of ``src`` to ``dst`` through ``fixture``."""
    for t in catalog.TABLES:
        out = fixture(t, pq.read_table(f"{src}/{t}.parquet"))
        if out is None:
            shutil.copyfile(f"{src}/{t}.parquet", f"{dst}/{t}.parquet")
        else:
            pq.write_table(out, f"{dst}/{t}.parquet", row_group_size=row_group_rows)


# columns that keep their non-null fixture contract (keys: nulling them
# changes join/group shapes, which is a different boundary than ordering)
KEEP = {
    "doc_id", "vec_id", "user_id", "event_id", "o_orderkey", "l_orderkey",
    "l_linenumber", "c_custkey", "s_suppkey", "p_partkey", "n_nationkey",
    "r_regionkey", "ps_partkey", "o_custkey", "l_partkey", "l_suppkey",
    "c_nationkey", "s_nationkey", "n_regionkey",
}


def _nulled(t: str, tab):
    """30% of every non-key column, md5-masked per (table, column, row)."""
    n = tab.num_rows
    cols = []
    for name in tab.column_names:
        col = tab[name]
        if name not in KEEP and n:
            mask = pa.array([_h(f"{t}:{name}:{i}", 4) % 10 < 3 for i in range(n)])
            col = pc.if_else(mask, pa.nulls(n, col.type), col.combine_chunks())
        cols.append(col)
    return pa.Table.from_arrays(cols, schema=tab.schema)


FLOATS = {
    "c_acctbal", "s_acctbal", "p_retailprice", "o_totalprice",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax", "value",
}


def _salt(key: str, v):
    h = _h(key, 4) % 100
    if h < 6:
        return float("nan")
    if h < 8:
        return float("inf")
    if h < 10:
        return float("-inf")
    return v


def _nonfinite(t: str, tab):
    """~10% NaN/+Inf/-Inf in every double column; NaN and Inf elements in
    ~5% of the embedding vectors."""
    cols = []
    for name in tab.column_names:
        col = tab[name]
        if name in FLOATS:
            col = pa.array(
                [None if v is None else _salt(f"{t}:{name}:{i}", v)
                 for i, v in enumerate(col.to_pylist())],
                type=col.type,
            )
        elif name == "embedding":
            out = []
            for i, vec in enumerate(col.to_pylist()):
                if vec is not None and len(vec) > 2 and _h(f"{t}:emb:{i}", 4) % 100 < 5:
                    vec = [float("nan"), float("inf"), *vec[2:]]
                out.append(vec)
            col = pa.array(out, type=col.type)
        cols.append(col)
    return pa.Table.from_arrays(cols, schema=tab.schema)


# NBSP, CJK, combining accent, RTL, emoji, ZWJ, ideographic space,
# vertical tab, em-dash
SALTS = [
    "café", " ", "猫犬鸟", "étude",
    "שלום", "\U0001f600", "a‍b", "　",
    "\x0b", "naïve—dash",
]


def _unicode(t: str, tab):
    """Three salt tokens inserted into every document's text."""
    if t != "documents":
        return None
    out = []
    for i, s in enumerate(tab["text"].to_pylist()):
        if s is not None:
            words = s.split(" ")
            h = _h(str(i), 6)
            for j in range(3):
                words.insert((h + j * 37) % (len(words) + 1), SALTS[(h + j) % len(SALTS)])
            s = " ".join(words)
        out.append(s)
    return _replace(tab, "text", pa.array(out, type=tab.schema.field("text").type))


def _pre1970(t: str, tab):
    """events.ts shifted back 80 years: every epoch value negative."""
    if t != "events":
        return None
    ts = tab["ts"].combine_chunks()
    per_sec = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}[ts.type.unit]
    shift = int(80 * 365.25 * 86400) * per_sec
    return _replace(tab, "ts", pc.subtract(ts.cast(pa.int64()), shift).cast(ts.type))


def _emptied(t: str, tab):
    return tab.schema.empty_table()


def _as_is(t: str, tab):
    """Every table rewritten unchanged (in the axis's row groups)."""
    return tab


# ------------------------------------------------------ checks and confs


def _spill_threshold(data: str) -> str:
    """Force-spill every ~1024 rows per 60k lineitem rows, as a power of
    two: 1024 at sf0.01, 8192 at sf0.1 (128 at sf0.001). The merge opens
    one reader per spill FILE at ~2 MB each (the reader buffer conf floors
    at 1 MiB), so the file count, not the data, sets merge memory: at
    sf0.1 a 1024-row threshold made ~600 files per task and OOMed an 8 GB
    heap on reader buffers (SCALE.md). The spill path runs the same at
    every threshold; only the file count changes."""
    rows = pq.read_metadata(f"{data}/lineitem.parquet").num_rows
    return str(2 ** round(math.log2(1024 * rows / 60_000)))


def _check_spilled(spark, data):
    """Fail unless the replay spilled to disk (REST stage metrics)."""
    import bench

    stages = bench.read_stages(spark)
    disk = sum(s.get("diskBytesSpilled", 0) for s in stages)
    mem = sum(s.get("memoryBytesSpilled", 0) for s in stages)
    n = sum(1 for s in stages if s.get("diskBytesSpilled", 0) > 0)
    print(f"spill check: {disk / 1e6:.1f} MB disk / {mem / 1e6:.1f} MB memory "
          f"spilled across {n} stages")
    return None if disk > 0 else "nothing spilled: the axis is vacuous"


def _check_fixture(table: str, column: str, mutated: Callable, what: str):
    def check(spark, data):
        col = pq.read_table(f"{data}/{table}.parquet", columns=[column])[column]
        return None if mutated(col) else f"fixture has no {what}"
    return check


def _check_split(spark, data):
    """Fail unless some table scans as more non-empty splits than files.
    Spark splits parquet at row-group midpoints, so a one-group file reads
    as one non-empty split whatever maxPartitionBytes says."""
    from pyspark.sql import functions as F

    splits = {t: catalog.load(spark, data, t).select(F.spark_partition_id())
              .distinct().count() for t in catalog.TABLES}
    print("split check: non-empty scan splits per table: "
          + ", ".join(f"{t} {n}" for t, n in splits.items()))
    if sum(splits.values()) > len(splits):
        return None
    return "every table scanned as one split: the axis is vacuous"


def _check_empty(spark, data):
    rows = sum(pq.read_metadata(f"{data}/{t}.parquet").num_rows for t in catalog.TABLES)
    return f"fixture is not empty ({rows} rows)" if rows else None


# ------------------------------------------------------------- replay


def _replay(spark, data, only, collect=None) -> dict:
    """The driver contract's queries replayed against their oracles."""
    import __spark_entry__

    return oracle.replay(spark, data, __spark_entry__.queries(),
                         __spark_entry__.oracle_sql(), only, collect)


# ------------------------------------------------------------- retry axis


def _strict_render(v) -> str:
    """Bit-level rendering: float.hex (no rounding), bytes hex, recursive
    containers; everything else repr."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, float):
        return v.hex()  # handles nan/inf; bit-exact for finite values
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):  # Row is a tuple subclass
        return "[" + ",".join(_strict_render(x) for x in v) + "]"
    if isinstance(v, dict):
        items = sorted((_strict_render(k), _strict_render(x)) for k, x in v.items())
        return "{" + ",".join(f"{k}:{x}" for k, x in items) + "}"
    return repr(v)


def strict_fingerprint(cols: list[str], rows: list) -> str:
    """Order-insensitive (multiset) bit-level fingerprint."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rendered = sorted("|".join(_strict_render(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(rendered).encode()).hexdigest()


def _make_injector(acc, fail: bool):
    """A per-partition wrapper: fail the task's FIRST attempt (when
    ``fail``), count successful attempt>0 executions (the vacuity
    signal). Works as both a mapInPandas function and an RDD
    mapPartitions function: it only passes the iterator through."""

    def gen(it):
        from pyspark import TaskContext

        tc = TaskContext.get()
        if tc is not None:
            if fail and tc.attemptNumber() == 0:
                raise RuntimeError("sweep retry: injected first-attempt failure")
            if tc.attemptNumber() > 0:
                acc.add(1)
        yield from it

    return gen


def _retry_pass(spark, data, only, acc, fail: bool):
    """One replay with every table scan and every result collection
    wrapped in the injector. Returns (outcomes, strict fingerprints,
    retried task counts), the last two per query."""
    injector = _make_injector(acc, fail)
    strict: dict[str, str] = {}
    retried: dict[str, int] = {}
    orig_load = catalog.load

    def load(spark_, sf_dir, name):
        df = orig_load(spark_, sf_dir, name)
        return df.mapInPandas(injector, schema=df.schema)

    def collect(name, df):
        before = acc.value
        rows = df.rdd.mapPartitions(injector).collect()
        strict[name] = strict_fingerprint(df.columns, rows)
        retried[name] = acc.value - before
        return rows

    catalog.load = load
    try:
        return _replay(spark, data, only, collect), strict, retried
    finally:
        catalog.load = orig_load


def _retry_replay(spark, data, only):
    """Pass A passes rows through the injector untouched, pass B fails
    every first attempt; both run the SAME wrapped plans, so the strict
    diff isolates task re-execution. Both passes are oracle-compared."""
    sc = spark.sparkContext
    # each injected failure logs a WARN and an ERROR traceback; real query
    # failures still surface through replay's exception path
    sc.setLogLevel("FATAL")
    acc = sc.accumulator(0)
    base, base_fp, _ = _retry_pass(spark, data, only, acc, False)
    before = acc.value
    outcomes, fp, retried = _retry_pass(spark, data, only, acc, True)
    # the total also counts retries of eager jobs run while building;
    # the per-query counts cover the result collection only
    total = acc.value - before
    for name, why in outcomes.items():
        if why is None and base[name] is not None:
            why = f"baseline pass: {base[name]}"
        elif why is None and fp[name] != base_fp[name]:
            why = "retried fingerprint != baseline (bit diff)"
        elif why is None and retried[name] == 0:
            why = "VACUOUS: no task was retried"
        outcomes[name] = why
    print(f"RETRY: retried_tasks={total}")
    return outcomes


# ------------------------------------------------------- expected sets

# the post-r10 NULL divergence set, each name classified in queries/base.py's
# NULL-ordering boundary note
NULL_DIVERGENT = {
    # (1) trainers / null-fed embedding math
    "q_dedup_embed", "q_dedup_semantic", "q_embed_ann", "q_embed_ivf",
    "q_embed_ivf_bcast", "q_embed_ivf_nprobe", "q_embed_ivfpq",
    "q_embed_ivfpq_nprobe", "q_embed_ivfpq_rerank", "q_embed_kmeans",
    "q_embed_kmeans_ivf", "q_embed_kmeans_ivf_bcast", "q_embed_knn",
    "q_embed_pq",
    # (2) wire/rendering roundtrips whose wire form cannot carry NULL
    "q_filter_skipbad", "q_fn_recordio", "q_multimodal_features",
    "q_proj_fieldsel", "q_scan_bz2_text", "q_scan_gzip_text",
    "q_scan_kv_split", "q_sink_har_roundtrip", "q_sink_schema_evolution",
    "q_sink_tar_shards", "q_sink_tfile_roundtrip",
}

NONFINITE_DIVERGENT = {
    # Spark raises CAST_OVERFLOW under ANSI: a NaN/±Inf reaches the
    # integer-cents contract (floor(x*100) -> BIGINT), by design
    "q_agg_deciles", "q_agg_gapfill", "q_agg_outliers", "q_agg_tpch_q10",
    "q_agg_tpch_q11", "q_agg_tpch_q14", "q_agg_tpch_q15", "q_agg_tpch_q17",
    "q_agg_tpch_q18", "q_agg_tpch_q19", "q_agg_tpch_q2", "q_agg_tpch_q20",
    "q_agg_tpch_q22", "q_agg_tpch_q3", "q_agg_tpch_q5", "q_agg_tpch_q6",
    "q_agg_tpch_q8", "q_agg_tpch_q9", "q_agg_winsorize",
    "q_audit_diff_incremental", "q_audit_fingerprint", "q_audit_table_diff",
    "q_proj_unpivot", "q_sink_zorder",
    # Spark raises ARITHMETIC_OVERFLOW (long overflow) on the same contract;
    # runmax keeps NULL values in-stream but rejects non-finite ones (the
    # null axis proves it must PASS there)
    "q_agg_drift_ks", "q_agg_rolling", "q_window_hotkey_runmax",
    "q_window_hotkey_runsum",
    # the pandas UDF raises OverflowError on int(floor(inf))
    "q_udf_cogroup",
    # a NaN reaches a trained centroid; its SQL literal raises the named
    # ValueError of portable.double_sql (vectors are finite by contract)
    "q_embed_ivfpq", "q_embed_ivfpq_nprobe", "q_embed_ivfpq_rerank",
    "q_embed_kmeans", "q_embed_kmeans_ivf", "q_embed_kmeans_ivf_bcast",
    "q_embed_pq",
    # Spark answers; the DuckDB oracle raises: a DOUBLE NaN/inf cast to
    # INT64 (ConversionException), STDDEV_POP out of range (q_agg_stats)
    "q_agg_drift_js", "q_agg_numeric_hist", "q_agg_scd2", "q_agg_stats",
    "q_embed_quantize",
    # rows differ: Spark's approx_ok is F where the oracle pins T on a NaN q95
    "q_agg_approx_quantile",
}

# the oracles name \x0b in their whitespace class (queries/base.WS), so
# the vertical-tab salt no longer splits the engines; what remains is
# BPE's trim (DuckDB trims unicode whitespace, Spark ASCII space) and the
# multimodal features' codepoint-for-byte oracle stand-in
UNICODE_DIVERGENT = {"q_multimodal_features", "q_text_bpe_encode"}

# name -> why empty input legitimately does not oracle-match (reviewed r8)
STRICT = {
    "q_embed_kmeans": "trainer: named ValueError on empty init",
    "q_embed_pq": "trainer: PQ codebook needs data",
    "q_embed_kmeans_ivf": "trainer chain: Lloyd init empty",
    "q_embed_kmeans_ivf_bcast": "trainer chain: Lloyd init empty",
    "q_embed_ivfpq": "trainer: PQ codebook needs data",
    "q_embed_ivfpq_nprobe": "trainer: PQ codebook needs data",
    "q_embed_ivfpq_rerank": "trainer: PQ codebook needs data",
    "q_dedup_semantic": "trainer: kmeans blocking needs data",
    "q_agg_cube": "Spark emits 0 rows for the global grouping set on empty "
    "input; the SQL standard (and DuckDB) emit the grand-total row",
    "q_agg_rollup": "same global-grouping-set divergence",
    "q_agg_grouping_sets": "same",
    "q_agg_profile": "min/max over zero rows render NULL differently",
    "q_audit_constraints": "ppm ratios raise ANSI division on a zero-row "
    "table by design (completeness of nothing is undefined, not 100%)",
    "q_audit_table_diff": "synthesizes its second snapshot from fixture rows",
    "q_audit_diff_incremental": "same",
    "q_sink_named_outputs": "write_named_outputs returns per-name "
    "partition dir paths that do not exist when the predicate matched "
    "zero rows (PATH_NOT_FOUND, a named error)",
    "q_sink_tar_shards": "zero shards -> named FileNotFoundError",
    "q_sink_har_roundtrip": "archive of nothing diverges from literal oracle",
    "q_sink_compaction": "fragment/compact counters are file-count-driven",
    "q_sink_seqfile_roundtrip": "the SequenceFile writer takes its Writable "
    "classes from the first record (PythonRDD.saveAsSequenceFile): no "
    "record raises 'empty collection', a named error",
    "q_sink_mapfile_roundtrip": "same SequenceFile writer (MapFile data member)",
    "q_sink_bloommap_roundtrip": "same SequenceFile writer (MapFile data member)",
    "q_multimodal_decode": "payload rows are synthesized per fixture doc",
    "q_multimodal_features": "same",
}

# ------------------------------------------------------------------ AXES

AXES: dict[str, Axis] = {
    "durable": Axis(
        "local[32]",
        {"spark.sql.shuffle.partitions": "32", "spark.ljx.pin.mode": "durable"},
        why="Durable pin mode (reliable checkpoint) is the production posture "
        "for preemptible executors. Pinned content is deterministic, so "
        "results must be bit-identical to local mode; a divergence or a "
        "durable-only crash blocks that posture. This axis caught the r5 "
        "kept-lineage bug: k-core references its pinned edges twice per "
        "peeling round, so persist-based durability grew the plan tree "
        "2^rounds and the driver OOMed rendering it.",
    ),
    "partition": Axis(
        "local[13]",
        {"spark.sql.shuffle.partitions": "7", "spark.default.parallelism": "7"},
        why="Odd parallelism (7 shuffle partitions on local[13]). A query whose "
        "answer shifts with partition count or per-partition order (float "
        "summation order, windows without a tiebreak, rand() sampling, "
        "first()/head) fails here though it passes at the default. At 1000 "
        "executors the partitioning is never the one tested locally.",
    ),
    "codegen": Axis(
        "local[13]",
        {"spark.sql.codegen.wholeStage": "false",
         "spark.sql.codegen.factoryMode": "NO_CODEGEN"},
        why="The whole plan down the interpreted path. Spark evaluates "
        "expressions codegen'd in the hot path and interpreted under codegen "
        "fallback (compile failures, >8k-bytecode methods, every "
        "higher-order function); the two implementations have diverged "
        "before (NULL handling, overflow, UTF-8 edges). A divergence shows "
        "here as an oracle mismatch instead of a silent inconsistency on "
        "whichever task trips the fallback in production.",
    ),
    "ansi": Axis(
        "local[13]",
        {"spark.sql.ansi.enabled": "false"},
        why="The engine runs ANSI on (session.py); this proves no answer leans "
        "on ANSI error semantics: arithmetic stays where wrap and error "
        "cannot differ (DECIMAL(38,0) sums, BIGINT DIV, cents integers), "
        "lookups carry explicit guards, casts are total on their domains. A "
        "query that only works because ANSI throws on a path it never meant "
        "to take would return wrong answers on a non-ANSI cluster.",
    ),
    "aqe": Axis(
        "local[13]",
        {"spark.sql.adaptive.enabled": "false"},
        why="AQE off. Runtime coalescing, skew splitting and broadcast "
        "promotion re-plan mid-query, and the engine reasons about partition "
        "assignment across jobs (sorts.with_global_row_number pins its "
        "ranged frame because AQE may coalesce the range exchange "
        "differently per job). A query correct only with, or only without, "
        "adaptive re-planning is correct by coincidence.",
    ),
    "tz": Axis(
        "local[13]",
        {"spark.sql.session.timeZone": "America/New_York"},
        why="A non-UTC session timezone (UTC-5/-4, a DST boundary inside the "
        "fixture dates) against DuckDB at its default. The engine's own "
        "session pins UTC but the external driver builds its own session, "
        "so every query must be tz-invariant by itself: event time rides "
        "timestamp_ntz (catalog.load normalizes) or epoch nanos, and no "
        "query calls from_utc_timestamp/current_timestamp/current_date. "
        "Expects zero divergences.",
    ),
    "broadcast": Axis(
        "local[13]",
        {"spark.sql.autoBroadcastJoinThreshold": "-1"},
        why="No automatic broadcast joins. At sf0.01 nearly every build side "
        "fits under 10 MB, so the default gate runs broadcast hash joins "
        "almost only; at 100 TB those sides plan sort-merge or shuffled "
        "hash joins. A result that depends on the join strategy (an order "
        "BHJ's build iteration happens to give, a tie the single-node "
        "broadcast hides) diverges here. Explicit F.broadcast() hints "
        "(q_join_broadcast) are still honoured: hints survive, size-based "
        "promotion does not.",
    ),
    "split": Axis(
        "local[13]",
        {"spark.sql.files.maxPartitionBytes": "262144",
         "spark.sql.files.openCostInBytes": "65536"},
        why="256 KiB input splits: the scan-side twin of the partition axis, "
        "and the contract of the reference's FileInputFormat.getSplits / "
        "LineRecordReader split model (mapred/FileInputFormat.java:199-253, "
        "skip the first partial line). Spark splits parquet only between row "
        "groups and the fixtures hold one group per table, so the tables are "
        "rewritten unchanged in 1,000-row groups; then every scan past 256 "
        "KiB (orders, lineitem and events at sf0.01, and the text/CSV/JSON/KV "
        "roundtrips inside the sink queries) reads as many splits, so a row "
        "counted twice or dropped at a split boundary, or an order taken "
        "from one scan task, diverges here. The check fails the axis when "
        "no table scanned as more than one non-empty split.",
        fixture=_as_is,
        row_group_rows=1000,
        check=_check_split,
    ),
    "parquet": Axis(
        "local[13]",
        {"spark.sql.parquet.enableVectorizedReader": "false"},
        why="The parquet-mr row-at-a-time reader instead of the columnar batch "
        "reader. Spark falls back to it per file in production (nested "
        "schemas, complex-type edges), so at scale some splits read through "
        "it whatever the session default. events.parquet carries the "
        "reader-sensitive TIMESTAMP(NANOS) shape; this proves catalog.load's "
        "normalization and the epoch-nanos contracts hold on both paths.",
    ),
    "arrow": Axis(
        "local[13]",
        {"spark.sql.execution.arrow.maxRecordsPerBatch": "7"},
        why="7-row Arrow batches. mapInPandas, scalar pandas UDFs and the "
        "tokenize UDTF receive a SEQUENCE of batches; the 10,000-row default "
        "hides logic that assumes one batch per partition (per-batch state, "
        "per-batch aggregates yielded as per-partition, cross-row features "
        "inside one batch). The grouped surfaces (applyInPandas, cogroup) "
        "get whole groups by contract and ride along as coverage.",
    ),
    "escaped": Axis(
        "local[13]",
        {"spark.sql.parser.escapedStringLiterals": "true"},
        why="The parser's legacy string-literal mode, where a backslash in SQL "
        "text stays literal. Builders that emit SQL text must write regex "
        "and string literals for the active mode (textstats.tokens_sql reads "
        "the conf; other literals come from F.lit); with this conf on, a "
        "hand-escaped '\\\\s+' once made every document one token. Expects "
        "zero divergences.",
    ),
    "spill": Axis(
        "local[13]",
        {
            # read from SparkEnv at sorter construction: a static conf
            "spark.shuffle.spill.numElementsForceSpillThreshold": _spill_threshold,
            # headroom for the merge fan-in (_spill_threshold)
            "spark.driver.memory": "16g",
            "spark.sql.sortMergeJoinExec.buffer.in.memory.threshold": "256",
            "spark.sql.sortMergeJoinExec.buffer.spill.threshold": "256",
            "spark.sql.windowExec.buffer.in.memory.threshold": "256",
            "spark.sql.windowExec.buffer.spill.threshold": "256",
            "spark.sql.objectHashAggregate.sortBased.fallbackThreshold": "16",
            # joins must plan SMJ for the SMJ thresholds to matter
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            # few, fat partitions cross the thresholds more often
            "spark.sql.shuffle.partitions": "7",
            # the check reads stage spill metrics from the UI REST API
            "spark.ui.enabled": "true",
            "spark.ui.retainedStages": "100000",
        },
        why="Forced disk spill in sorts, sort-merge joins, window buffers and "
        "aggregations: the part of the reference's runtime (MapTask's "
        "io.sort.mb SpillThread) that Spark replaces with "
        "UnsafeExternalSorter and ExternalAppendOnlyUnsafeRowArray. The "
        "inputs are far too small for memory caps to spill, so the axis uses "
        "the element-count force-spill thresholds Spark's own suites use, "
        "and the check fails it when no stage spilled to disk. A divergence "
        "means an output depends on what stayed in memory (order "
        "assumptions over buffered iterators).",
        check=_check_spilled,
    ),
    "null": Axis(
        "local[32]",
        {"spark.sql.shuffle.partitions": "32"},
        why="30% NULLs in every non-key column (keys stay non-null so joins "
        "and groups keep their shape): the queries/base.py NULL-ordering "
        "boundary, end to end. The pins are unit-tested in "
        "tests/test_null_contracts.py. The expected names are (1) trainers "
        "and embedding math fed null vectors and (2) text/format roundtrips "
        "whose wire form cannot carry NULL.",
        fixture=_nulled,
        sf=DEFAULT_SF,
        expected=NULL_DIVERGENT,
        check=_check_fixture("lineitem", "l_returnflag",
                             lambda c: c.null_count > 0, "NULLs"),
    ),
    "nonfinite": Axis(
        "local[32]",
        {"spark.sql.shuffle.partitions": "32"},
        why="NaN/+Inf/-Inf salted into every double column and into embedding "
        "vectors. Most expected names fail LOUDLY in Spark: the "
        "integer-cents contract raises CAST_OVERFLOW/ARITHMETIC_OVERFLOW "
        "under ANSI on non-finite input, by design (never fold NaN into a "
        "sum silently). NONFINITE_DIVERGENT names each one's error. "
        "q_agg_profile renders non-finite min/max as explicit "
        "tokens and q_sort_secondary ranks NaN greatest, on both sides.",
        fixture=_nonfinite,
        sf=DEFAULT_SF,
        expected=NONFINITE_DIVERGENT,
        check=_check_fixture("lineitem", "l_extendedprice",
                             lambda c: pc.any(pc.is_nan(c)).as_py(), "NaN"),
    ),
    "unicode": Axis(
        "local[32]",
        {"spark.sql.shuffle.partitions": "32"},
        why="Adversarial unicode tokens in every document. Each expected name "
        "reduces to a cause in queries/base.py and "
        "tests/test_unicode_boundary.py: DuckDB's unicode-aware trim() "
        "against Spark's ASCII trim (q_text_bpe_encode on NBSP/ideographic "
        "space) and the codepoint-for-byte oracle stand-in of "
        "q_multimodal_features. The \\x0b vertical tab (in Java's \\s, the "
        "engine contract, not in DuckDB's RE2 \\s) is named by the oracles' "
        "whitespace class, queries/base.WS, so it must not diverge.",
        fixture=_unicode,
        sf=DEFAULT_SF,
        expected=UNICODE_DIVERGENT,
        check=_check_fixture("documents", "text",
                             lambda c: pc.any(pc.match_substring(c, "\x0b")).as_py(),
                             "vertical-tab salts"),
    ),
    "epoch": Axis(
        "local[32]",
        {"spark.sql.shuffle.partitions": "32"},
        why="events.ts shifted back 80 years, every epoch value negative: "
        "negative-epoch integer division is the classic truncation-vs-floor "
        "divergence between engines, and ancient timestamps are routine in "
        "crawl data. The engine-wide div-not-/ epoch discipline "
        "(queries/base.py) is the contract a new query can break silently. "
        "Expects zero divergences.",
        fixture=_pre1970,
        sf=DEFAULT_SF,
        check=_check_fixture("events", "ts",
                             lambda c: pc.max(c).as_py().year < 1970,
                             "pre-1970 timestamps"),
    ),
    "empty": Axis(
        "local[32]",
        {"spark.sql.shuffle.partitions": "32"},
        why="Schema-identical EMPTY tables. A filter-to-zero slice is normal "
        "data flow at scale, so shared infrastructure (prefix sums, global "
        "rank, IVF routing, the pipes protocol) must pass zero rows through "
        "(fixed r8: zero-arg create_map(), toDF on an empty RDD, argmax over "
        "an empty codebook). STRICT holds the names that SHOULD refuse or "
        "legitimately differ, each with its reason; a new failure outside "
        "it is an empty-input bug: fix the operator, or add the name WITH "
        "its reason if refusal is right.",
        fixture=_emptied,
        sf=DEFAULT_SF,
        expected=STRICT,
        check=_check_empty,
    ),
    "retry": Axis(
        "local[32, 4]",  # local's second arg is maxFailures: retries ON
        {"spark.sql.shuffle.partitions": "32"},
        why="Forced task re-execution: the reference's fault model "
        "(speculative attempts, mapred/TaskInProgress.java:866-874; "
        "map-output refetch, TaskTracker.java:2419), and the claim behind "
        "session.py's auto-speculation that every operator emits identical "
        "partition bytes under re-execution. Every table scan (catalog.load "
        "patched to append an identity mapInPandas) and every result "
        "collection fails its first attempt; results must be bit-identical "
        "(float.hex, no rounding) to a pass through the same wrapped plans "
        "without failures, and oracle-correct. A query with zero retried "
        "tasks fails as vacuous. Interior shuffle-map stages of deeper "
        "chains run once per pass (tools/retry_interior_probe.py forces "
        "those); the FetchFailed partial-recompute hazard is defended by "
        "content-hash salts (operators/skew.py:_row_salt), unit-pinned.",
        replay=_retry_replay,
    ),
}


# --------------------------------------------------------------- harness


def judge(exitcode, result, expected) -> dict:
    """Diff one axis's child result against its expected set, both ways."""
    problems = [] if exitcode == 0 else [f"child exited with code {exitcode}"]
    outcomes = result["outcomes"] if result else {}
    problems += result["problems"] if result else ["child sent no result"]
    failed = {n for n, why in outcomes.items() if why}
    listed = set(expected) & outcomes.keys()
    if not outcomes:
        problems.append("zero queries replayed")
    if failed - listed:
        problems.append(f"unexpected divergence: {sorted(failed - listed)}")
    if listed - failed:
        problems.append(f"expected to diverge but now passing (shrink the "
                        f"expected set): {sorted(listed - failed)}")
    return {"pass": len(outcomes) - len(failed), "fail": len(failed),
            "expected": len(listed), "failed": sorted(failed),
            "problems": problems}


def run_check(axis: Axis, spark, data) -> str | None:
    """The axis's vacuity check; an exception fails the axis but keeps
    the replayed outcomes."""
    try:
        return axis.check and axis.check(spark, data)
    except Exception as ex:  # noqa: BLE001 — report it as the axis's problem
        return f"check raised {ex!r}"


def _child(name: str, sf: str, only, conn) -> None:
    from pyspark.sql import SparkSession

    axis = AXES[name]
    with tempfile.TemporaryDirectory(prefix=f"sweep-{name}-") as tmp:
        data = sf
        if axis.fixture is not None:
            build_fixture(axis.fixture, sf, tmp, axis.row_group_rows)
            data = tmp
        conf = {"spark.driver.memory": "8g", **axis.conf}
        conf = {k: v(data) if callable(v) else v for k, v in conf.items()}
        builder = SparkSession.builder.master(axis.master).appName(f"sweep-{name}")
        for k, v in conf.items():
            builder = builder.config(k, v)
        spark = builder.getOrCreate()
        got = {k: spark.conf.get(k, None) for k in conf}
        problems = [f"conf {k}={v} reads back as {got[k]}"
                    for k, v in conf.items() if got[k] != v]
        if spark.sparkContext.master != axis.master:
            problems.append(f"master {axis.master} reads back as "
                            f"{spark.sparkContext.master}")
        outcomes = {}
        if not problems:
            outcomes = (axis.replay or _replay)(spark, data, only)
            problem = run_check(axis, spark, data)
            if problem:
                problems.append(problem)
        conn.send({"outcomes": outcomes, "problems": problems})
        spark.stop()


def run_axis(name: str, sf: str, only) -> dict:
    import multiprocessing

    ctx = multiprocessing.get_context("spawn")
    recv, send = ctx.Pipe(duplex=False)
    proc = ctx.Process(target=_child, args=(name, sf, only, send))
    t0 = time.time()
    proc.start()
    send.close()
    with recv:
        try:
            result = recv.recv()
        except EOFError:  # the child died before reporting
            result = None
    proc.join()
    verdict = judge(proc.exitcode, result, AXES[name].expected)
    verdict["wall_s"] = round(time.time() - t0, 1)
    return verdict


def _git_head() -> str | None:
    """HEAD's short hash, suffixed -dirty when the tree has changes."""
    try:
        return subprocess.run(["git", "describe", "--always", "--dirty"], cwd=REPO,
                              check=True, capture_output=True, text=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return None


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("axes", nargs="*", metavar="AXIS",
                   help=f"axes to run (default: all): {' '.join(AXES)}")
    p.add_argument("--sf", help=f"fixture dir for every axis (default: {GATE_SF}, "
                   f"or {DEFAULT_SF} for the mutated-fixture axes)")
    p.add_argument("--only", help="comma-separated query names")
    args = p.parse_args(argv)
    unknown = sorted(set(args.axes) - AXES.keys())
    if unknown:
        p.error(f"unknown axis: {', '.join(unknown)}")
    only = set(args.only.split(",")) if args.only else None
    if only is not None:
        import __spark_entry__

        unknown = sorted(only - __spark_entry__.queries().keys())
        if unknown:
            p.error(f"unknown query name(s): {', '.join(unknown)}")

    report = {}
    for name in args.axes or AXES:
        print(f"=== {name}", flush=True)
        sf = args.sf or AXES[name].sf
        v = run_axis(name, sf, only)
        v["sf_dir"] = sf
        report[name] = v
        print(f"{name}: {v['pass']} pass, {v['fail']} fail of {v['pass'] + v['fail']}"
              f" ({v['expected']} expected) in {v['wall_s']:.0f}s: "
              f"{'FAIL' if v['problems'] else 'OK'}")
        for problem in v["problems"]:
            print(f"  {problem}")
        sys.stdout.flush()
    bad = [n for n, v in report.items() if v["problems"]]
    print(f"SWEEP: {len(report) - len(bad)} of {len(report)} axes OK"
          + (f"; failing: {' '.join(bad)}" if bad else ""))
    if not args.axes and only is None:
        import pyspark

        # read HEAD before opening the file: truncating it dirties the tree
        record = {"host_cores": os.cpu_count(), "git_head": _git_head(),
                  "spark_version": pyspark.__version__, "axes": report}
        with open(os.path.join(REPO, "SWEEPS.json"), "w") as f:
            json.dump(record, f, indent=1)
            f.write("\n")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
