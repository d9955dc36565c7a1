"""Headline benchmark: the BASELINE.md local-anchor workloads at sf0.1.

Run: python bench.py            (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS)
Prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Workloads map to BASELINE.md "Local BENCH anchor":
  terasort_1m  — ljx terasort: generate 10^6 100-byte rows, total-order
                 sort, TeraValidate-style order+checksum (target <= 60 s)
  tpch_q1      — Q-agg-2 aggregation over lineitem        (target <= 30 s)
  join_3way    — Q-join-4 lineitem><orders><customer      (target <= 45 s)
  wordcount    — Q-agg-1 over documents.text              (target <= 30 s)
Plus representative extension workloads (dedup_minhash, embed_knn) so the
round record tracks the training-data-pipeline ops too, and the bench
rungs of the generated-data STRESS rows, whose ladder rungs
tools/scale_probe.py runs.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from hadoop_0_20_2_ljx_spark import catalog
from hadoop_0_20_2_ljx_spark.functions.portable import md5_int_sql
from hadoop_0_20_2_ljx_spark.operators.generators import tera_gen
from hadoop_0_20_2_ljx_spark.operators.sorts import total_order_sort
from hadoop_0_20_2_ljx_spark.queries import REGISTRY
from hadoop_0_20_2_ljx_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _force(df):
    """Execute the full plan without driver-side materialization cost."""
    df.write.format("noop").mode("overwrite").save()


def _steal_ticks() -> tuple[int, int] | None:
    """(steal_ticks, total_ticks) from /proc/stat's aggregate cpu line,
    or None when the counter cannot be read (a sentinel, NOT (0, 0) —
    an instrumentation failure must stay distinguishable from a quiet
    host in the artifact; r11 ADVICE). The r10 delta note diagnosed
    186-280 s same-HEAD spread as host noise partly via rising CPU-steal
    observed by hand; recording the counter deltas in the artifact makes
    that diagnosis reproducible from the artifact alone."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        # fields: user nice system idle iowait irq softirq steal guest
        # guest_nice — the kernel already folds guest/guest_nice into
        # user/nice, so the denominator sums only the first 8
        # non-overlapping fields (user..steal); summing all ten would
        # double-count guest time and underestimate steal% on VM hosts
        # (r11 ADVICE).
        steal = vals[7] if len(vals) > 7 else 0
        return steal, sum(vals[:8])
    except Exception:
        return None


def _steal_pct(
    before: tuple[int, int] | None, after: tuple[int, int] | None
) -> float | None:
    """Steal percentage over a tick window; None (JSON null) when either
    sample was unreadable, so the artifact records 'unavailable' rather
    than a fake 0.0% quiet-host reading."""
    if before is None or after is None:
        return None
    d_total = after[1] - before[1]
    return round(100.0 * (after[0] - before[0]) / d_total, 2) if d_total > 0 else 0.0


def read_stages(spark, path: str = "?status=complete"):
    """The parsed UI REST stage endpoint ``.../stages{path}`` of this
    application. It is the one reader of stage metrics, and it raises when
    the UI is off or the call fails: a lost measurement must never be
    recorded as "nothing shuffled"."""
    import urllib.request

    sc = spark.sparkContext
    if not sc.uiWebUrl:
        raise RuntimeError("stage metrics unavailable: spark.ui.enabled is false")
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/stages{path}"
    with urllib.request.urlopen(url, timeout=10) as resp:
        return json.load(resp)


def _stage_bytes(spark) -> tuple[int, int]:
    """Cumulative (shuffle_write_bytes, input_bytes) over completed stages.
    Per-workload deltas of these are the numbers that carry to 100 TB
    (broadcast saves shuffle; bloom cuts probe bytes) — local seconds
    don't."""
    stages = read_stages(spark)
    return (
        sum(s.get("shuffleWriteBytes", 0) for s in stages),
        sum(s.get("inputBytes", 0) for s in stages),
    )


def measure(spark, fn, runs: int = 1) -> dict:
    """Run ``fn`` ``runs`` times back to back. Returns the first run's
    result, every run's wall, the first run's shuffle-write and input
    bytes (deterministic, so one run carries them) and the /proc/stat
    steal% over all runs. Byte sums that went down mean the UI store
    evicted stages mid-run: that raises instead of recording a wrong
    delta."""
    st0 = _steal_ticks()
    sw0, ib0 = _stage_bytes(spark)
    t = time.time()
    result = fn()
    walls = [time.time() - t]
    sw1, ib1 = _stage_bytes(spark)
    for _ in range(runs - 1):
        t = time.time()
        fn()
        walls.append(time.time() - t)
    if sw1 < sw0 or ib1 < ib0:
        raise RuntimeError(
            f"stage byte sums went down (shuffle {sw0}->{sw1}, input "
            f"{ib0}->{ib1}): the UI store evicted stages; raise "
            "spark.ui.retainedStages"
        )
    return {
        "result": result,
        "walls": walls,
        "shuffle_b": sw1 - sw0,
        "input_b": ib1 - ib0,
        "steal": _steal_pct(st0, _steal_ticks()),
    }


def bench_terasort(spark, n: int = 1_000_000) -> None:
    """TeraGen -> total-order sort -> TeraValidate (sortedness + checksum).

    Validation is distributed: per-partition (min, max, count, xor-ish sum)
    then a driver-side boundary monotonicity check over the tiny
    per-partition summary — no collect of data rows (SURVEY.md §7.3).
    """
    df = tera_gen(spark, n)
    sorted_df = total_order_sort(df, "key")
    summary = (
        sorted_df.select("key", F.spark_partition_id().alias("pid"))
        .groupBy("pid")
        .agg(
            F.min("key").alias("lo"),
            F.max("key").alias("hi"),
            F.count("*").alias("cnt"),
            F.sum(F.crc32(F.col("key").cast("binary")) % 1000003).alias("chk"),
        )
        .orderBy("pid")
        .collect()
    )
    total = sum(r["cnt"] for r in summary)
    assert total == n, f"terasort row loss: {total} != {n}"
    bounds = [r for r in summary if r["cnt"] > 0]
    for a, b in zip(bounds, bounds[1:]):
        assert a["hi"] <= b["lo"], f"partition boundary out of order: {a['hi']!r} > {b['lo']!r}"


# ---------------------------------------------------- generated stress data


def _id_hash(salt: str):
    """A deterministic pseudo-random long per row id: the first 12 hex
    digits of md5("<salt>-<id>")."""
    return F.expr(md5_int_sql(f"concat_ws('-', '{salt}', CAST(id AS STRING))", 12))


def pagerank_edge_stream(spark, n_edges: int):
    """Uniform random edges, average out-degree ~10 (node count =
    edges/10)."""
    nodes = n_edges // 10
    return spark.range(n_edges).select(
        (_id_hash("s") % F.lit(nodes)).alias("src"),
        (_id_hash("d") % F.lit(nodes)).alias("dst"),
    )


def hub_edges(spark, n_edges: int, cols=("src", "dst"), offset: int = 0):
    """Hub-heavy random edges: 1/16 of endpoint draws land on one of 10
    hub nodes (hub degree ~ m/80: the case degree orientation exists for,
    where id-ordering would emit O(deg^2) wedges), the rest are uniform
    over m/10 nodes (average degree ~20). ``offset`` shifts every node
    id, to keep the id space apart from another graph's."""
    nodes = n_edges // 10

    def node(salt: str):
        h = _id_hash(salt)
        # selection bit (h % 16) and value bits (h >> 4) are disjoint
        picked = F.when(h % 16 == 0, F.shiftright(h, 4) % 10).otherwise(
            F.shiftright(h, 4) % F.lit(nodes)
        )
        return picked + F.lit(offset) if offset else picked

    return spark.range(n_edges).select(
        node("s").alias(cols[0]), node("d").alias(cols[1])
    )


def temporal_event_stream(spark, n_rows: int):
    """Fixed-density event stream, 1 event/sec overall: users and time
    span both scale with the data ("more days, more users"; a fixed span
    would grow range-join OUTPUT quadratically, a property of the
    question, not the plan)."""
    users = max(n_rows // 20, 1)
    span_us = n_rows * 1_000_000
    return spark.range(n_rows).select(
        F.col("id").alias("event_id"),
        (_id_hash("u") % users).alias("user_id"),
        (_id_hash("t") % span_us).alias("t_us"),
        (F.col("id") % 2 == 0).alias("is_click"),
    )


def planted_dup_docs(spark, n_docs: int):
    """n_docs 33-token docs with a planted 20% exact-duplicate rate: ids
    from 4n/5 up clone the ids from 0 up, n/5 planted pairs."""
    words = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(32)),
            lambda i: F.substring(
                F.md5(
                    F.concat_ws(
                        "-",
                        F.pmod(F.col("id"), F.lit(n_docs * 4 // 5)).cast("string"),
                        i.cast("string"),
                    )
                ),
                1,
                8,
            ),
        ),
        " ",
    )
    return spark.range(n_docs).select(F.col("id").alias("doc_id"), words.alias("text"))


def longdoc_corpus(spark, n_tokens: int):
    """2,000 docs of n_tokens tokens each: ~200 is the parquet fixture
    documents' shape, ~2,000 real web-page length."""
    words = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_tokens - 1)),
            lambda i: F.concat(F.lit("w"), ((F.col("id") * 31 + i) % 9973).cast("string")),
        ),
        " ",
    )
    return spark.range(2_000).select(F.col("id").alias("doc_id"), words.alias("text"))


def hot_key():
    """Key 0 for 70% of row ids, else one of 1,000 hashed keys."""
    return F.when(F.pmod(F.col("id"), F.lit(10)) < 7, F.lit(0)).otherwise(
        F.pmod(F.xxhash64("id"), F.lit(1000)) + 1
    )


def hot_join_fact(spark, n: int):
    """n join-fact rows on the hot key, with an incompressible payload."""
    return spark.range(n).select(
        hot_key().alias("k"), F.md5(F.col("id").cast("string")).alias("payload")
    )


def hot_join_dim(spark):
    """The 1,001-key dimension of hot_join_fact."""
    return spark.range(1001).select(
        F.col("id").alias("k"), F.md5(F.col("id").cast("string")).alias("attr")
    )


def hot_window_fact(spark, n: int):
    """n (u, t, v) rows for a running sum of v per u in t order, u on the
    hot key."""
    return spark.range(n).select(
        hot_key().alias("u"),
        F.col("id").alias("t"),
        F.pmod(F.col("id"), F.lit(97)).alias("v"),
    )


def direct_running_sum(fact):
    """hot_window_fact's running sum as column rs through the DIRECT keyed
    window: the hot key's rows all pass one task's window sorter."""
    from pyspark.sql.window import Window

    frame = Window.partitionBy("u").orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return fact.withColumn("rs", F.sum("v").over(frame))


def consume(df, total, *hashed) -> tuple:
    """(row count, sum of ``total``, decimal sum of xxhash64(``hashed``)).
    The aggregate reads every column, so Catalyst cannot prune a payload
    out of the exchanges as a bare count() would (7M identical hot keys
    alone lz4-compress to ~nothing), and it doubles as value parity
    between two plans. Decimal, because a BIGINT sum of 64-bit hashes
    overflows under ANSI."""
    return tuple(
        df.agg(
            F.count(F.lit(1)),
            F.sum(total),
            F.sum(F.xxhash64(*hashed).cast("decimal(38,0)")),
        ).first()
    )


# ------------------------------------------------------------- stress rows


def _pkg(name: str):
    """An engine module, imported on first use."""
    import importlib

    return importlib.import_module(f"hadoop_0_20_2_ljx_spark.{name}")


def _same(ms: dict) -> None:
    """Cross-variant check: every variant returned the same result."""
    results = {label: m["result"] for label, m in ms.items()}
    first = next(iter(results.values()))
    assert all(r == first for r in results.values()), results


def _linear_in_tokens(ms: dict) -> None:
    """Cross-rung tripwire: the last rung (10x tokens) must stay ~linear
    over the first (10x work, well under job overhead plus 3x headroom);
    a quadratic form is 100x work."""
    labels = list(ms)
    lo, hi = labels[0], labels[-1]
    w_lo, w_hi = ms[lo]["walls"][0], ms[hi]["walls"][0]
    assert w_hi < 30 * max(w_lo, 0.2), (
        f"{hi} grew {w_hi / max(w_lo, 1e-9):.0f}x over {lo} for 10x tokens: "
        "quadratic regression?"
    )


def _lineitem_hot(spark, value):
    """lineitem with 70% of rows on key 1 (a Zipf-1 head far beyond AQE's
    skew threshold), next to ``value``."""
    return catalog.load(spark, SF_DIR, "lineitem").select(
        F.when(F.pmod(F.col("l_orderkey"), F.lit(10)) < 7, F.lit(1))
        .otherwise(F.col("l_orderkey"))
        .alias("k"),
        value,
    )


def _snapshots(spark, _n):
    """orders as (k, status, cents), and a copy where 0.1% of keys drift."""
    base = catalog.load(spark, SF_DIR, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    new = base.withColumn(
        "cents",
        F.col("cents") + F.when(F.pmod(F.col("k"), F.lit(1000)) == 0, 1).otherwise(0),
    )
    return base, new


def _diff_kinds(spark, diff, _n) -> dict:
    return {r["diff_kind"]: r["n"] for r in diff.collect()}


def _ivf_corpus(spark, n: int):
    """n 64-dim md5-derived vectors."""
    h = md5_int_sql("concat_ws('-', CAST(id AS STRING), CAST(i AS STRING))", 6)
    vec = F.expr(
        f"transform(sequence(0, 63), i -> CAST({h} AS DOUBLE) / 16777216.0D - 0.5D)"
    )
    return spark.range(n).select(
        F.col("id").cast("int").alias("vec_id"), vec.alias("embedding")
    )


def _ivf_probe(spark, corpus, _n):
    """Train the codebooks and build the probe of the first 1,000 vectors,
    then run it once: the codegen compile differs per trained codebook."""
    books = _pkg("extensions.clustering").pq_train(
        corpus, "vec_id", "embedding", 8, 8, iters=1
    )
    res = _pkg("extensions.similarity").ivfpq_ann(
        corpus,
        corpus.filter(F.col("vec_id") < 1000),
        nlist_ids=list(range(8)),
        books=books,
        k=5,
    )
    _force(res)
    return res


def _text_stages(spark, docs, _n) -> tuple:
    """(signatures, languages): the relational MinHash(16) signature build,
    then the lang-ID + quality projection aggregated per language."""
    dedup, textstats = _pkg("extensions.dedup"), _pkg("extensions.textstats")
    n_sigs = dedup.minhash_signatures_relational(docs, "doc_id", "text", 16, 3).count()
    n_langs = (
        docs.select(
            textstats.lang_pred_expr("text").alias("lang"),
            textstats.quality_expr("text").alias("q"),
        )
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"), F.avg("q").alias("avg_q"))
        .count()
    )
    return n_sigs, n_langs


def _pagerank(spark, edges, _n) -> tuple:
    """(node count, per-phase walls) of 3 PageRank rounds."""
    phases: dict[str, float] = {}
    graph = _pkg("extensions.graph")
    return graph.pagerank_int(edges, iterations=3, phase_seconds=phases).count(), phases


def _asof_inputs(spark, ev, _n):
    """Clicks, and purchases deduped per (user, time)."""
    clicks = ev.where("is_click").select("event_id", "user_id", "t_us")
    purchases = (
        ev.where(~F.col("is_click"))
        .groupBy("user_id", "t_us")
        .agg(F.count(F.lit(1)).cast("double").alias("pval"))
    )
    return clicks, purchases


def _asof(spark, inputs, _n):
    # the aggregate must CONSUME the matched values: a bare count() lets
    # Catalyst prune the whole window sweep (the markers feed no output
    # column) and the row would time a filter
    joined = _pkg("extensions.temporal").asof_join(
        *inputs, on=["user_id"], left_ts="t_us", right_ts="t_us", value_cols=["pval"]
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_out"), F.count("pval").alias("n_matched")
    ).first()


HOUR_US = 3_600_000_000


def _range_inputs(spark, ev, _n):
    """Purchase points, and 1-hour windows opened by every 50th event."""
    points = ev.where(~F.col("is_click")).select("event_id", "t_us")
    intervals = ev.where(F.col("event_id") % 50 == 0).select(
        F.col("event_id").alias("win_id"),
        F.col("t_us").alias("w_s"),
        (F.col("t_us") + HOUR_US).alias("w_e"),
    )
    return points, intervals


def _boilerplate_docs(spark, n_sources: int):
    """4 docs per source. Every doc carries the SAME 1,000-token template
    block (~1k shingles present in every source: the exact side's
    quadratic driver) plus 8 doc-unique md5 tokens (group frequency 1:
    the discrimination signal)."""
    bp_block = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(999)),
            lambda i: F.concat(F.lit("bp"), i.cast("string")),
        ),
        " ",
    )
    uniq = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(7)),
            lambda i: F.substring(
                F.md5(F.concat_ws("u", F.col("id").cast("string"), i.cast("string"))),
                1,
                10,
            ),
        ),
        " ",
    )
    return spark.range(4 * n_sources).select(
        F.concat(
            F.lit("src"), F.pmod(F.col("id"), F.lit(n_sources)).cast("string")
        ).alias("source"),
        F.concat_ws(" ", bp_block, uniq).alias("text"),
    )


def _source_sim(cap):
    def run(spark, docs, _n):
        res = _pkg("extensions.dedup").group_similarity_matrix(
            docs, "source", "text", num_hashes=16, shingle_k=3, max_shingle_freq=cap
        )
        # materialized by localCheckpoint INSIDE the timed window, not by
        # count(): the capped intersection enters the final plan as a
        # unique-key LEFT join that count()'s column pruning eliminates,
        # so a count-timed row would skip the very stage it measures
        return res.localCheckpoint()

    return run


def _cap_contract(ms: dict) -> None:
    """Signatures never see the cap: every pair is kept with a
    bit-identical est_bp, and the capped jaccard_bp never exceeds the
    uncapped one (the tests/test_dedup_cap.py property, distributed)."""
    unc = ms["source_sim_uncapped"]["result"]
    cap = ms["source_sim_cap100"]["result"]

    def side(df, tag):
        return df.select(
            "source_a",
            "source_b",
            F.col("est_bp").alias(f"e_{tag}"),
            F.col("jaccard_bp").alias(f"j_{tag}"),
        )

    bad = (
        side(unc, "u")
        .join(side(cap, "c"), ["source_a", "source_b"], "full_outer")
        .filter(
            F.col("e_u").isNull()
            | F.col("e_c").isNull()
            | (F.col("e_u") != F.col("e_c"))
            | (F.col("j_c") > F.col("j_u"))
        )
        .count()
    )
    assert bad == 0, f"cap contract violated on {bad} pairs"


# Broadcast off: at these sizes the node-, rank-, dim- and interval-sized
# tables broadcast locally, but at 100 TB they are corpus-sized and never
# do, so the shuffle-join regime at every size is the curve that
# extrapolates (the registry rows keep default broadcasting). pagerank
# measured the difference: a 96x round-byte jump where 150k edges
# broadcast and 1.5M do not, a strategy switch, not a scaling law.
NO_BROADCAST = {"spark.sql.autoBroadcastJoinThreshold": "-1"}

# The generated-data stress families, one row each, named after the bench
# section (the cpu_steal_pct "section:<name>" key) they record. Each
# variant's bench rungs are the labels bench.py records; the ladder rungs
# run one decade past them in tools/scale_probe.py (``<variant>`` names the
# ladder there, ``<variant>_xl`` adds the opt-in rung). A new rung is one
# entry here. Row keys:
#   variants  name -> {run, bench, ladder, xl, check, prep, confs, report}:
#             run(spark, source, n) is the timed call; prep(spark, source,
#             n) builds its input outside the timer; check(result, n) must
#             hold at every rung; report(result) adds scale_probe keys
#   gen       (spark, n) -> the rung's source, generated outside the timer
#   pin       localCheckpoint the source before the timer (default True;
#             scale_probe pins every row)
#   warm      size of one untimed pass of each variant before its rungs,
#             so the first rung does not pay the plans' codegen compile
#   confs     session confs for the whole row, restored afterwards
#   cross     check over every rung's measure() record
STRESS = {
    # TeraGen -> total-order sort -> TeraValidate. bench.py records these
    # two rungs median-of-3 as headline rows, not as a stress section. The
    # 10x rung is the range-partition and spill path past the parquet
    # fixtures' sf0.1 (~17 MB lineitem): 10^7 100-byte rows ~= 1 GB.
    "bench_terasort": {
        "warm": 100_000,
        "variants": {
            "terasort": {
                "run": lambda spark, _src, n: bench_terasort(spark, n),
                "bench": (("terasort_1m", 1_000_000), ("terasort_10m", 10_000_000)),
                "ladder": (
                    ("terasort_1m", 1_000_000),
                    ("terasort_10m", 10_000_000),
                    ("terasort_100m", 100_000_000),
                ),
                "xl": (("terasort_1000m", 1_000_000_000),),
            }
        },
    },
    # Incremental diff in its win regime: 0.1% drift between replicas,
    # where the dirty-bucket semi-join keeps ~96% of both snapshots out of
    # the full-outer shuffle (the registry fixture changes ~30% of keys,
    # so there every bucket is dirty).
    "bench_diff_sparse": {
        "gen": _snapshots,
        "pin": False,
        "variants": {
            "diff_full_sparse": {
                "prep": lambda spark, s, _n: _pkg("extensions.audit").snapshot_diff(
                    *s, ["k"], ["status", "cents"]
                ),
                "run": _diff_kinds,
                "bench": (("diff_full_sparse", None),),
            },
            "diff_incr_sparse": {
                "prep": lambda spark, s, _n: _pkg(
                    "extensions.audit"
                ).incremental_snapshot_diff(*s, ["k"], ["status", "cents"], n_buckets=4096),
                "run": _diff_kinds,
                "bench": (("diff_incr_sparse", None),),
            },
        },
        "cross": _same,
    },
    # Hot-key join against orders, AQE skew split vs skew.salted_join.
    # Broadcast off: the dim is 10^9 rows and broadcast-ineligible in the
    # regime the salted rewrite exists for, so both variants shuffle.
    "bench_skew_join": {
        "gen": lambda spark, _n: (
            _lineitem_hot(spark, "l_quantity"),
            catalog.load(spark, SF_DIR, "orders").select(
                F.col("o_orderkey").alias("k"), "o_totalprice"
            ),
        ),
        "pin": False,
        "confs": NO_BROADCAST,
        "variants": {
            "skew_join_plain": {
                "prep": lambda spark, fd, _n: fd[0].join(fd[1], "k"),
                "run": lambda spark, df, _n: df.count(),
                "bench": (("skew_join_plain", None),),
            },
            "skew_join_salted": {
                "prep": lambda spark, fd, _n: _pkg("operators.skew").salted_join(
                    *fd, "k", buckets=16
                ),
                "run": lambda spark, df, _n: df.count(),
                "bench": (("skew_join_salted", None),),
            },
        },
        "cross": _same,
    },
    # Hot-key aggregation, plain groupBy-sum vs the two-phase
    # skew.salted_sum. AQE cannot split one groupBy key's state, so salting
    # is the only rewrite; map-side partial agg already collapses an
    # ALGEBRAIC sum per map partition, so locally the two are expected
    # close (the win regime is holistic per-key state and map-side spill).
    "bench_skew_groupby": {
        "gen": lambda spark, _n: _lineitem_hot(
            spark, F.col("l_quantity").cast("long").alias("v")
        ),
        "pin": False,
        "variants": {
            "skew_groupby_plain": {
                "prep": lambda spark, fact, _n: fact.groupBy("k").agg(
                    F.sum("v").alias("sum_value")
                ),
                "run": lambda spark, df, _n: df.agg(
                    F.count(F.lit(1)).alias("n"), F.sum("sum_value").alias("s")
                ).first(),
                "bench": (("skew_groupby_plain", None),),
            },
            "skew_groupby_salted": {
                "prep": lambda spark, fact, _n: _pkg("operators.skew").salted_sum(
                    fact, "k", "v", buckets=16
                ),
                "run": lambda spark, df, _n: df.agg(
                    F.count(F.lit(1)).alias("n"), F.sum("sum_value").alias("s")
                ).first(),
                "bench": (("skew_groupby_salted", None),),
            },
        },
        "cross": _same,
    },
    # MinHash(16) + LSH(4 bands) candidates: the signature build is linear
    # in corpus tokens, the pair stage is bounded by bucket collisions
    # (random docs essentially never collide, so candidates ~= the planted
    # pairs). The check pins LSH's recall 1.0 on exact duplicates. The
    # bench rung times generation too (its byte record has no pin).
    "bench_minhash_10x": {
        "gen": planted_dup_docs,
        "pin": False,
        "warm": 1_000,
        "variants": {
            "minhash": {
                "run": lambda spark, docs, _n: _pkg(
                    "extensions.dedup"
                ).minhash_lsh_candidates(docs, "doc_id", "text").count(),
                "check": lambda pairs, n: pairs >= n // 5,
                "bench": (("minhash_dedup_10x", 50_000),),
                "ladder": (
                    ("minhash_5k", 5_000),
                    ("minhash_50k", 50_000),
                    ("minhash_500k", 500_000),
                ),
                "xl": (("minhash_5000k", 5_000_000),),
            }
        },
    },
    # PageRank at the registry's 3 rounds: per-round shuffle ∝ edges (one
    # rank equi-join + one partial agg over the pinned edge table), setup ∝
    # edges, and round walls flat across rounds (the per-round pin
    # truncates lineage); scale_probe records the phase walls.
    "bench_pagerank_10x": {
        "gen": pagerank_edge_stream,
        "warm": 10_000,
        "confs": NO_BROADCAST,
        "variants": {
            "pagerank": {
                "run": _pagerank,
                # every node id in [0, n/10) appears w.h.p. (~20 draws per id)
                "check": lambda r, n: r[0] >= (n // 10) * 99 // 100,
                "report": lambda r: {f"phase_{k}_s": round(v, 2) for k, v in r[1].items()},
                "bench": (("pagerank_gen_1x", 150_000), ("pagerank_10x", 1_500_000)),
                "ladder": (
                    ("pagerank_150k", 150_000),
                    ("pagerank_1500k", 1_500_000),
                    ("pagerank_15000k", 15_000_000),
                ),
                "xl": (("pagerank_150000k", 150_000_000),),
            }
        },
    },
    # The IVF-PQ PROBE (assign -> codes-only equi-join -> ADC top-5) at
    # nlist=8 / nprobe=1 over 1,000 queries: candidates grow ∝ docs/nlist,
    # while shuffle stays FLAT in corpus size (PQ codes stream map-side
    # against the broadcast query assignments; only the O(queries x k)
    # top-k exchanges rows). pq_train and the compile are outside the timer.
    "bench_ivfpq_10x": {
        "gen": _ivf_corpus,
        "variants": {
            "ivfpq": {
                "prep": _ivf_probe,
                "run": lambda spark, res, _n: res.count(),
                # top-5 of each of the 1,000 queries (all vectors when fewer)
                "check": lambda rows, n: rows == 5 * min(n, 1_000),
                "bench": (("ivfpq_gen_1x", 2_000), ("ivfpq_10x", 20_000)),
            }
        },
    },
    # Doc-LENGTH tripwire for the O(tokens^2) -> O(tokens) gram-build fix
    # (the unit growth guard is tests/test_hof_binding.py): wall ~linear in
    # doc length; minhash shuffle ~linear (its one exchange carries doc
    # TEXT), lang/quality shuffle flat (per-language partial agg).
    "bench_text_longdoc": {
        "gen": longdoc_corpus,
        "warm": 50,
        "variants": {
            "text_longdoc": {
                "run": _text_stages,
                "check": lambda r, n: r[0] == 2_000 and r[1] >= 1,
                "bench": (("text_longdoc_1x", 200), ("text_longdoc_10x", 2_000)),
            }
        },
        "cross": _linear_in_tokens,
    },
    # The same tripwire for the relational explode -> vote simhash(60):
    # tokenize once per doc (dedup.pad_empty_sql), shuffle ~linear in text.
    "bench_simhash_longdoc": {
        "gen": longdoc_corpus,
        "warm": 50,
        "variants": {
            "simhash_longdoc": {
                "run": lambda spark, docs, _n: _pkg("extensions.dedup")
                .simhash_signatures(docs, "doc_id", "text")
                .count(),
                "check": lambda sigs, n: sigs == 2_000,
                "bench": (("simhash_longdoc_1x", 200), ("simhash_longdoc_10x", 2_000)),
            }
        },
        "cross": _linear_in_tokens,
    },
    # Triangles (wedge work bounded by the (degree, id) orientation) and
    # the k-core peel at k=12 x 6 rounds on hub-heavy graphs. k=12 sits ~2
    # sigma under the ~19 mean degree: ~4% of nodes start below k, a real
    # cascade each round without collapsing the graph (k=15 collapsed to 0
    # survivors at 100k edges). Per-round k-core shuffle ∝ surviving edges.
    "bench_graph_10x": {
        "gen": hub_edges,
        "warm": 10_000,
        "confs": NO_BROADCAST,
        "variants": {
            "triangles": {
                "run": lambda spark, edges, _n: _pkg("extensions.graph")
                .triangle_counts(edges)
                .count(),
                # hubs close triangles through shared neighbors
                "check": lambda nodes, n: nodes > 100,
                "bench": (("triangles_gen_1x", 100_000), ("triangles_10x", 1_000_000)),
                "ladder": (
                    ("triangles_100k", 100_000),
                    ("triangles_1000k", 1_000_000),
                    ("triangles_10000k", 10_000_000),
                ),
                "xl": (("triangles_100000k", 100_000_000),),
            },
            "kcore": {
                "run": lambda spark, edges, _n: _pkg("extensions.graph")
                .kcore_peel(edges, k=12, rounds=6)
                .count(),
                "check": lambda core, n: core > 100,
                "bench": (("kcore_gen_1x", 100_000), ("kcore_10x", 1_000_000)),
                "ladder": (
                    ("kcore_100k", 100_000),
                    ("kcore_1000k", 1_000_000),
                    ("kcore_10000k", 10_000_000),
                ),
                "xl": (("kcore_100000k", 100_000_000),),
            },
        },
    },
    # (a) backward as-of join of clicks against deduped purchases: one
    # union exchange on user_id, output = clicks, so wall and shuffle
    # ~linear; (b) binned range join of purchases into 1-hour windows:
    # bin width = window length, so each interval explodes to <= 2 bins
    # and shuffle stays ~linear at fixed density (no cross product).
    "bench_temporal_10x": {
        "gen": temporal_event_stream,
        "warm": 2_000,
        "variants": {
            "asof": {
                "prep": _asof_inputs,
                "run": _asof,
                # ~20 purchases per user: all but the earliest-click sliver match
                "check": lambda r, n: r["n_out"] == n // 2 and r["n_matched"] > n // 4,
                "bench": (("asof_gen_1x", 100_000), ("asof_10x", 1_000_000)),
                "ladder": (
                    ("asof_100k", 100_000),
                    ("asof_1000k", 1_000_000),
                    ("asof_10000k", 10_000_000),
                ),
                "xl": (("asof_100000k", 100_000_000),),
            },
            "range": {
                "confs": NO_BROADCAST,
                "prep": _range_inputs,
                "run": lambda spark, pi, _n: _pkg("extensions.temporal")
                .range_join_binned(*pi, "t_us", "w_s", "w_e", bin_width=HOUR_US)
                .count(),
                # ~n/100 windows x ~1,800 in-window points
                "check": lambda pairs, n: pairs > n * 10,
                "bench": (("range_gen_1x", 100_000), ("range_10x", 1_000_000)),
            },
        },
    },
    # max_shingle_freq in its win regime: 1,000 sources sharing one
    # boilerplate block (~1k shingles x 10^6 group pairs ≈ 10^9
    # intersection-join rows uncapped); cap 100 drops the boilerplate
    # shingles from the intersection JOIN and keeps the unique ones.
    "bench_source_sim_cap": {
        "gen": _boilerplate_docs,
        "pin": False,
        "variants": {
            "source_sim_uncapped": {
                "run": _source_sim(None),
                "check": lambda res, n: res.count() == n * (n - 1) // 2,
                "bench": (("source_sim_uncapped", 1_000),),
            },
            "source_sim_cap100": {
                "run": _source_sim(100),
                "bench": (("source_sim_cap100", 1_000),),
            },
        },
        "cross": _cap_contract,
    },
    # Per-key running sum where one key owns 70% of 2M rows: the DIRECT
    # window pushes 1.4M rows through one task's sorter, the decomposed
    # skew.chunked_running_sum spreads them over 256 (key, chunk) windows
    # plus an O(keys x chunks) offset table.
    "bench_window_hotkey": {
        "gen": hot_window_fact,
        "variants": {
            "window_hotkey_direct": {
                "prep": lambda spark, fact, _n: direct_running_sum(fact),
                "run": lambda spark, df, _n: consume(df, "rs", "u", "t", "rs"),
                "bench": (("window_hotkey_direct", 2_000_000),),
            },
            "window_hotkey_chunked": {
                "prep": lambda spark, fact, n: _pkg("operators.skew").chunked_running_sum(
                    fact, "u", [F.col("t")], "v", F.expr(f"t div {n // 256}"), "rs"
                ),
                "run": lambda spark, df, _n: consume(df, "rs", "u", "t", "rs"),
                "bench": (("window_hotkey_chunked", 2_000_000),),
            },
        },
        "cross": _same,
    },
}


def _set_confs(spark, confs: dict) -> None:
    for key, value in confs.items():
        if value is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, value)


def run_row(spark, row: dict, plan: dict | None = None, runs: int = 1) -> dict:
    """Run one STRESS row and return {label: measure() record}.

    ``plan`` maps variant names to the (label, n) rungs to run, the bench
    rungs by default. Each variant runs once untimed at the warm size,
    then its rungs through measure(); a rung's source is generated before
    the timer and reused while consecutive rungs share a size."""
    if plan is None:
        plan = {name: v["bench"] for name, v in row["variants"].items()}
    row_confs = row.get("confs", {})
    keys = set(row_confs).union(*(row["variants"][k].get("confs", {}) for k in plan))
    prior = {key: spark.conf.get(key, None) for key in keys}

    def source(n):
        if "gen" not in row:
            return None
        src = row["gen"](spark, n)
        return src.localCheckpoint() if row.get("pin", True) else src

    out: dict[str, dict] = {}
    src, last_n = None, object()
    try:
        _set_confs(spark, row_confs)
        for name, rungs in plan.items():
            v = row["variants"][name]
            prep = v.get("prep", lambda spark, s, n: s)
            _set_confs(spark, v.get("confs", {}))
            if "warm" in row:
                w = row["warm"]
                v["run"](spark, prep(spark, source(w), w), w)
            for label, n in rungs:
                if n != last_n:
                    src, last_n = source(n), n
                arg = prep(spark, src, n)
                m = measure(spark, lambda: v["run"](spark, arg, n), runs)
                check = v.get("check")
                assert check is None or check(m["result"], n), (
                    f"{label}: check failed on {m['result']!r}"
                )
                out[label] = m
            _set_confs(spark, {k: row_confs.get(k, prior[k]) for k in v.get("confs", {})})
        if row.get("cross"):
            row["cross"](out)
    finally:
        _set_confs(spark, prior)
    return out


def bench_pagerank_phases(spark) -> dict:
    """r5 watch-item #1: pagerank wall drifted up to 40% between runs
    with bit-identical shuffle bytes. Run the registry workload once
    more with per-phase wall instrumentation (setup pins, each round's
    join+agg+pin job, final drain) so the bench artifact itself shows
    where a drifting run spends the extra wall — if the per-round
    numbers stay near-equal and drift moves all phases together, the
    spread is scheduler/GC noise on an 8-job iterative workload, not a
    plan change. Diagnostic only; excluded from headline_total."""
    from hadoop_0_20_2_ljx_spark.extensions.graph import pagerank_int
    from hadoop_0_20_2_ljx_spark.queries.curation import _PR_ITERS, pagerank_edges

    phases: dict[str, float] = {}
    t = time.time()
    pr = pagerank_int(
        pagerank_edges(spark, SF_DIR), iterations=_PR_ITERS, phase_seconds=phases
    )
    phases["drain"] = -time.time()
    _force(pr)
    phases["drain"] += time.time()
    phases["total"] = time.time() - t
    return {k: round(v, 3) for k, v in phases.items()}


def dump_local_artifact(full: dict, here: str, explicit: str | None) -> str | None:
    """Write BENCH_LOCAL_r{N}.json. Round number: ``explicit``
    (SPARK_GRAFT_ROUND env or argv[1]) wins; otherwise inferred as the
    next after the newest committed BENCH_r{N}.json. The inference
    assumes the driver writes BENCH_rN AFTER this run — a manual re-run
    after that artifact lands would stamp one round ahead (exactly how
    the r5 re-run produced a premature BENCH_LOCAL_r06), so pass the
    round explicitly for any non-driver run.

    Refuses to OVERWRITE an existing artifact when the round was merely
    inferred (r6 lesson: the driver's own bench re-run inferred the same
    round as the builder's committed artifact and silently overwrote it,
    84.21 -> 91.22 in the worktree). A committed local artifact only
    moves under an explicit round. Returns the path written, or None if
    the dump was refused."""
    import glob as _glob
    import re as _re

    if explicit is not None:
        rno = int(explicit)
    else:
        rounds = [
            int(m.group(1))
            for p in _glob.glob(os.path.join(here, "BENCH_r*.json"))
            if (m := _re.match(r"BENCH_r(\d+)\.json$", os.path.basename(p)))
        ]
        rno = (max(rounds) if rounds else 0) + 1
    target = os.path.join(here, f"BENCH_LOCAL_r{rno:02d}.json")
    if explicit is None and os.path.exists(target):
        print(
            f"bench-local dump skipped: {target} exists and round was "
            "inferred, not explicit (pass SPARK_GRAFT_ROUND to overwrite)",
            file=sys.stderr,
        )
        return None
    with open(target, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
    return target


# bench label -> registry query, each timed median-of-3 at SF_DIR
REGISTRY_WORKLOADS = {
    "tpch_q1": "q_agg_tpch_q1",
    "join_3way": "q_join_3way",
    "wordcount": "q_agg_wordcount",
    "dedup_minhash": "q_dedup_minhash",
    "embed_knn": "q_embed_knn",
    "dedup_simhash": "q_dedup_simhash",
    "dedup_simhash_pairs": "q_dedup_simhash_pairs",
    "sort_fingerprint": "q_sort_total_order",
    "window_rank": "q_agg_window_rank",
    "bloom_join": "q_join_bloom",
    "contamination": "q_text_contamination",
    "pipeline_training": "q_pipeline_training",
    "asof_join": "q_join_asof",
    "range_join": "q_join_range",
    "bm25": "q_text_bm25",
    "embed_ivfpq": "q_embed_ivfpq",
    "text_chunk": "q_text_chunk",
    "keep_latest": "q_dedup_keep_latest",
    "tfile_roundtrip": "q_sink_tfile_roundtrip",
    "dedup_incremental": "q_dedup_incremental",
    "dedup_paragraph": "q_dedup_paragraph",
    "pagerank": "q_graph_pagerank",
    "tpch_q2": "q_agg_tpch_q2",
    "tpch_q3": "q_agg_tpch_q3",
    "tpch_q4": "q_agg_tpch_q4",
    "tpch_q6": "q_agg_tpch_q6",
    "tpch_q10": "q_agg_tpch_q10",
    "tpch_q8": "q_agg_tpch_q8",
    "tpch_q9": "q_agg_tpch_q9",
    "tpch_q13": "q_agg_tpch_q13",
    "tpch_q14": "q_agg_tpch_q14",
    "tpch_q16": "q_agg_tpch_q16",
    "tpch_q17": "q_agg_tpch_q17",
    "tpch_q19": "q_agg_tpch_q19",
    "tpch_q21": "q_agg_tpch_q21",
    "tpch_q22": "q_agg_tpch_q22",
    "group_split": "q_sample_group_split",
    "table_diff": "q_audit_table_diff",
    "fingerprint": "q_audit_fingerprint",
    "diff_incremental": "q_audit_diff_incremental",
    "winsorize": "q_agg_winsorize",
    "interval_merge": "q_agg_interval_merge",
    "deciles": "q_agg_deciles",
    "triangles": "q_graph_triangles",
    "audit_constraints": "q_audit_constraints",
    "copurchase": "q_agg_copurchase",
    "kcore": "q_graph_kcore",
    "domain_cap": "q_sample_domain_cap",
    "token_budget": "q_sample_token_budget",
    "source_sim": "q_corpus_source_sim",
    "embed_ivfpq_nprobe": "q_embed_ivfpq_nprobe",
    "decontaminate": "q_text_decontaminate",
    "dataset_card": "q_corpus_dataset_card",
    "domain_reweight": "q_sample_domain_reweight",
    "drift_ks": "q_agg_drift_ks",
    "embed_ivfpq_rerank": "q_embed_ivfpq_rerank",
    "embed_kmeans_ivf": "q_embed_kmeans_ivf",
    "embed_ivf_bcast": "q_embed_ivf_bcast",
    "embed_kmeans_ivf_bcast": "q_embed_kmeans_ivf_bcast",
}


# The driver records only the LAST ~2000 chars of output; the full JSON
# has outgrown that (r3's artifact lost headline_total and the first
# workloads' timings), so the bench ends on a compact summary line.
SUMMARY_LIMIT = 1950
# The four sub-second rows the summary named before it carried every
# median (r13 VERDICT task 2: the driver's per-query PERF table reads the
# summary's `queries` dict).
SUMMARY_ANCHORS = ("join_3way", "terasort_1m", "tpch_q1", "wordcount")


def summary_line(total: float, timings: dict[str, float], wall_total: float, sf: float) -> str:
    """The bench's final stdout line: the headline plus every per-workload
    median, in at most SUMMARY_LIMIT characters so that the driver's tail
    capture always holds parseable JSON. Past the limit the medians are
    rounded to one decimal, and past it again only the four anchor
    entries are kept (with a warning naming how many were dropped); the
    assert then only fails if the headline fields alone do not fit."""
    summary = {
        "metric": "headline_total",
        "value": round(total, 2),
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in timings.items()},
        "n_workloads": len(timings),
        "wall_total": wall_total,
        "sf": sf,
    }
    line = json.dumps(summary, separators=(",", ":"))
    if len(line) > SUMMARY_LIMIT:
        summary["queries"] = {k: round(v, 1) for k, v in timings.items()}
        line = json.dumps(summary, separators=(",", ":"))
    if len(line) > SUMMARY_LIMIT:
        summary["queries"] = {k: round(timings[k], 2) for k in SUMMARY_ANCHORS if k in timings}
        line = json.dumps(summary, separators=(",", ":"))
        print(
            f"summary line: kept the {len(summary['queries'])} anchor medians, "
            f"dropped {len(timings) - len(summary['queries'])} entries "
            f"(the full record is in the JSON above)",
            file=sys.stderr,
        )
    assert len(line) <= SUMMARY_LIMIT, f"summary line too long ({len(line)} chars)"
    return line


def open_session(app_name: str, cpus: str):
    """The engine session with the UI on, so the REST stage metrics
    (shuffle/input bytes) are readable."""
    return get_spark(
        app_name=app_name,
        master=f"local[{cpus}]",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.port": "4951",
            # _stage_bytes sums over RETAINED completed stages; the
            # default 1000-stage eviction made late-run deltas negative
            # (r5: bm25_durable_pin input_bytes=-549580). Keep every
            # stage for the run's lifetime so deltas stay monotone.
            "spark.ui.retainedStages": "100000",
        },
    )


def warm_up(spark, cpus: str, qnames) -> None:
    """Warm the JVM/codegen AND the Python/Arrow worker pool once so
    timings measure the plans, not process startup (both amortize to
    zero on a long-lived cluster). Then compile each named registry plan
    at the smallest sf, so the timed runs measure the plan in steady state
    (codegen compile is a one-time cost on a real cluster, but 1-3 s of
    the measurement at local bench scale). That holds only while the
    session's generated-class cache outlives the warm-up: with Spark's
    default of 100 classes the warm-up's later plans evict the earlier
    ones (the registry needs about 2,100), so the timed runs recompile
    them; session.py sizes the cache for the whole registry."""
    catalog.load(spark, SF_DIR, "region").count()
    F_pd = F.pandas_udf(lambda s: s, "long")
    spark.range(int(cpus) * 4, numPartitions=int(cpus)).select(
        F_pd(F.col("id"))
    ).write.format("noop").mode("overwrite").save()
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir):
        for qname in qnames:
            try:
                _force(REGISTRY[qname].spark(spark, warm_dir))
            except Exception:
                pass


class Bench:
    """The per-label record of one bench session: median wall, first-run
    bytes, and for median-of-3 rows the per-run walls and steal%."""

    def __init__(self, spark):
        self.spark = spark
        self.timings: dict[str, float] = {}
        self.shuffle_b: dict[str, int] = {}
        self.input_b: dict[str, int] = {}
        self.wall_runs: dict[str, list[float]] = {}
        self.steal_pct: dict[str, float | None] = {}

    def record(self, label: str, m: dict) -> None:
        self.timings[label] = statistics.median(m["walls"])
        self.shuffle_b[label], self.input_b[label] = m["shuffle_b"], m["input_b"]
        if len(m["walls"]) > 1:
            self.wall_runs[label] = [round(w, 3) for w in m["walls"]]
            self.steal_pct[label] = m["steal"]

    def timed_runs(self, label: str, fn) -> None:
        # median-of-3 graded walls (r10 verdict task 3): the r10 session
        # measured 186-280 s same-HEAD spread across three full runs with
        # bit-identical shuffle bytes and DISJOINT >±25% spike sets —
        # single-shot (and best-of-2) walls on this shared host are
        # noise-bound. Every committed wall is the MEDIAN of three
        # back-to-back runs, with the per-run walls (wall_runs) and the
        # /proc/stat steal% over the three-run window (cpu_steal_pct)
        # recorded beside it so the delta note's host-noise diagnosis is
        # reproducible from the artifact alone. The >±25% delta watch
        # rule keys to this median.
        self.record(label, measure(self.spark, fn, runs=3))

    def section(self, name: str) -> None:
        """One STRESS row's bench rungs. They stay single-shot: their
        claims are RATIOS (both rungs ride the same ambient noise)
        anchored on deterministic shuffle bytes, not absolute walls. Each
        section records its own steal% window so a noisy section is
        identifiable in the artifact."""
        st0 = _steal_ticks()
        for label, m in run_row(self.spark, STRESS[name]).items():
            self.record(label, m)
        self.steal_pct["section:" + name] = _steal_pct(st0, _steal_ticks())


def main() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = open_session("ljx-bench", cpus)
    sf = float(os.path.basename(SF_DIR.rstrip("/")).replace("sf", "") or 0.1)
    warm_up(spark, cpus, REGISTRY_WORKLOADS.values())

    b = Bench(spark)
    steal_bench0 = _steal_ticks()
    t0 = time.time()
    # terasort's bench rungs are median-of-3 headline rows
    for label, m in run_row(spark, STRESS["bench_terasort"], runs=3).items():
        b.record(label, m)
    for label, qname in REGISTRY_WORKLOADS.items():
        b.timed_runs(label, lambda qn=qname: _force(REGISTRY[qn].spark(spark, SF_DIR)))
    for name in STRESS:
        if name != "bench_terasort":
            b.section(name)
    pagerank_phases = bench_pagerank_phases(spark)

    # Durable-pin posture cost: re-run bm25 (pin()-materialized df/avgdl
    # side tables) with spark.ljx.pin.mode=durable — reliable checkpoint
    # (lineage truncated, blocks in the checkpoint dir), the
    # preemptible-executor production mode. The delta vs the plain bm25
    # row above is the measured local overhead SCALE.md cites.
    from hadoop_0_20_2_ljx_spark.pinning import PIN_MODE_CONF

    spark.conf.set(PIN_MODE_CONF, "durable")
    try:
        b.timed_runs(
            "bm25_durable_pin",
            lambda: _force(REGISTRY["q_text_bm25"].spark(spark, SF_DIR)),
        )
    finally:
        spark.conf.unset(PIN_MODE_CONF)

    # headline = sum of per-workload timings (median-of-3 each for the
    # registry/anchor rows; single-shot for the byte-anchored stress
    # pairs), so the graded number is the workloads' cost, not the
    # triple-run wall time; wall_total records the actual elapsed.
    total = sum(b.timings.values())
    full = {
        "metric": "headline_total",
        "value": round(total, 2),
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in b.timings.items()},
        "shuffle_write_bytes": b.shuffle_b,
        "input_bytes": b.input_b,
        # noise-diagnosis fields (r10 verdict task 3): per-run walls for
        # every median-of-3 row, the (max-min)/median spread, and the
        # /proc/stat steal% per three-run window / per stress section /
        # whole bench — the delta note cites these instead of re-running.
        "wall_runs": b.wall_runs,
        "wall_spread_pct": {
            k: round(100.0 * (max(v) - min(v)) / max(statistics.median(v), 1e-9), 1)
            for k, v in b.wall_runs.items()
        },
        "cpu_steal_pct": b.steal_pct,
        "cpu_steal_pct_overall": _steal_pct(steal_bench0, _steal_ticks()),
        # self-describing steal metric (r12 ADVICE): the denominator
        # definition changed in r12 from all /proc/stat cpu fields to the
        # first 8 (user..steal; guest fields are already folded into
        # user/nice). Artifacts without this field (r10/r11) used the
        # 10-field denominator — cross-round steal comparisons must not
        # mix versions silently.
        "steal_denominator": "first8_user_through_steal_v2",
        "pagerank_phases": pagerank_phases,
        "wall_total": round(time.time() - t0, 2),
        "sf": sf,
    }
    print(json.dumps(full))
    # Persist the FULL per-workload record beside the driver's truncated
    # tail capture, round-stamped so round-over-round deltas are
    # diffable in-repo without a judge re-run.
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        explicit = os.environ.get("SPARK_GRAFT_ROUND") or (
            sys.argv[1] if len(sys.argv) > 1 else None
        )
        dump_local_artifact(full, here, explicit)
    except Exception as e:  # never fail the bench over bookkeeping
        print(f"bench-local dump skipped: {e}", file=sys.stderr)
    print(summary_line(total, b.timings, round(time.time() - t0, 2), sf))
    return 0


if __name__ == "__main__":
    sys.exit(main())
