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
round record tracks the training-data-pipeline ops too.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

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


def _stage_bytes(spark) -> tuple[int, int]:
    """Cumulative (shuffle_write_bytes, input_bytes) over completed stages,
    from the UI REST API. Per-workload deltas of these are the numbers
    that carry to 100 TB (broadcast saves shuffle; bloom cuts probe
    bytes) — local seconds don't."""
    import json as _json
    import urllib.request

    sc = spark.sparkContext
    base = sc.uiWebUrl
    if not base:
        return 0, 0
    try:
        url = f"{base}/api/v1/applications/{sc.applicationId}/stages?status=complete"
        with urllib.request.urlopen(url, timeout=10) as resp:
            stages = _json.load(resp)
        return (
            sum(s.get("shuffleWriteBytes", 0) for s in stages),
            sum(s.get("inputBytes", 0) for s in stages),
        )
    except Exception:
        return 0, 0


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


def bench_skew_join(spark, timings, shuffle_b, input_b) -> None:
    """Hot-key join: 70% of lineitem rows collapse onto one key (a Zipf-1
    head far beyond AQE's skew threshold), dim side = orders. Broadcast is
    disabled for the workload — it simulates the cluster regime where the
    dim is 10^9 rows and broadcast-ineligible, which is exactly when the
    salted rewrite matters; both variants then shuffle. Records plain
    (AQE skew-split) vs skew.salted_join so BENCH tracks the measured
    delta, with row-count equality asserted."""
    from hadoop_0_20_2_ljx_spark.operators import skew

    fact = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        F.when(F.pmod(F.col("l_orderkey"), F.lit(10)) < 7, F.lit(1))
        .otherwise(F.col("l_orderkey"))
        .alias("k"),
        "l_quantity",
    )
    dim = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        F.col("o_orderkey").alias("k"), "o_totalprice"
    )
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        counts = {}
        for label, df in (
            ("skew_join_plain", fact.join(dim, "k")),
            ("skew_join_salted", skew.salted_join(fact, dim, "k", buckets=16)),
        ):
            sw0, ib0 = _stage_bytes(spark)
            t = time.time()
            counts[label] = df.count()
            timings[label] = time.time() - t
            sw1, ib1 = _stage_bytes(spark)
            shuffle_b[label], input_b[label] = sw1 - sw0, ib1 - ib0
        assert counts["skew_join_plain"] == counts["skew_join_salted"], counts
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)


def bench_skew_groupby(spark, timings, shuffle_b, input_b) -> None:
    """Hot-key aggregation: same 70%-hot key as bench_skew_join, plain
    groupBy-sum vs the two-phase skew.salted_sum rewrite. Unlike join
    skew, AQE cannot split a single groupBy key's aggregation state —
    salting is the only rewrite. NOTE on the local reading: map-side
    partial agg (HashAggregate) already collapses the hot key to one row
    per map partition for an ALGEBRAIC sum, so at local[32] the two are
    expected close; the rewrite's win regime is holistic/large per-key
    state (collect-type, large-cardinality maps) and map-side hash
    spill, which local parquet scale can't reproduce. The bench records
    the measured pair + asserts value equality; SCALE.md cites the
    numbers and the regime. Reference anchor: the 337-872 MB reduce-skew
    observation (examples/.../terasort/package.html:108-110)."""
    from hadoop_0_20_2_ljx_spark.operators import skew

    fact = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        F.when(F.pmod(F.col("l_orderkey"), F.lit(10)) < 7, F.lit(1))
        .otherwise(F.col("l_orderkey"))
        .alias("k"),
        (F.col("l_quantity").cast("long")).alias("v"),
    )
    results = {}
    for label, df in (
        ("skew_groupby_plain", fact.groupBy("k").agg(F.sum("v").alias("sum_value"))),
        ("skew_groupby_salted", skew.salted_sum(fact, "k", "v", buckets=16)),
    ):
        sw0, ib0 = _stage_bytes(spark)
        t = time.time()
        results[label] = df.agg(
            F.count(F.lit(1)).alias("n"), F.sum("sum_value").alias("s")
        ).first()
        timings[label] = time.time() - t
        sw1, ib1 = _stage_bytes(spark)
        shuffle_b[label], input_b[label] = sw1 - sw0, ib1 - ib0
    assert tuple(results["skew_groupby_plain"]) == tuple(
        results["skew_groupby_salted"]
    ), results


def bench_diff_sparse(spark, timings, shuffle_b, input_b) -> None:
    """Incremental-diff win regime: a 0.1%-change snapshot pair. The
    registry fixture (q_audit_diff_incremental) changes ~30% of keys, so
    locally every bucket is dirty and incremental pays the fingerprint
    passes for nothing; THIS pair measures the regime the operator is
    for — sparse drift between replicas — where the dirty-bucket
    semi-join keeps ~96% of both snapshots out of the full-outer
    shuffle. Records full vs incremental with result equality asserted;
    SCALE.md cites the shuffle-byte ratio."""
    from hadoop_0_20_2_ljx_spark.extensions import audit

    base = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    new = base.withColumn(
        "cents",
        F.col("cents")
        + F.when(F.pmod(F.col("k"), F.lit(1000)) == 0, 1).otherwise(0),
    )
    results = {}
    for label, df in (
        (
            "diff_full_sparse",
            audit.snapshot_diff(base, new, ["k"], ["status", "cents"]),
        ),
        (
            "diff_incr_sparse",
            audit.incremental_snapshot_diff(
                base, new, ["k"], ["status", "cents"], n_buckets=4096
            ),
        ),
    ):
        sw0, ib0 = _stage_bytes(spark)
        t = time.time()
        results[label] = {r["diff_kind"]: r["n"] for r in df.collect()}
        timings[label] = time.time() - t
        sw1, ib1 = _stage_bytes(spark)
        shuffle_b[label], input_b[label] = sw1 - sw0, ib1 - ib0
    assert results["diff_full_sparse"] == results["diff_incr_sparse"], results


def bench_minhash_10x(spark, timings, shuffle_b, input_b) -> None:
    """10x stress row for the shuffle-heavy candidate-pair path (the
    terasort_10m methodology applied to dedup): ~50k generated docs
    (10x sf0.1's 5000 documents) with a planted 20% exact-duplicate rate
    (ids 40000..49999 clone ids 0..9999), through the full MinHash(16) +
    LSH(4 bands) candidate generator. Expected scaling: the signature
    build (explode shingles -> groupBy doc) is LINEAR in corpus tokens;
    the pair stage is bounded by bucket collisions, not corpus size —
    random docs essentially never collide, so candidates ~= the 10,000
    planted pairs. The assert pins LSH's recall-1.0-on-exact-dups
    contract at this scale; wall + shuffle bytes land in the artifact
    next to the sf0.1 `dedup_minhash` row for the delta note."""
    from hadoop_0_20_2_ljx_spark.extensions import dedup

    words = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(32)),
            lambda i: F.substring(
                F.md5(
                    F.concat_ws(
                        "-",
                        F.pmod(F.col("id"), F.lit(40_000)).cast("string"),
                        i.cast("string"),
                    )
                ),
                1,
                8,
            ),
        ),
        " ",
    )
    docs = spark.range(50_000).select(F.col("id").alias("doc_id"), words.alias("text"))
    sw0, ib0 = _stage_bytes(spark)
    t = time.time()
    n_pairs = dedup.minhash_lsh_candidates(docs, "doc_id", "text").count()
    timings["minhash_dedup_10x"] = time.time() - t
    sw1, ib1 = _stage_bytes(spark)
    shuffle_b["minhash_dedup_10x"] = sw1 - sw0
    input_b["minhash_dedup_10x"] = ib1 - ib0
    assert n_pairs >= 10_000, f"planted duplicate pairs missed: {n_pairs}"


def pagerank_edge_stream(spark, n_edges: int):
    """Deterministic md5-derived random edge stream (average out-degree
    ~10; node count = edges/10) shared by bench_pagerank_10x and
    tools/scale_probe.py's pagerank ladder — hoisted so the ladder rides
    the same data as the bench pair (the temporal_event_stream pattern)."""
    nodes = n_edges // 10

    def node(salt: str):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("-", F.lit(salt), F.col("id").cast("string"))),
                    1,
                    12,
                ),
                16,
                10,
            ).cast("long")
            % F.lit(nodes)
        )

    return spark.range(n_edges).select(node("s").alias("src"), node("d").alias("dst"))


def bench_pagerank_10x(spark, timings, shuffle_b, input_b) -> None:
    """10x stress pair for the iterative-join family (the last family
    without measured scaling evidence; same methodology as
    minhash_dedup_10x / ivfpq_10x). Deterministic md5-derived random
    graphs at 150k and 1.5M edges, average out-degree ~10 (node count =
    edges/10), PageRank at the registry's 3 rounds. The scaling claims
    for the delta note: per-round shuffle ∝ edges (each round is one
    rank equi-join + one partial-agg over the pinned edge table — no
    stage touches more than the edge count), setup ∝ edges (the
    distinct + two pins), and round wall stays flat ACROSS rounds at
    both sizes (the O(log n)-free fixed-round workload; plan trees are
    lineage-truncated by the per-round pin, so round 2 costs what round
    0 costs). Edge generation is outside the timed window.

    Auto-broadcast is DISABLED for this pair: at 150k edges the 15k-row
    rank table broadcasts and the round join ships ~0 edge bytes, at
    1.5M it flips to a shuffle join — measured 96x round bytes across
    the boundary, a regime change, not a scaling law. At 100 TB the
    rank table is itself corpus-scale and never broadcasts, so the
    shuffle-join regime at BOTH sizes is the curve that extrapolates
    (small-graph broadcasting stays the default engine behavior and is
    separately exercised by the registry pagerank row)."""
    from hadoop_0_20_2_ljx_spark.extensions.graph import pagerank_int

    def gen(n_edges: int):
        return pagerank_edge_stream(spark, n_edges)

    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for label, n in (("pagerank_gen_1x", 150_000), ("pagerank_10x", 1_500_000)):
            edges = gen(n).localCheckpoint()
            sw0, ib0 = _stage_bytes(spark)
            t = time.time()
            n_nodes = pagerank_int(edges, iterations=3).count()
            timings[label] = time.time() - t
            sw1, ib1 = _stage_bytes(spark)
            shuffle_b[label] = sw1 - sw0
            input_b[label] = ib1 - ib0
            # every node id in [0, n/10) appears w.h.p. at ~10 draws per id
            assert n_nodes >= (n // 10) * 99 // 100, f"{label}: {n_nodes} nodes"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)


def bench_ivfpq_10x(spark, timings, shuffle_b, input_b) -> None:
    """10x stress row for the IVF probe's candidate growth (r7 verdict
    task 3 — minhash_dedup_10x proved LSH pair scaling; this is the same
    methodology on the IVF-PQ probe path). Deterministic md5-derived
    64-dim corpora at 1x (2,000 = sf0.1's embeddings count) and 10x
    (20,000) at fixed nlist=8 / nprobe=1 / k=5 / 1,000 queries; corpus
    materialization and pq_train are OUTSIDE the timed window, so the
    row times the PROBE (assign -> codes-only equi-join -> ADC top-5)
    whose candidate count is the cost that scales: queries x docs/nlist
    = 250k ADC pairs at 1x, 2.5M at 10x. Expected curve for the delta
    note: per-query candidates grow ∝ docs/nlist (wall ~linear once
    candidates dominate task overhead), while shuffle stays FLAT in
    corpus size — the probe is an equi-join against the broadcast query
    assignments, so PQ codes stream map-side and never shuffle; only
    the O(queries x k) top-k aggregation exchanges rows. That flatness
    is the 100 TB point of the codes-only probe design. The 1x
    generated row (not the fixture embed_ivfpq row) is the comparison
    base so the generator is held constant across the pair."""
    from hadoop_0_20_2_ljx_spark.extensions import clustering, similarity

    def gen(n: int):
        vec = F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda i: F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws("-", F.col("id").cast("string"), i.cast("string"))
                    ),
                    1,
                    6,
                ),
                16,
                10,
            ).cast("double")
            / F.lit(16777216.0)
            - F.lit(0.5),
        )
        return spark.range(n).select(
            F.col("id").cast("int").alias("vec_id"), vec.alias("embedding")
        )

    for label, n in (("ivfpq_gen_1x", 2_000), ("ivfpq_10x", 20_000)):
        # corpus materialized and codebooks trained OUTSIDE the timed
        # window: the row measures the PROBE path (assign -> codes-only
        # equi-join -> ADC top-k), the part whose candidate growth is the
        # scaling claim — not pq_train's fixed cost or the generator.
        corpus = gen(n).localCheckpoint()
        books = clustering.pq_train(corpus, "vec_id", "embedding", 8, 8, iters=1)
        res = similarity.ivfpq_ann(
            corpus,
            corpus.filter(F.col("vec_id") < 1000),
            nlist_ids=list(range(8)),
            books=books,
            k=5,
        )
        _force(res)  # codegen warm (compile differs per trained codebook)
        sw0, ib0 = _stage_bytes(spark)
        t = time.time()
        n_rows = res.count()
        timings[label] = time.time() - t
        sw1, ib1 = _stage_bytes(spark)
        shuffle_b[label] = sw1 - sw0
        input_b[label] = ib1 - ib0
        assert n_rows == 5_000, f"{label}: expected 1000 queries x top-5, got {n_rows}"


def bench_text_longdoc(spark, timings, shuffle_b, input_b) -> None:
    """Doc-LENGTH stress pair for the text family (r8 verdict task 3):
    the O(tokens^2)->O(tokens) gram-build fix is pinned by a unit growth
    guard (tests/test_hof_binding.py), this row makes it a permanent
    bench tripwire at web-page document lengths. 2,000 generated docs of
    ~200 tokens (1x — the parquet fixture documents' shape) and ~2,000
    tokens (10x — real web-page length), each corpus through (a) the
    relational MinHash(16) signature build and (b) the lang-ID +
    quality-score projection aggregated to a per-language summary.
    Expected curve for the delta note: wall ~linear in doc length for
    both stages (the pre-r8 quadratic gram form measured 57x at 2000
    tokens; the pre-r8.2 lang/quality form stamped 24 tokenizations);
    minhash shuffle ~linear in doc length (its one exchange carries doc
    TEXT), lang/quality shuffle FLAT (per-doc scores partial-agg to a
    constant-width per-language summary). Generation is outside the
    timed window (localCheckpoint), the terasort_10m methodology."""
    from hadoop_0_20_2_ljx_spark.extensions import dedup, textstats

    def corpus(n_tokens: int):
        words = F.array_join(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_tokens - 1)),
                lambda i: F.concat(
                    F.lit("w"), ((F.col("id") * 31 + i) % 9973).cast("string")
                ),
            ),
            " ",
        )
        return spark.range(2_000).select(
            F.col("id").alias("doc_id"), words.alias("text")
        )

    # warm codegen/JIT on a tiny corpus so the 1x row doesn't carry the
    # first-compile cost (the 1x/10x RATIO is this pair's whole point)
    warm = corpus(50).localCheckpoint()
    dedup.minhash_signatures_relational(warm, "doc_id", "text", 16, 3).count()
    warm.select(
        textstats.lang_pred_expr("text").alias("lang"),
        textstats.quality_expr("text").alias("q"),
    ).groupBy("lang").count().count()

    for label, n_tokens in (("text_longdoc_1x", 200), ("text_longdoc_10x", 2_000)):
        docs = corpus(n_tokens).localCheckpoint()
        sw0, ib0 = _stage_bytes(spark)
        t = time.time()
        n_sigs = dedup.minhash_signatures_relational(
            docs, "doc_id", "text", 16, 3
        ).count()
        n_langs = (
            docs.select(
                textstats.lang_pred_expr("text").alias("lang"),
                textstats.quality_expr("text").alias("q"),
            )
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n"), F.avg("q").alias("avg_q"))
            .count()
        )
        timings[label] = time.time() - t
        sw1, ib1 = _stage_bytes(spark)
        shuffle_b[label] = sw1 - sw0
        input_b[label] = ib1 - ib0
        assert n_sigs == 2_000, f"{label}: {n_sigs} signatures"
        assert n_langs >= 1, label
    # regression tripwire: 10x tokens must stay ~linear (10x work, well
    # under job overhead + 3x headroom); the quadratic form is 100x work
    assert timings["text_longdoc_10x"] < 30 * max(
        timings["text_longdoc_1x"], 0.2
    ), (
        f"long-doc text stage grew "
        f"{timings['text_longdoc_10x'] / max(timings['text_longdoc_1x'], 1e-9):.0f}x "
        f"for 10x tokens: quadratic regression?"
    )


def bench_simhash_longdoc(spark, timings, shuffle_b, input_b) -> None:
    """Doc-LENGTH stress pair for the simhash family (r9 verdict task 2:
    the family's r8->r9 wall moves had only the ambient label and no
    length-stress row of its own). Same corpus/methodology as
    bench_text_longdoc: 2,000 generated docs at ~200 tokens (1x) and
    ~2,000 tokens (10x) through the relational explode->vote
    simhash_signatures(60). Expected curve: wall ~linear in doc length
    (tokenize once per doc after the r10 pad_empty_sql fix — the naive
    padding was a 2x constant, the quadratic HOF class would be 100x);
    shuffle ~linear in text bytes (the one exchange carries doc TEXT,
    explode+vote run partition-local). Generation outside the timed
    window (localCheckpoint)."""
    from hadoop_0_20_2_ljx_spark.extensions import dedup

    def corpus(n_tokens: int):
        words = F.array_join(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_tokens - 1)),
                lambda i: F.concat(
                    F.lit("w"), ((F.col("id") * 31 + i) % 9973).cast("string")
                ),
            ),
            " ",
        )
        return spark.range(2_000).select(
            F.col("id").alias("doc_id"), words.alias("text")
        )

    warm = corpus(50).localCheckpoint()
    dedup.simhash_signatures(warm, "doc_id", "text").count()

    for label, n_tokens in (("simhash_longdoc_1x", 200), ("simhash_longdoc_10x", 2_000)):
        docs = corpus(n_tokens).localCheckpoint()
        sw0, ib0 = _stage_bytes(spark)
        t = time.time()
        n_sigs = dedup.simhash_signatures(docs, "doc_id", "text").count()
        timings[label] = time.time() - t
        sw1, ib1 = _stage_bytes(spark)
        shuffle_b[label] = sw1 - sw0
        input_b[label] = ib1 - ib0
        assert n_sigs == 2_000, f"{label}: {n_sigs} signatures"
    # regression tripwire: 10x tokens must stay ~linear (10x work + 3x
    # headroom over job overhead); a quadratic form would be ~100x work
    assert timings["simhash_longdoc_10x"] < 30 * max(
        timings["simhash_longdoc_1x"], 0.2
    ), (
        f"long-doc simhash stage grew "
        f"{timings['simhash_longdoc_10x'] / max(timings['simhash_longdoc_1x'], 1e-9):.0f}x "
        f"for 10x tokens: quadratic regression?"
    )


def bench_graph_10x(spark, timings, shuffle_b, input_b) -> None:
    """1x/10x stress pairs for the non-iterative graph family (r8
    verdict task 4: pagerank has its scaling pair; triangles claims
    O(m^1.5) via degree orientation and k-core claims bounded peeling —
    neither had a measured curve). Deterministic md5-derived graphs at
    100k and 1M edges with a HUB-HEAVY endpoint mix: 1/16 of endpoint
    draws collapse onto one of 10 hub nodes (hub degree ~ m/80 — the
    exact case degree orientation exists for: id-ordering would emit
    O(deg^2) ≈ 1.6e8 wedges across the hubs at 10x, the (degree, id)
    orientation bounds every node's out-degree at O(sqrt m)); the
    remaining draws are uniform over m/10 nodes (avg degree ~20).
    k-core peels the same graphs at k=12 (the ~19-mean Poisson tail:
    ~4% of nodes start below k, enough to drive a real cascade each
    round without collapsing the graph — k=15 measured a full collapse
    to 0 survivors at 100k edges), 6 rounds.

    Auto-broadcast is DISABLED, as in bench_pagerank_10x: at these sizes
    the node-sized degree/alive tables broadcast locally, but at 100 TB
    they are corpus-sized and never broadcast — the shuffle-join regime
    at BOTH sizes is the curve that extrapolates (the registry rows keep
    default broadcasting). Expected curves for the delta note: triangle
    wall/shuffle ~ wedge count (~m * avg oriented out-degree here, the
    O(m^1.5) bound far from tight on this mix); k-core per-round shuffle
    ∝ surviving edges, so ~linear in m at fixed peel depth."""
    from hadoop_0_20_2_ljx_spark.extensions.graph import kcore_peel, triangle_counts

    def gen(n_edges: int):
        nodes = n_edges // 10

        def node(salt: str):
            h = F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws("-", F.lit(salt), F.col("id").cast("string"))
                    ),
                    1,
                    12,
                ),
                16,
                10,
            ).cast("long")
            # selection bit (h % 16) and value bits (h >> 4) are disjoint
            return F.when(
                h % 16 == 0, F.shiftright(h, 4) % 10
            ).otherwise(F.shiftright(h, 4) % F.lit(nodes))

        return spark.range(n_edges).select(
            node("s").alias("src"), node("d").alias("dst")
        )

    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # Warm the triangle/k-core plans on a tiny graph first — the same
        # warm pass bench_text_longdoc/bench_simhash_longdoc already run,
        # adopted here in r14 as a measurement fix (disclosed in
        # OPTIMIZATION_r14.md with the old numbers): the 1x rung
        # otherwise pays the section's whole-plan Janino compile inside
        # its timed window — measured 6.05 s at 1x vs 4.56 s at 10x in an
        # isolated session (the 1x wall EXCEEDED the 10x wall, a
        # plan-compile artifact, not graph work; the r14 full-bench
        # baseline recorded 9.04 s for the 1x rung at 0.1% steal). The
        # pair's scaling claim stays anchored on shuffle bytes either
        # way; the walls now measure the graphs.
        warm_edges = gen(10_000).localCheckpoint()
        triangle_counts(warm_edges).count()
        kcore_peel(warm_edges, k=12, rounds=6).count()
        for label, n in (("triangles_gen_1x", 100_000), ("triangles_10x", 1_000_000)):
            edges = gen(n).localCheckpoint()
            sw0, ib0 = _stage_bytes(spark)
            t = time.time()
            n_tri_nodes = triangle_counts(edges).count()
            timings[label] = time.time() - t
            sw1, ib1 = _stage_bytes(spark)
            shuffle_b[label] = sw1 - sw0
            input_b[label] = ib1 - ib0
            # the hub mix guarantees a dense hub core: hubs close
            # triangles through shared neighbors at both sizes
            assert n_tri_nodes > 100, f"{label}: {n_tri_nodes} triangle nodes"
        for label, n in (("kcore_gen_1x", 100_000), ("kcore_10x", 1_000_000)):
            edges = gen(n).localCheckpoint()
            sw0, ib0 = _stage_bytes(spark)
            t = time.time()
            survivors = kcore_peel(edges, k=12, rounds=6)
            n_core = survivors.count()
            timings[label] = time.time() - t
            sw1, ib1 = _stage_bytes(spark)
            shuffle_b[label] = sw1 - sw0
            input_b[label] = ib1 - ib0
            # k=12 sits ~2 sigma under the ~19 mean: a core must survive
            assert n_core > 100, f"{label}: {n_core} core nodes"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)


def temporal_event_stream(spark, n_rows: int):
    """Fixed-density generated event stream (1 event/sec overall; users
    and time span scale with the data) shared by bench_temporal_10x and
    tools/scale_probe.py's as-of ladder — identical expressions to the
    r9 in-function generator, hoisted so the ladder rides the same data."""
    users = max(n_rows // 20, 1)
    span_us = n_rows * 1_000_000

    def h(salt: str):
        return F.conv(
            F.substring(
                F.md5(F.concat_ws("-", F.lit(salt), F.col("id").cast("string"))),
                1,
                12,
            ),
            16,
            10,
        ).cast("long")

    return spark.range(n_rows).select(
        F.col("id").alias("event_id"),
        (h("u") % users).alias("user_id"),
        (h("t") % span_us).alias("t_us"),
        (F.col("id") % 2 == 0).alias("is_click"),
    )


def bench_temporal_10x(spark, timings, shuffle_b, input_b) -> None:
    """1x/10x stress pair for the temporal-join family — the last
    operator family without measured scaling evidence (asof/range claim
    one-shuffle-sweep / bin-equi-join shapes in SCALE.md). Generated
    event streams at 100k and 1M rows with FIXED density: users and the
    covered time span both scale 10x (the "more days, more users" model
    — fixed-span growth would grow range-join OUTPUT quadratically,
    which is a property of the question, not the plan). Workloads:
    (a) backward as-of join of the click half against the deduped
    purchase half — one union exchange on user_id, output = clicks, so
    wall and shuffle should scale ~linearly; (b) binned range join of
    purchases into 1-hour windows opened by every ~50th event —
    bin_width = window length, so each interval explodes to <= 2 bins
    and shuffle stays ~linear at fixed density (the no-cross-product
    claim under load)."""
    from hadoop_0_20_2_ljx_spark.extensions import temporal

    def gen(n_rows: int):
        return temporal_event_stream(spark, n_rows)

    # warm codegen on a tiny stream (the 1x/10x RATIO is the point)
    warm = gen(2_000).localCheckpoint()
    temporal.asof_join(
        warm.where("is_click").select("event_id", "user_id", "t_us"),
        warm.where(~F.col("is_click"))
        .groupBy("user_id", "t_us")
        .agg(F.count(F.lit(1)).cast("double").alias("pval")),
        on=["user_id"], left_ts="t_us", right_ts="t_us", value_cols=["pval"],
    ).agg(F.count("pval")).first()

    # the asof aggregate must CONSUME the matched values: a bare count()
    # lets Catalyst prune the whole window sweep (the markers feed no
    # output column) and the "asof" row would time a filter
    for label, n in (("asof_gen_1x", 100_000), ("asof_10x", 1_000_000)):
        ev = gen(n).localCheckpoint()
        clicks = ev.where("is_click").select("event_id", "user_id", "t_us")
        purchases = (
            ev.where(~F.col("is_click"))
            .groupBy("user_id", "t_us")
            .agg(F.count(F.lit(1)).cast("double").alias("pval"))
        )
        sw0, ib0 = _stage_bytes(spark)
        t = time.time()
        row = (
            temporal.asof_join(
                clicks, purchases, on=["user_id"], left_ts="t_us",
                right_ts="t_us", value_cols=["pval"],
            )
            .agg(
                F.count(F.lit(1)).alias("n_out"),
                F.count("pval").alias("n_matched"),
            )
            .first()
        )
        timings[label] = time.time() - t
        sw1, ib1 = _stage_bytes(spark)
        shuffle_b[label] = sw1 - sw0
        input_b[label] = ib1 - ib0
        assert row["n_out"] == n // 2, f"{label}: asof must keep every click"
        # ~20 purchases/user: all but the earliest-click sliver match
        assert row["n_matched"] > n // 4, f"{label}: {row['n_matched']} matched"

    # shuffle-join regime for the range pair, as in bench_pagerank_10x /
    # bench_graph_10x: the interval side broadcasts at these sizes but is
    # corpus-sized at 100 TB
    HOUR_US = 3_600_000_000
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for label, n in (("range_gen_1x", 100_000), ("range_10x", 1_000_000)):
            ev = gen(n).localCheckpoint()
            points = ev.where(~F.col("is_click")).select("event_id", "t_us")
            intervals = ev.where(F.col("event_id") % 50 == 0).select(
                F.col("event_id").alias("win_id"),
                F.col("t_us").alias("w_s"),
                (F.col("t_us") + HOUR_US).alias("w_e"),
            )
            sw0, ib0 = _stage_bytes(spark)
            t = time.time()
            n_pairs = temporal.range_join_binned(
                points, intervals, "t_us", "w_s", "w_e", bin_width=HOUR_US
            ).count()
            timings[label] = time.time() - t
            sw1, ib1 = _stage_bytes(spark)
            shuffle_b[label] = sw1 - sw0
            input_b[label] = ib1 - ib0
            # fixed density: ~n/100 windows x ~1800 in-window points
            assert n_pairs > n * 10, f"{label}: suspiciously few pairs ({n_pairs})"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)


def bench_source_sim_cap(spark, timings, shuffle_b, input_b) -> None:
    """max_shingle_freq measured in its WIN regime (r7 verdict task 5 —
    the r7 non-result stands on fixture text, which shares no boilerplate
    across sources; this synthesizes the regime the knob exists for).
    Corpus: 1,000 sources x 4 docs; every doc carries the SAME
    1,000-token template block (~1k distinct shingles each present in
    all 1,000 sources — the exact side's quadratic driver: ~1k shingles
    x 10^6 group-pairs ≈ 10^9 intersection-join rows) plus 8 doc-unique
    md5 tokens (group-frequency 1 — the discrimination signal). Rows:
    `source_sim_uncapped` vs `source_sim_cap100` (max_shingle_freq=100 —
    boilerplate shingles leave the intersection JOIN, unique ones stay).
    Materialization is localCheckpoint, NOT count(): inter enters the
    final plan as a unique-key LEFT join, which Catalyst correctly
    eliminates under count()'s column pruning — a count-timed "bench"
    would skip the very stage being measured. The contract assert
    re-proves the tests/test_dedup_cap.py property at bench scale,
    distributed (no row collect): same 499,500 pairs, est_bp
    bit-identical (signatures never see the cap), capped jaccard_bp <=
    uncapped everywhere."""
    from hadoop_0_20_2_ljx_spark.extensions import dedup

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
                F.md5(
                    F.concat_ws(
                        "u", F.col("id").cast("string"), i.cast("string")
                    )
                ),
                1,
                10,
            ),
        ),
        " ",
    )
    docs = spark.range(4_000).select(
        F.concat(F.lit("src"), F.pmod(F.col("id"), F.lit(1000)).cast("string")).alias(
            "source"
        ),
        F.concat_ws(" ", bp_block, uniq).alias("text"),
    )
    results = {}
    for label, cap in (("source_sim_uncapped", None), ("source_sim_cap100", 100)):
        sw0, ib0 = _stage_bytes(spark)
        t = time.time()
        res = dedup.group_similarity_matrix(
            docs, "source", "text", num_hashes=16, shingle_k=3, max_shingle_freq=cap
        )
        res = res.localCheckpoint()  # materialize inside the timed window
        timings[label] = time.time() - t
        sw1, ib1 = _stage_bytes(spark)
        shuffle_b[label] = sw1 - sw0
        input_b[label] = ib1 - ib0
        results[label] = res
    unc, cap = results["source_sim_uncapped"], results["source_sim_cap100"]
    joined = unc.select(
        "source_a",
        "source_b",
        F.col("est_bp").alias("e_u"),
        F.col("jaccard_bp").alias("j_u"),
    ).join(
        cap.select(
            "source_a",
            "source_b",
            F.col("est_bp").alias("e_c"),
            F.col("jaccard_bp").alias("j_c"),
        ),
        ["source_a", "source_b"],
        "full_outer",
    )
    bad = joined.filter(
        F.col("e_u").isNull()
        | F.col("e_c").isNull()
        | (F.col("e_u") != F.col("e_c"))
        | (F.col("j_c") > F.col("j_u"))
    ).count()
    n_pairs = unc.count()
    assert bad == 0 and n_pairs == 499_500, f"cap contract violated: {bad}/{n_pairs}"


def bench_window_hotkey(spark, timings, shuffle_b, input_b) -> None:
    """Window hot-key taxonomy pair (r13, SCALE.md row): per-key running
    sum where one key owns 70% of 2M rows. The DIRECT keyed window pushes
    the hot key's 1.4M rows through ONE task's window sorter; the
    decomposed form (skew.chunked_running_sum) spreads them over 256
    (key, chunk) windows + an O(keys x chunks) offset table. The claim is
    value equality + the per-plan byte shape, tracked every round; walls
    are single-shot like the other stress pairs (ratio claims). The
    consuming aggregate touches u/t/rs so Catalyst cannot prune the
    payload out of the exchanges (the r12 probe lesson)."""
    from pyspark.sql.window import Window

    from hadoop_0_20_2_ljx_spark.operators import skew

    n = 2_000_000
    fact = spark.range(n).select(
        F.when(F.pmod("id", F.lit(10)) < 7, F.lit(0))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(1000)) + 1)
        .alias("u"),
        F.col("id").alias("t"),
        F.pmod("id", F.lit(97)).alias("v"),
    ).localCheckpoint()
    direct = fact.withColumn(
        "rs",
        F.sum("v").over(
            Window.partitionBy("u")
            .orderBy("t")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    chunked = skew.chunked_running_sum(
        fact, "u", [F.col("t")], "v", F.expr(f"t div {n // 256}"), "rs"
    )
    results = {}
    for label, df in (
        ("window_hotkey_direct", direct),
        ("window_hotkey_chunked", chunked),
    ):
        sw0, ib0 = _stage_bytes(spark)
        t0 = time.time()
        results[label] = tuple(
            df.agg(
                F.count(F.lit(1)),
                F.sum("rs"),
                F.sum(F.xxhash64("u", "t", "rs").cast("decimal(38,0)")),
            ).first()
        )
        timings[label] = time.time() - t0
        sw1, ib1 = _stage_bytes(spark)
        shuffle_b[label], input_b[label] = sw1 - sw0, ib1 - ib0
    assert results["window_hotkey_direct"] == results["window_hotkey_chunked"], results


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


def main() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # UI on so the REST stage metrics (shuffle/input bytes) are readable.
    spark = get_spark(
        app_name="ljx-bench",
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
    sf = float(os.path.basename(SF_DIR.rstrip("/")).replace("sf", "") or 0.1)

    registry_workloads = {
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

    # Warm the JVM/codegen AND the Python/Arrow worker pool once so
    # timings measure the plans, not process startup (both amortize to
    # zero on a long-lived cluster).
    spark.read.parquet(f"{SF_DIR}/region.parquet").count()
    F_pd = F.pandas_udf(lambda s: s, "long")
    spark.range(int(cpus) * 4, numPartitions=int(cpus)).select(
        F_pd(F.col("id"))
    ).write.format("noop").mode("overwrite").save()
    # Per-plan warmup at the smallest sf: compiles each workload's
    # whole-stage-codegen classes once, so the sf0.1 timings measure the
    # plan in steady state (codegen compile is a one-time cost on a real
    # cluster, but 1-3 s of the measurement at local bench scale).
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir):
        for qname in registry_workloads.values():
            try:
                _force(REGISTRY[qname].spark(spark, warm_dir))
            except Exception:
                pass

    timings: dict[str, float] = {}
    shuffle_b: dict[str, int] = {}
    input_b: dict[str, int] = {}
    wall_runs: dict[str, list[float]] = {}
    steal_pct: dict[str, float] = {}
    steal_bench0 = _steal_ticks()
    t0 = time.time()

    def timed_runs(label: str, fn, n_runs: int = 3) -> None:
        # median-of-3 graded walls (r10 verdict task 3): the r10 session
        # measured 186-280 s same-HEAD spread across three full runs with
        # bit-identical shuffle bytes and DISJOINT >±25% spike sets —
        # single-shot (and best-of-2) walls on this shared host are
        # noise-bound. Every committed wall is now the MEDIAN of three
        # back-to-back runs, with the per-run walls (wall_runs) and the
        # /proc/stat steal% over the three-run window (cpu_steal_pct)
        # recorded beside it so the delta note's host-noise diagnosis is
        # reproducible from the artifact alone. The >±25% delta watch
        # rule keys to this median. Bytes come from the first run only
        # (they are deterministic — bit-identical every run).
        st0 = _steal_ticks()
        sw0, ib0 = _stage_bytes(spark)
        t = time.time()
        fn()
        runs = [time.time() - t]
        sw1, ib1 = _stage_bytes(spark)
        shuffle_b[label], input_b[label] = sw1 - sw0, ib1 - ib0
        for _ in range(n_runs - 1):
            t = time.time()
            fn()
            runs.append(time.time() - t)
        steal_pct[label] = _steal_pct(st0, _steal_ticks())
        wall_runs[label] = [round(r, 3) for r in runs]
        timings[label] = statistics.median(runs)

    timed_runs("terasort_1m", lambda: bench_terasort(spark))

    # 10x generated-data stress row: the parquet fixtures stop at sf0.1
    # (~17 MB lineitem), so range-partitioning/spill behavior beyond that
    # was unmeasured. 10^7 100-byte rows ~= 1 GB through the full
    # TeraGen -> total-order sort -> TeraValidate path; linear scaling
    # from the ~1.6 s 1m row predicts ~16 s, and the BASELINE envelope
    # scaled the same way budgets ~17 s.
    timed_runs("terasort_10m", lambda: bench_terasort(spark, n=10_000_000))

    for label, qname in registry_workloads.items():
        timed_runs(label, lambda qn=qname: _force(REGISTRY[qn].spark(spark, SF_DIR)))

    # The 1x/10x stress pairs stay single-shot: their claims are RATIOS
    # (both rungs ride the same ambient noise) anchored on deterministic
    # shuffle bytes, not absolute walls. Each section records its own
    # steal% window so a noisy section is identifiable in the artifact.
    for stress_fn in (
        bench_diff_sparse,
        bench_skew_join,
        bench_skew_groupby,
        bench_minhash_10x,
        bench_pagerank_10x,
        bench_ivfpq_10x,
        bench_text_longdoc,
        bench_simhash_longdoc,
        bench_graph_10x,
        bench_temporal_10x,
        bench_source_sim_cap,
        bench_window_hotkey,
    ):
        st0 = _steal_ticks()
        stress_fn(spark, timings, shuffle_b, input_b)
        steal_pct["section:" + stress_fn.__name__] = _steal_pct(st0, _steal_ticks())
    pagerank_phases = bench_pagerank_phases(spark)

    # Durable-pin posture cost: re-run bm25 (pin()-materialized df/avgdl
    # side tables) with spark.ljx.pin.mode=durable — reliable checkpoint
    # (lineage truncated, blocks in the checkpoint dir), the
    # preemptible-executor production mode. The delta vs the plain bm25
    # row above is the measured local overhead SCALE.md cites.
    from hadoop_0_20_2_ljx_spark.pinning import PIN_MODE_CONF

    spark.conf.set(PIN_MODE_CONF, "durable")
    try:
        timed_runs(
            "bm25_durable_pin",
            lambda: _force(REGISTRY["q_text_bm25"].spark(spark, SF_DIR)),
        )
    finally:
        spark.conf.unset(PIN_MODE_CONF)

    # headline = sum of per-workload timings (median-of-3 each for the
    # registry/anchor rows; single-shot for the byte-anchored stress
    # pairs), so the graded number is the workloads' cost, not the
    # triple-run wall time; wall_total records the actual elapsed.
    total = sum(timings.values())
    full = {
        "metric": "headline_total",
        "value": round(total, 2),
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in timings.items()},
        # clamped: a negative delta can only mean stage-store eviction
        # (metric artifact), never negative bytes
        "shuffle_write_bytes": {k: max(0, v) for k, v in shuffle_b.items()},
        "input_bytes": {k: max(0, v) for k, v in input_b.items()},
        # noise-diagnosis fields (r10 verdict task 3): per-run walls for
        # every median-of-3 row, the (max-min)/median spread, and the
        # /proc/stat steal% per three-run window / per stress section /
        # whole bench — the delta note cites these instead of re-running.
        "wall_runs": wall_runs,
        "wall_spread_pct": {
            k: round(100.0 * (max(v) - min(v)) / max(statistics.median(v), 1e-9), 1)
            for k, v in wall_runs.items()
        },
        "cpu_steal_pct": steal_pct,
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
    # The driver records only the LAST ~2000 chars of output; the full
    # JSON above has outgrown that (r3's artifact lost headline_total and
    # the first workloads' timings). Emit a compact summary as the FINAL
    # line so the tail capture always holds the graded numbers; the full
    # JSON stays above for local use.
    #
    # r13 VERDICT task 2: the driver's per-query PERF table reads THIS
    # line's `queries` dict — while it named only the four sub-second
    # anchor rows, no optimized path was ever visible to PERF. Emit
    # EVERY per-workload median (additions only: the four anchor entries
    # keep their exact names and values; headline metric unchanged).
    # Compact separators keep the line inside the ~2000-char tail
    # capture (89 workloads ~= 1910 chars); if a future workload pushes
    # past the guard, the 1-decimal fallback shaves ~1 char per entry
    # before the hard assert fails the bench LOUDLY rather than letting
    # the driver tail-truncate the line into unparseable JSON.
    summary = {
        "metric": "headline_total",
        "value": round(total, 2),
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in timings.items()},
        "n_workloads": len(timings),
        "wall_total": round(time.time() - t0, 2),
        "sf": sf,
    }
    line = json.dumps(summary, separators=(",", ":"))
    if len(line) > 1950:
        summary["queries"] = {k: round(v, 1) for k, v in timings.items()}
        line = json.dumps(summary, separators=(",", ":"))
    assert len(line) <= 1950, f"summary line too long ({len(line)} chars)"
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
