"""Decade-ladder scale probe: run headline generated-data workloads one
decade PAST their per-round bench sizes and print the wall/shuffle
ladder as one JSON line. One-off evidence (too slow for the per-round
bench); results are recorded in SCALE.md with this command:

    python tools/scale_probe.py                  # default ladders, ~15 min
    python tools/scale_probe.py asof triangles   # just the named ones

The claim under test: one decade of growth costs ~one decade of wall
and ~one decade of shuffle (no superlinear knee hiding just past the
bench sizes).

Ladders from bench.STRESS: every variant there with ladder rungs is a
ladder here under its variant name — terasort, minhash, triangles,
kcore, pagerank and asof — with the same generator, warm pass, confs and
per-rung checks as its bench rungs, the generated source always
localCheckpointed outside the timer. ``<name>_xl`` adds the opt-in
fourth rung (alone, or with ``<name>`` for all four); pagerank also
records its per-phase walls at every rung.

Ladders with their own logic here:
  - clusters 100k -> 1M -> 10M edges (clusters_xl: 100M): connected
    components is the one iterative family whose ROUND COUNT grows with
    input — component diameter — so the rounds x per-round-pin
    interaction is the risk the ladder exists to test. Graph = half long
    chains (10 chains whose length grows 10x per rung, so diameter grows
    a decade per decade and rounds must grow ~log) + half hub-heavy
    random edges (the minhash candidate-graph shape), node id spaces
    disjoint. Per rung: exact chain membership asserted row-by-row,
    hub giant-component coverage >= 95%, full node coverage, the
    convergence round count recorded and asserted under the cap, and
    an order-independent membership checksum recorded.
  - skew 100k -> 1M -> 10M fact rows (skew_xl: 100M): fixed 70% hot-key
    share, dim fixed at 1001 keys; per rung BOTH plans run with
    broadcast AND AQE off (AQE skew-split is the first defense in
    production — session.py enables it — but it would split the plain
    hot partition here and mask exactly the curve this ladder
    measures) and shuffle partitions scaled ~rows/31k, the way a real
    cluster sizes reducers. Salt buckets scale ~8x partitions so the
    hot key can occupy every reducer. Metric: MAX-TASK shuffle-read
    bytes (UI REST taskSummary at quantile 1.0) — the straggler that
    decides wall-clock at 100 TB. Claim: the plain join's hot task
    grows ~10x/decade no matter how many reducers exist (the hot key
    is ONE shuffle partition), while the salted plan's max task stays
    ~flat. Value parity plain==salted asserted at every rung.
  - skew_aqe (opt-in modifier for skew/skew_xl): runs the SAME plain
    join a third time per rung with AQE skew-split active (runtime
    broadcast still off). AQE's skew detection reads map output
    statistics, and past 2000 reduce partitions
    (spark.shuffle.minNumPartitionsToHighlyCompress) those are
    HighlyCompressed: per-block sizes under accurateBlockThreshold
    (100 MB) are AVERAGED, so when each map contributes ~hot/maps MB a
    multi-GB hot partition is INVISIBLE to AQE and stays unsplit. Below
    2000 reducers the sizes are exact and AQE splits once the hot
    partition passes its 256 MB threshold. Both regimes are asserted;
    the mitigations are recorded in SCALE.md.
  - winsum 1M -> 10M rows (winsum_xl: 100M): the WINDOW analog of the
    skew ladder — 70%-hot-key running sum, direct keyed window vs the
    decomposed skew.chunked_running_sum, same per-MAX-TASK metric.
    Direct's hot key is ONE window partition (AQE skew split is
    join-only and cannot reach it); chunked's max task tracks
    rows/partitions. AQE off, as for skew. Value parity per rung.
  - winsum_width: the chunk-WIDTH law of the decomposed window at 10M
    rows (a U-shaped max-task curve, value parity at every width).
  - skew_aqe_engine (run it ALONE): builds the ENGINE session through
    hadoop_0_20_2_ljx_spark.session.get_spark instead of this probe's
    bare builder (accurateBlockSkewedFactor is a static core conf that
    must land at context creation), re-runs the blindness scenario (30M
    rows, 3200 reducers) and asserts the engine default restores the
    AQE skew split, so a session.py refactor that drops the mitigation
    fails an assert, not a grep.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402

# the ladders with their own logic below
OWN = {
    "clusters", "clusters_xl", "skew", "skew_xl", "skew_aqe", "skew_aqe_engine",
    "winsum", "winsum_xl", "winsum_width",
}


def ladders() -> tuple[set[str], set[str]]:
    """(every ladder name the probe accepts, the ladders run by default)."""
    folded = {
        name
        for row in bench.STRESS.values()
        for name, v in row["variants"].items()
        if "ladder" in v
    }
    return folded | {f"{name}_xl" for name in folded} | OWN, folded | {
        "clusters",
        "skew",
    }


def _max_task_shuffle_read_mb(spark, prev_stage_ids: set[int]) -> float:
    """Max per-task shuffle-read bytes over stages completed since
    prev_stage_ids — UI REST taskSummary at quantile 1.0. The straggler
    task is the number that decides wall-clock at 100 TB; stage totals
    can look identical while one task carries 70%."""
    mx = 0.0
    skipped: list[int] = []
    for s in bench.read_stages(spark):
        sid = s["stageId"]
        if sid in prev_stage_ids or s.get("shuffleReadBytes", 0) == 0:
            continue
        try:
            summ = bench.read_stages(spark, f"/{sid}/0/taskSummary?quantiles=1.0")
        except Exception:
            # stage evicted from the UI store between calls — if the HOT
            # stage is the one skipped, the returned max silently reads
            # low and the growth/AQE asserts fire with misleading
            # messages; refuse to measure instead
            skipped.append(sid)
            continue
        mx = max(mx, summ["shuffleReadMetrics"]["readBytes"][0])
    if skipped:
        raise RuntimeError(
            f"max-task measurement gap: {len(skipped)} shuffle-read "
            f"stage(s) {skipped} could not be summarized (evicted from "
            f"the UI store) — raise spark.ui.retainedStages"
        )
    return round(mx / 1e6, 2)


def _completed_stage_ids(spark) -> set[int]:
    return {s["stageId"] for s in bench.read_stages(spark)}


def _rung(m: dict, **extra) -> dict:
    return {
        "wall_s": round(m["walls"][0], 2),
        "shuffle_mb": round(m["shuffle_b"] / 1e6, 1),
        **extra,
    }


def main() -> int:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    known, default = ladders()
    pick = set(sys.argv[1:]) or default
    unknown = pick - known
    if unknown:
        print(f"unknown ladder(s): {sorted(unknown)}", file=sys.stderr)
        return 2

    if "skew_aqe_engine" in pick:
        # the conf-boundary variant runs in the ENGINE session — the whole
        # point is asserting get_spark's own static-conf defaults
        # (accurateBlockSkewedFactor lands at context creation, so this
        # must be the process's first/only session)
        from hadoop_0_20_2_ljx_spark.session import get_spark

        spark = get_spark(
            "scale-probe-engine",
            extra_conf={
                "spark.ui.enabled": "true",  # the probe reads REST metrics
                "spark.ui.retainedStages": "100000",
                "spark.driver.memory": "48g",
            },
        )
    else:
        spark = (
            SparkSession.builder.master("local[32]")
            .appName("scale-probe")
            .config("spark.sql.shuffle.partitions", "64")
            .config("spark.driver.memory", "48g")
            .config("spark.ui.retainedStages", "100000")
            .getOrCreate()
        )
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, dict] = {}

    for row in bench.STRESS.values():
        plan = {
            name: (v["ladder"] if name in pick else ())
            + (v["xl"] if f"{name}_xl" in pick else ())
            for name, v in row["variants"].items()
            if "ladder" in v
        }
        plan = {name: rungs for name, rungs in plan.items() if rungs}
        if not plan:
            continue
        # every ladder pins its source outside the timer, including
        # minhash, whose bench rung times generation too
        ms = bench.run_row(spark, {**row, "pin": True}, plan)
        for name, rungs in plan.items():
            report = row["variants"][name].get("report", lambda r: {})
            for label, _ in rungs:
                out[label] = _rung(ms[label], **report(ms[label]["result"]))

    from hadoop_0_20_2_ljx_spark.extensions.dedup import connected_components
    from hadoop_0_20_2_ljx_spark.operators import skew

    def cc_edges(n_edges: int):
        """Half long chains + half hub-heavy random edges, disjoint id
        spaces. Chains: 10 of them, length n/20 edges each — component
        DIAMETER grows a full decade per rung, so the star rounds must
        grow ~log (the property pagerank's fixed 3 rounds and kcore's
        bounded peel never exercise). Hubs: the triangles/kcore
        generator offset past the chain ids — a realistic near-dup
        candidate graph with a giant component.
        Returns (edges, chain_len_edges, chain_id_span)."""
        n_chain = n_edges // 2
        ch_len = n_chain // 10  # edges per chain; nodes per chain = ch_len+1
        ch_nodes = ch_len + 1
        u = (F.col("id") / ch_len).cast("long") * ch_nodes + F.pmod(
            F.col("id"), F.lit(ch_len)
        )
        chains = spark.range(n_chain).select(u.alias("u"), (u + 1).alias("v"))
        ch_span = 10 * ch_nodes
        hubs = bench.hub_edges(spark, n_edges - n_chain, ("u", "v"), ch_span)
        return chains.union(hubs), ch_len, ch_span

    if pick & {"clusters", "clusters_xl"}:
        # warm the CC codepath off the ladder
        we, _, _ = cc_edges(10_000)
        connected_components(we.localCheckpoint(), "u", "v").count()
    cl_rungs = (100_000, 1_000_000, 10_000_000) if "clusters" in pick else ()
    if "clusters_xl" in pick:
        cl_rungs = cl_rungs + (100_000_000,)
    for n in cl_rungs:
        e, ch_len, ch_span = cc_edges(n)
        e = e.localCheckpoint()
        # ground truth computable from the edge set: CC must cover
        # exactly the distinct non-self-loop endpoints (self-loops are
        # filtered by the operator's contract; O(1) rows to the driver)
        real = e.filter(F.col("u") != F.col("v"))
        n_nodes = (
            real.select(F.col("u").alias("n"))
            .union(real.select(F.col("v").alias("n")))
            .distinct()
            .count()
        )
        st: dict[str, int] = {}

        def run_cc():
            cc = connected_components(e, "u", "v", max_iter=40, stats=st)
            cc = cc.localCheckpoint()
            return cc, cc.count()

        m = bench.measure(spark, run_cc)
        cc, n_assigned = m["result"]
        rounds = st["rounds"]
        assert rounds < 40, f"clusters_{n}: hit the round cap ({rounds})"
        assert n_assigned == n_nodes, f"clusters_{n}: {n_assigned} != {n_nodes} nodes"
        # exact chain membership, row-by-row: chain node x (ids below
        # ch_span) belongs to component min(chain) = x - x mod ch_nodes
        ch_nodes = ch_len + 1
        chain = cc.filter(F.col("node") < ch_span)
        bad = chain.filter(
            F.col("comp") != F.col("node") - F.pmod(F.col("node"), F.lit(ch_nodes))
        ).count()
        assert bad == 0, f"clusters_{n}: {bad} chain nodes mis-clustered"
        assert chain.count() == 10 * ch_nodes, f"clusters_{n}: chain node count"
        # hub half: one giant component w.h.p. (avg degree ~20)
        hub_row = (
            cc.filter(F.col("node") >= ch_span)
            .groupBy("comp")
            .count()
            .agg(
                F.count(F.lit(1)).alias("n_comp"),
                F.max("count").alias("giant"),
                F.sum("count").alias("total"),
            )
            .first()
        )
        assert hub_row["giant"] * 100 >= hub_row["total"] * 95, (
            f"clusters_{n}: giant component {hub_row['giant']}/{hub_row['total']}"
        )
        # order-independent membership checksum, recorded for rerun compare
        chk = cc.agg(
            F.sum(F.xxhash64("node", "comp").cast("decimal(38,0)")).alias("c")
        ).first()["c"]
        out[f"clusters_{n // 1000}k"] = _rung(
            m,
            rounds=rounds,
            n_components=int(hub_row["n_comp"]) + 10,
            membership_checksum=str(chk),
        )

    # what bench.consume reads of a hot-key join and of a running sum
    join_cols = (F.length("payload"), "k", "payload", "attr")
    window_cols = ("rs", "u", "t", "rs")

    def timed_max_task(df, total, *hashed) -> tuple[dict, float]:
        """measure() of bench.consume over df, and the max task shuffle
        read of the stages it ran."""
        ids0 = _completed_stage_ids(spark)
        m = bench.measure(spark, lambda: bench.consume(df, total, *hashed))
        return m, _max_task_shuffle_read_mb(spark, ids0)

    if pick & {"skew", "skew_xl"}:
        # Fixed regime for the whole ladder: no broadcast (the dim is
        # broadcast-ineligible in the 100 TB scenario this models) and no
        # AQE (its skew-split would break the plain hot partition apart
        # at the top rung and its coalescing would merge the salted
        # plan's small partitions — both mask the curve under test; in
        # production AQE is the FIRST defense, session.py enables it).
        old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
        old_part = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        dim = bench.hot_join_dim(spark).localCheckpoint()
        salted_flat: list[float] = []
        sk_rungs = [100_000, 1_000_000, 10_000_000] if "skew" in pick else []
        if "skew_xl" in pick:
            sk_rungs = sk_rungs + [100_000_000]
        try:
            for n in sk_rungs:
                # reducers sized the way a cluster sizes them: ~31k rows
                # per task; salt buckets 8x that so the hot key can land
                # on every reducer
                n_part = max(4, n // 31_250)
                buckets = 8 * n_part
                spark.conf.set("spark.sql.shuffle.partitions", str(n_part))
                fact = bench.hot_join_fact(spark, n).localCheckpoint()
                counts = {}
                variants = [
                    ("plain", fact.join(dim, "k")),
                    ("salted", skew.salted_join(fact, dim, "k", buckets=buckets)),
                ]
                if "skew_aqe" in pick:
                    # the production first-defense path, measured too:
                    # the SAME plain join with AQE's skew-split active
                    # (runtime broadcast still off — the dim is
                    # broadcast-ineligible in the modeled regime).
                    # Expectation: below the 256 MB
                    # skewedPartitionThresholdInBytes the hot partition
                    # is NOT split (the 10M rung's ~238 MB rides just
                    # under it), above it AQE splits to ~advisory-sized
                    # chunks — the knob boundary salting does not have.
                    variants.append(("aqe", fact.join(dim, "k")))
                for label, df in variants:
                    if label == "aqe":
                        spark.conf.set("spark.sql.adaptive.enabled", "true")
                        spark.conf.set(
                            "spark.sql.adaptive.autoBroadcastJoinThreshold", "-1"
                        )
                    m, mx = timed_max_task(df, *join_cols)
                    counts[label] = m["result"]
                    out[f"skew_{label}_{n // 1000}k"] = _rung(
                        m,
                        max_task_shuffle_read_mb=mx,
                        n_reducers=n_part,
                        **({"buckets": buckets} if label == "salted" else {}),
                    )
                    if label == "salted":
                        salted_flat.append(mx)
                    if label == "aqe":
                        spark.conf.set("spark.sql.adaptive.enabled", "false")
                        plain_mx = out[f"skew_plain_{n // 1000}k"][
                            "max_task_shuffle_read_mb"
                        ]
                        if plain_mx > 300 and n_part <= 2000:
                            # hot partition exceeds the 256 MB skew
                            # threshold and map statuses carry exact
                            # per-block sizes: AQE must have split it
                            assert mx < plain_mx / 2, (
                                f"skew_aqe_{n}: AQE did not split "
                                f"({mx} vs plain {plain_mx})"
                            )
                        elif plain_mx > 300:
                            # the r12 finding, pinned: past 2000 reduce
                            # partitions (minNumPartitionsToHighlyCompress)
                            # map statuses are HighlyCompressed — blocks
                            # under accurateBlockThreshold (100 MB) are
                            # AVERAGED, so each map's ~hot/maps MB
                            # contribution is invisible and AQE cannot
                            # see a multi-GB hot partition. Measured
                            # fix (separate sessions, static confs):
                            # accurateBlockSkewedFactor=5.0 OR
                            # accurateBlockThreshold=8m both restore
                            # the split (722.5 -> 44.6 MB max task at
                            # 30M rows x 3200 reducers). If this assert
                            # ever fails, a Spark upgrade changed the
                            # map-status regime — update SCALE.md.
                            assert mx > plain_mx / 2, (
                                f"skew_aqe_{n}: AQE split under compressed "
                                f"map statuses ({mx} vs plain {plain_mx}) — "
                                f"regime changed, update the SCALE.md note"
                            )
                        assert counts["aqe"] == counts["plain"], counts
                assert counts["plain"] == counts["salted"], counts
            # the ladder's claim, asserted from the recorded metric:
            # plain's hot task ~10x/decade, salted's max task ~flat
            # (across however many rungs this invocation ran)
            p = [out[f"skew_plain_{n // 1000}k"]["max_task_shuffle_read_mb"]
                 for n in sk_rungs]
            for lo, hi in zip(p, p[1:]):
                assert hi > 5 * lo, f"plain hot task not growing: {p}"
            assert max(salted_flat) <= 3 * max(salted_flat[0], 0.01), (
                f"salted max task not flat: {salted_flat}"
            )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
            spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
            spark.conf.set("spark.sql.shuffle.partitions", old_part)

    if pick & {"winsum", "winsum_xl"}:
        # Same per-MAX-TASK metric as the skew ladder: the direct plan's
        # hot key is ONE window partition no matter how many reducers
        # exist (its task's shuffle-read grows 10x/decade, and past
        # executor memory it becomes the pressure-probe window rung's
        # spill-and-exact posture), while the chunked plan's max task
        # tracks rows/partitions (~flat). AQE is OFF for the ladder: its
        # partition COALESCING deliberately packs the chunked plan's many
        # small partitions toward the 64 MB advisory size (measured: a
        # 49 MB packed task at the 100M rung — healthy behavior that is
        # not a hot partition), which masks the per-task layout curve
        # under test; AQE's skew split could not help the DIRECT variant
        # anyway (it is join-only — a window partition is unsplittable).
        # winsum_xl's 100M rung sorts a 70M-row partition in one task —
        # minutes + GB of natural spill.
        old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        old_part = spark.conf.get("spark.sql.shuffle.partitions")
        ws_rungs = [1_000_000, 10_000_000] if "winsum" in pick else []
        if "winsum_xl" in pick:
            ws_rungs = ws_rungs + [100_000_000]
        direct_tasks: list[float] = []
        chunked_tasks: list[float] = []
        try:
            for n in ws_rungs:
                n_part = max(4, n // 31_250)
                spark.conf.set("spark.sql.shuffle.partitions", str(n_part))
                fact = bench.hot_window_fact(spark, n).localCheckpoint()
                width = max(1, n // (8 * n_part))  # ~8 chunks per reducer
                chunked = skew.chunked_running_sum(
                    fact, "u", [F.col("t")], "v", F.expr(f"t div {width}"), "rs"
                )
                vals = {}
                for label, df in (
                    ("direct", bench.direct_running_sum(fact)),
                    ("chunked", chunked),
                ):
                    m, mx = timed_max_task(df, *window_cols)
                    vals[label] = m["result"]
                    out[f"winsum_{label}_{n // 1000}k"] = _rung(
                        m, max_task_shuffle_read_mb=mx, n_reducers=n_part
                    )
                    (direct_tasks if label == "direct" else chunked_tasks).append(mx)
                assert vals["direct"] == vals["chunked"], vals
            for lo, hi in zip(direct_tasks, direct_tasks[1:]):
                assert hi > 5 * lo, (
                    f"direct hot window task not growing: {direct_tasks}"
                )
            assert max(chunked_tasks) <= 3 * max(chunked_tasks[0], 0.01), (
                f"chunked max task not flat: {chunked_tasks}"
            )
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
            spark.conf.set("spark.sql.shuffle.partitions", old_part)

    if "winsum_width" in pick:
        # Chunk-WIDTH tuning law for the decomposed hot-key window:
        # correctness is width-invariant (pinned in tests/test_skew.py at
        # widths 1/37/1e9), but the max-task curve is U-shaped. Too-WIDE
        # chunks under-spread the hot key (the intra-chunk window
        # re-concentrates: max task ~ 0.7*width * row_bytes); too-NARROW
        # chunks turn the OFFSET window into the hot partition
        # (partitionBy(key) orderBy(chunk) puts all of a key's ~n/width
        # offset rows in ONE task). The ~8-chunks-per-reducer default
        # sits on the wide plateau between the cliffs: max_task ~
        # max(0.7*width*row_B, (n/width)*offset_B), minimized near
        # width* = sqrt(n*offset_B/(0.7*row_B)) — but the flat bottom
        # spans ~3 decades, which is why the knob is safe to set by rule
        # of thumb. Value parity vs the DIRECT window asserted at every
        # width. Same AQE-off rationale as winsum.
        old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        old_part = spark.conf.get("spark.sql.shuffle.partitions")
        n = 10_000_000
        n_part = max(4, n // 31_250)
        spark.conf.set("spark.sql.shuffle.partitions", str(n_part))
        try:
            fact = bench.hot_window_fact(spark, n).localCheckpoint()
            expected = bench.consume(bench.direct_running_sum(fact), *window_cols)
            default_w = max(1, n // (8 * n_part))
            widths = [n // 4, n // 64, default_w, 64, 4]
            curve: dict[int, float] = {}
            for w in widths:
                chunked = skew.chunked_running_sum(
                    fact, "u", [F.col("t")], "v", F.expr(f"t div {w}"), "rs"
                )
                m, mx = timed_max_task(chunked, *window_cols)
                assert m["result"] == expected, (w, m["result"], expected)
                curve[w] = mx
                out[f"winsum_width_{w}"] = _rung(
                    m,
                    max_task_shuffle_read_mb=mx,
                    chunks_per_key=n // w,
                    n_reducers=n_part,
                )
            # the U shape: both extremes concentrate >3x over the default
            assert curve[widths[0]] > 3 * curve[default_w], curve
            assert curve[4] > 3 * curve[default_w], curve
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
            spark.conf.set("spark.sql.shuffle.partitions", old_part)

    if "skew_aqe_engine" in pick:
        # The r12 AQE-blindness mitigation, asserted at the CONF BOUNDARY:
        # this run's session came from session.get_spark (see the builder
        # branch above), so the assert fails if a session.py refactor ever
        # drops the accurateBlockSkewedFactor default — the exact regime
        # where skew_aqe pins the bare session as BLIND (3200 reducers >
        # minNumPartitionsToHighlyCompress=2000, per-map hot contribution
        # under accurateBlockThreshold) must now SPLIT.
        factor = spark.sparkContext.getConf().get(
            "spark.shuffle.accurateBlockSkewedFactor", ""
        )
        assert factor == "5.0", (
            f"engine session does not carry accurateBlockSkewedFactor=5.0 "
            f"(got {factor!r}) — session.py lost the r12 mitigation"
        )
        assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
        old_part = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.shuffle.partitions", "3200")
        try:
            dim = bench.hot_join_dim(spark).localCheckpoint()
            fact = bench.hot_join_fact(spark, 30_000_000).localCheckpoint()
            counts = {}
            for label, aqe in (("plain", "false"), ("engine_aqe", "true")):
                spark.conf.set("spark.sql.adaptive.enabled", aqe)
                m, mx = timed_max_task(fact.join(dim, "k"), *join_cols)
                counts[label] = m["result"]
                out[f"skew_aqe_engine_{label}"] = {
                    "wall_s": round(m["walls"][0], 2),
                    "max_task_shuffle_read_mb": mx,
                    "n_reducers": 3200,
                }
            assert counts["plain"] == counts["engine_aqe"], counts
            plain_mx = out["skew_aqe_engine_plain"]["max_task_shuffle_read_mb"]
            aqe_mx = out["skew_aqe_engine_engine_aqe"]["max_task_shuffle_read_mb"]
            assert plain_mx > 300, (
                f"vacuous: hot partition only {plain_mx} MB — below AQE's "
                f"256 MB skew threshold, the split assert proves nothing"
            )
            assert aqe_mx < plain_mx / 2, (
                f"engine session did NOT split the hot partition at 3200 "
                f"reducers ({aqe_mx} vs plain {plain_mx} MB) — the "
                f"accurateBlockSkewedFactor mitigation is not effective"
            )
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")
            spark.conf.set("spark.sql.shuffle.partitions", old_part)
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))

    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
