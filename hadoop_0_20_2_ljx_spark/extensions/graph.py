"""Iterative link analysis (PageRank) in exact integer arithmetic.

No reference counterpart (nearest shape: chained iterative jobs via
mapred/jobcontrol/JobControl.java:141 — PageRank was THE canonical
hand-rolled Hadoop iteration); expressed Spark-first as one
join+aggregate round per iteration.

Determinism contract: ranks are kept as scaled BIGINTs and every
operation is integer (`div`), so the per-node inflow sum is
order-independent — bit-identical across partitionings, retries, and
engines (float PageRank is NOT: double addition is non-associative and
the shuffle order differs run to run). The DuckDB oracle replays the
same rounds as chained CTEs and hash-matches exactly.

Design for scale:
  - edges are distinct (src, dst) pairs, shuffled ONCE by src
    (repartition) and localCheckpoint-pinned; each round's
    join(ranks, on src) then reuses that partitioning on one side.
  - per round: one equi-join (ranks are (node, long) rows — narrow),
    one groupBy(dst) sum with map-side partials, one left join back to
    the node set. Lineage truncated per round (localCheckpoint), the
    same iterative pattern as dedup.connected_components.
  - dangling nodes follow the simplified model (their mass leaks);
    documented, deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from hadoop_0_20_2_ljx_spark.pinning import pin

PR_SCALE = 1_000_000_000  # rank 1.0 == 10^9


def pagerank_int(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping_pct: int = 85,
    phase_seconds: dict | None = None,
) -> DataFrame:
    """PageRank over distinct (src, dst) edges, `iterations` rounds of
    rank_v = (100-d)% * SCALE + d% * sum(rank_u div outdeg_u), all in
    scaled integers. Returns (node, rank) with rank a scaled BIGINT.

    `phase_seconds`, when given, is populated with wall-clock
    instrumentation: 'setup' (edge/node pins) and 'round_i' (each
    round's join+agg+pin job). Bench-only observability — zero effect
    on the result; it separates fixed per-round driver/job-submission
    overhead from data cost when a wall-time number drifts between runs
    with identical shuffle bytes."""
    import time as _time

    if not 0 <= damping_pct <= 100:
        raise ValueError("damping_pct must be in [0, 100]")
    if iterations < 0:
        raise ValueError("iterations must be >= 0")
    t0 = _time.time()
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    sc = edges.sparkSession.sparkContext
    e = e.repartition(sc.defaultParallelism, "src").transform(pin)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .transform(pin)
    )
    if phase_seconds is not None:
        phase_seconds["setup"] = _time.time() - t0
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    base = F.lit((100 - damping_pct) * PR_SCALE // 100).cast("long")
    ranks = nodes.select("node", F.lit(PR_SCALE).cast("long").alias("rank"))
    for _i in range(iterations):
        t_r = _time.time()
        shares = (
            e.join(ranks, e.src == ranks.node)
            .join(outdeg, "src")
            .select("dst", F.expr("rank div deg").cast("long").alias("share"))
        )
        inflow = shares.groupBy("dst").agg(F.sum("share").cast("long").alias("inflow"))
        ranks = (
            nodes.join(inflow, nodes.node == inflow.dst, "left")
            .select(
                "node",
                (
                    base
                    + F.expr(
                        f"({damping_pct} * coalesce(inflow, 0L)) div 100"
                    ).cast("long")
                ).alias("rank"),
            )
            .transform(pin)
        )
        if phase_seconds is not None:
            phase_seconds[f"round_{_i}"] = _time.time() - t_r
    return ranks


def triangle_counts(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle counts over the undirected simple graph of
    `edges` (self-loops dropped, duplicate/reverse edges collapsed).
    Returns (node, triangles) for every node in >= 1 triangle.

    Like PageRank above, the nearest reference shape is a hand-chained
    JobControl pipeline (mapred/jobcontrol/JobControl.java:141); here it
    is three declarative joins.

    Design for scale — degree orientation: each undirected edge is
    oriented from its (degree, id)-smaller endpoint to the larger, so a
    node emits wedges only among its HIGHER-ranked neighbors. Max
    oriented out-degree is O(sqrt(m)), bounding wedge count at O(m^1.5)
    total work — the standard bound — whereas id-ordering lets one
    high-degree hub generate O(deg^2) wedges. The triangle SET is
    orientation-independent (each triangle is counted exactly once under
    any total order), so the DuckDB oracle can replay with plain
    id-ordering and still hash-match. All three joins are equi-joins
    (wedge build on the oriented source, closure check on the (lo, hi)
    edge pair); no cross product anywhere.
    """
    # The canonical edge set feeds FOUR consumers (degree both sides,
    # orientation, closure check) and `oriented` two more; with lazy
    # lineage each consumer re-derives its whole subtree (the un-reused
    # duplicates compounded to 33 source scans in one plan). Materialize
    # both once — the same lineage-truncation discipline as pagerank
    # above; edge/degree tables are the algorithm's working set.
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .transform(pin)
    )
    deg = (
        e.select(F.col("a").alias("n")).unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .transform(pin)
    )
    # orient by (degree, id): lo -> hi
    da = deg.select(F.col("n").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("n").alias("b"), F.col("deg").alias("deg_b"))
    ranked = e.join(da, "a").join(db, "b")
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = ranked.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
    ).transform(pin)
    # wedges lo -> (hi1, hi2): both neighbors rank above lo; close with the
    # undirected edge {hi1, hi2} via its canonical (min, max) form
    e1 = oriented.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
    e2 = oriented.select(F.col("lo").alias("u"), F.col("hi").alias("w"))
    # keep each unordered neighbor pair once (by id, so it aligns with the
    # canonical (a < b) closing-edge form and the join is a plain equi-join)
    wedges = e1.join(e2, "u").where(F.col("v") < F.col("w"))
    closing = e.select(F.col("a").alias("v"), F.col("b").alias("w"))
    tri = wedges.join(closing, ["v", "w"]).select("u", "v", "w")
    per_node = (
        tri.select(F.col("u").alias("node"))
        .unionAll(tri.select(F.col("v").alias("node")))
        .unionAll(tri.select(F.col("w").alias("node")))
    )
    return per_node.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("triangles")
    )


def kcore_peel(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 2,
    rounds: int = 6,
) -> DataFrame:
    """At most `rounds` iterations of k-core peeling (repeatedly drop
    nodes of degree < k) over the undirected simple graph of `edges`.
    Returns (node, deg, converged): the surviving nodes with their degree
    among survivors, and whether the peel reached its fixed point within
    `rounds` (converged is identical in the oracle's replay — a bounded
    round count keeps the cross-engine oracle a finite CTE chain; an
    unconverged result is still a well-defined, deterministic state).

    Shape per round: two equi-joins filtering edges to surviving
    endpoints + one degree groupBy (map-side partials); edge set and
    degree table checkpointed per round (lineage truncation, as
    pagerank).

    Fixed-point exit: after each pinned degree table (round 0's too),
    one one-row aggregate reads (nodes, alive = nodes with deg >= k),
    and the loop stops, converged, while a round remains if no node is
    below k or the last round dropped none. Both exits are exact: alive
    sets are nested (round r+1's nodes are round r's alive ones, with
    degrees no larger), so an equal count means an equal set, and once
    the alive set stops changing every later edge set (cur ∩ alive²) and
    degree table is the same. After the last round the flag compares
    alive with the round before it, as without the exit: a star whose
    hub drops out in that round leaves nodes == alive, yet the round
    changed the alive count, so converged is False. A peel that does
    not converge within `rounds` runs rounds + 1 probes.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .transform(pin)
    )

    def degrees(ed: DataFrame) -> DataFrame:
        return (
            ed.select(F.col("u").alias("n"))
            .unionAll(ed.select(F.col("v").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        )

    def probe(deg: DataFrame) -> tuple[int, int]:
        return tuple(
            deg.agg(F.count(F.lit(1)), F.count(F.when(F.col("deg") >= k, 1))).first()
        )

    cur = e
    d = degrees(cur).transform(pin)
    nodes, n_alive = probe(d)
    prev_alive = -1
    for _ in range(rounds):
        if n_alive in (nodes, prev_alive):
            # fixed point: every later round would be a no-op
            prev_alive = n_alive
            break
        alive = d.where(F.col("deg") >= k).select("n")
        cur = (
            cur.join(alive.withColumnRenamed("n", "u"), "u")
            .join(alive.withColumnRenamed("n", "v"), "v")
            .select("u", "v")
            .transform(pin)
        )
        d = degrees(cur).transform(pin)
        prev_alive = n_alive
        nodes, n_alive = probe(d)
    converged = n_alive == prev_alive
    survivors = d.where(F.col("deg") >= k)
    return survivors.select(
        F.col("n").alias("node"), "deg", F.lit(converged).alias("converged")
    )
