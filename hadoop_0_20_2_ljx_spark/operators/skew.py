"""Skew mitigation: salting for hot keys, skew diagnosis.

Reference counterpart: none as an operator — the reference's skew story is
documentation of the symptom (the 2008 TeraSort run's reduce outputs
ranged 337-872 MB from imperfect range sampling,
examples/.../terasort/package.html:108-110) plus speculative re-execution
of stragglers (mapred/TaskInProgress.java:866-874). The user hand-fixed
skew by writing a smarter Partitioner. These helpers are that smarter
partitioner, expressed declaratively.

At 100 TB the first defense is AQE's skew-join splitting
(spark.sql.adaptive.skewJoin.enabled, on in session.py), which handles
*join-input* skew at runtime. Salting is still needed where AQE can't
reach: skewed groupBy keys (one reducer gets the hot key's entire group)
and skewed broadcast-ineligible joins on a hot key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _row_salt(df: DataFrame, buckets: int) -> Column:
    """Deterministic per-row salt: xxhash64 of all columns, mod buckets.

    Deliberately NOT F.rand(): a random salt is re-drawn when a task is
    retried or a stage partially recomputes after executor loss, so rows
    migrate between (key, salt) groups whose partials were already
    consumed by completed reducers — double-counted or dropped rows in
    the exact large-cluster scenario salting targets. A content hash
    reproduces identically on recompute. Identical full-duplicate rows
    share a salt; hot keys still spread whenever their rows differ in any
    column.
    """
    return F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(buckets)).cast("int")


def _guard_working_cols(df: DataFrame, names: tuple, op: str) -> None:
    """Working columns are created with withColumn and dropped at the end,
    so a same-named USER column would be silently overwritten and then
    destroyed — data loss, not an error. Refuse loudly instead (the
    salted_join buckets<1 lesson: degenerate inputs must never silently
    change results)."""
    clash = [c for c in df.columns if c in names]
    if clash:
        raise ValueError(
            f"{op}: input columns {clash} collide with internal working "
            f"columns {list(names)} — rename them before calling"
        )


def salted_sum(
    df: DataFrame, key: str, value: str, buckets: int = 16, alias: str = "sum_value"
) -> DataFrame:
    """Two-phase aggregation for skewed keys: groupBy (key, salt) — spreads
    a hot key over `buckets` reducers — then re-aggregate by key.

    For algebraic aggregates (sum/count/min/max) the two-phase result is
    exact. Phase-2 input is at most (distinct_keys x buckets) rows, so the
    second shuffle is negligible.
    """
    if buckets < 1:
        raise ValueError(f"salted_sum requires buckets >= 1, got {buckets}")
    _guard_working_cols(df, ("_salt", "_psum"), "salted_sum")
    salt = _row_salt(df, buckets)
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(key, "_salt")
        .agg(F.sum(value).alias("_psum"))
    )
    return partial.groupBy(key).agg(F.sum("_psum").alias(alias))


def salted_join(
    skewed: DataFrame,
    dim: DataFrame,
    key: str,
    buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join where `skewed` has hot values of `key` and `dim` is too
    big to broadcast: salt the skewed side with a random bucket, replicate
    the dim side across all buckets, join on (key, salt).

    Replication factor is `buckets` on the dim side only — the classic
    skew-join rewrite. Result is row-identical to the plain join. Only
    inner/left are expressible (an unmatched dim row would surface once
    per replica under right/full).

    The replica column is explode(sequence(0, buckets-1)), ONE expression
    node regardless of bucket count — an explode(array(lit 0..b)) form
    would stamp `buckets` literal nodes into the plan and hit the
    ~10^3-literal parse/codegen cliff (the r7 similarity lesson) exactly
    when buckets is scaled to hold per-task work flat at cluster sizes
    (tools/scale_probe.py skew ladder runs buckets up to 2560).
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports how='inner' or 'left'")
    if buckets < 1:
        # A computed buckets (e.g. 8x reducer count) can degenerate to 0:
        # sequence(0, -1) auto-steps to [0, -1] (doubling every dim row
        # with salts the fact side can never match, since pmod(x, 0) is
        # NULL) and the join silently returns empty instead of erroring.
        raise ValueError(f"salted_join requires buckets >= 1, got {buckets}")
    _guard_working_cols(skewed, ("_salt",), "salted_join")
    _guard_working_cols(dim, ("_salt",), "salted_join")
    salted = skewed.withColumn("_salt", _row_salt(skewed, buckets))
    replicated = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(buckets - 1)))
    )
    out = salted.join(replicated, on=[key, "_salt"], how=how)
    return out.drop("_salt")


def chunked_running_agg(
    df: DataFrame,
    key: str,
    order: list,
    value: str,
    chunk: Column,
    agg: str = "sum",
    out_col: str = "running_agg",
) -> DataFrame:
    """Per-key cumulative ALGEBRAIC aggregate (sum/count/min/max over
    unbounded-preceding) where a key may be pathologically HOT — the
    decomposable half of the window hot-key taxonomy (SCALE.md).

    A plain ``agg().over(Window.partitionBy(key).orderBy(order))`` pushes
    a hot key's entire history through ONE task's sorter (the measured
    r12 pressure rung: a 70%-hot key = a ~210M-row window partition,
    4.84 GB spill in one task; the r13 winsum ladder: that task's
    shuffle-read grows 10x/decade and nothing can split a window
    partition). That is unavoidable for ORDER-DEPENDENT sweeps
    (rank/lag/asof: each row needs its true neighbors), but an algebraic
    frame aggregate decomposes exactly — the same two-pass shape as
    pipeline_ops.global_running_total, applied per key:

      1. bucket rows into (key, chunk) — ``chunk`` must be a
         deterministic, monotone-non-decreasing function of the leading
         ``order`` expression (e.g. a time bucket of the order
         timestamp), so equal order values share a chunk;
      2. ONE data exchange on (key, chunk) + pin; the intra-chunk
         cumulative window AND the per-chunk totals aggregate both reuse
         that partitioning shuffle-free, and the hot key now spreads
         over as many tasks as it has chunks;
      3. an exclusive running offset over the O(keys x chunks)
         chunk-totals table (tiny exchange) re-enters via a join that is
         NULL-SAFE on the key — a bare equi-join would silently drop the
         null-key group that the window/groupBy kept (the r10 class-3
         null lesson).

    The monotonicity requirement on ``chunk`` (a non-decreasing function
    of the first order column) is VERIFIED at run time, not trusted:
    per-chunk order-key ranges ride the offsets groupBy for free and an
    adjacent-range overlap raises through the _off expression itself
    (r13 — a violating chunk used to return silently wrong prefixes).
    Chunk GRANULARITY remains a pure performance knob (see the SCALE.md
    width law: ~8 chunks per reducer sits on a ~3-decade plateau).

    Null-value contract (matches the direct window exactly): the result
    is NULL iff the whole per-key prefix holds no non-null value. For
    min/max the combine is least/greatest, whose null-IGNORING semantics
    (the r10 lesson — usually a trap) are exactly the identity-element
    behavior wanted here; for sum the NULL-vs-0 distinction is carried
    explicitly (an all-null prefix must stay NULL, not become 0); count
    never yields NULL.

    Reference counterpart: the hand-written two-job MapReduce prefix-sum
    idiom (per-partition partial + offset pass) the reference's users
    built on top of the secondary-sort machinery
    (mapred/lib/KeyFieldBasedComparator.java:43); here it is one
    declarative operator with the skew posture made explicit.
    """
    from hadoop_0_20_2_ljx_spark.pinning import pin

    if agg not in ("sum", "count", "min", "max"):
        raise ValueError(
            f"chunked_running_agg supports algebraic aggs sum/count/min/max, "
            f"got {agg!r} (order-dependent sweeps don't decompose — see the "
            f"SCALE.md window hot-key taxonomy)"
        )
    _guard_working_cols(
        df, ("_chunk", "_intra", "_off", "_k2", "_c2"), "chunked_running_agg"
    )
    if out_col in df.columns:
        raise ValueError(
            f"chunked_running_agg: out_col {out_col!r} already exists in the "
            f"input — it would be silently replaced"
        )
    intra_fn = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max}[agg]
    # how per-chunk totals fold into a running offset, and how that
    # offset combines with the intra-chunk running value
    off_fn = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}[agg]

    def combine(i: Column, o: Column) -> Column:
        if agg == "min":
            return F.least(i, o)  # null-ignoring = identity element
        if agg == "max":
            return F.greatest(i, o)
        if agg == "count":
            return i + F.coalesce(o, F.lit(0))  # count is never NULL
        return F.when(i.isNull() & o.isNull(), F.lit(None)).otherwise(
            F.coalesce(i, F.lit(0)) + F.coalesce(o, F.lit(0))
        )

    d = df.withColumn("_chunk", chunk).repartition(key, "_chunk").transform(pin)
    w_intra = (
        Window.partitionBy(key, "_chunk")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    intra = d.withColumn("_intra", intra_fn(value).over(w_intra))
    w_off = (
        Window.partitionBy(key)
        .orderBy("_chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # Monotonicity is VERIFIED, not trusted: the decomposition is only
    # exact when chunk is a non-decreasing function of the first order
    # column (an interleaving chunk would silently corrupt every prefix
    # downstream of the seam). The check is free at the offsets pass —
    # per-chunk min/max of the order key ride the groupBy that already
    # exists, and a lag over the SAME (key, chunk-order) window spec
    # compares adjacent ranges. The violation gates the _off expression
    # itself (not a dropped side column), so Catalyst cannot prune it.
    order0 = order[0]
    w_lag = Window.partitionBy(key).orderBy("_chunk")
    offsets = (
        d.groupBy(key, "_chunk")
        .agg(
            intra_fn(value).alias("_ctot"),
            F.min(order0).alias("_omin"),
            F.max(order0).alias("_omax"),
        )
        .withColumn(
            "_off",
            F.when(
                F.lag("_omax").over(w_lag) >= F.col("_omin"),
                F.raise_error(
                    F.lit(
                        "chunked_running_agg: chunk column is not monotone "
                        "in the order — a chunk's order-key range overlaps "
                        "the previous chunk's, which would silently corrupt "
                        "the running prefix; the chunk expression must be a "
                        "non-decreasing function of the first order column"
                    )
                ),
            ).otherwise(off_fn("_ctot").over(w_off)),
        )
        .select(F.col(key).alias("_k2"), F.col("_chunk").alias("_c2"), "_off")
    )
    out = intra.join(
        offsets,
        intra[key].eqNullSafe(offsets["_k2"])
        & intra["_chunk"].eqNullSafe(offsets["_c2"]),
        "inner",
    )
    return (
        out.withColumn(out_col, combine(F.col("_intra"), F.col("_off")))
        .drop("_intra", "_off", "_chunk", "_k2", "_c2")
    )


def chunked_running_sum(
    df: DataFrame,
    key: str,
    order: list,
    value: str,
    chunk: Column,
    out_col: str = "running_sum",
) -> DataFrame:
    """Cumulative sum via the decomposed hot-key window — see
    chunked_running_agg (this is its agg="sum" form, the oracle-proven
    q_window_hotkey_runsum template and the winsum-ladder subject)."""
    return chunked_running_agg(df, key, order, value, chunk, "sum", out_col)


def top_hot_keys(df: DataFrame, key: str, top_n: int = 20) -> DataFrame:
    """Diagnose skew: the heaviest keys and their share of all rows.

    The count aggregate is itself skew-safe (partial aggregation collapses
    each partition's hot-key rows to one record before the shuffle), and
    the grand total re-enters as a broadcast 1-row aggregate — one scan,
    fully lazy (no eager df.count() action). Ties at the cutoff are
    broken by key so the result is partitioning-invariant.
    """
    counts = df.groupBy(key).agg(F.count("*").alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("_total"))
    return (
        counts.join(F.broadcast(total))
        .withColumn("share", F.round(F.col("cnt") / F.col("_total"), 6))
        .drop("_total")
        .orderBy(F.desc("cnt"), F.col(key))
        .limit(top_n)
    )
