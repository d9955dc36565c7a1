"""Data-quality auditing for 100 TB pipelines: constraint checks,
distribution-drift scoring, exact statistical outlier detection.

No single reference counterpart — the reference's users bolt these
checks on as counter-only MapReduce jobs (Reporter counters,
mapred/Counters.java:47, incremented per bad record and read off the
JobTracker UI); here each audit is a declarative one-pass aggregate
whose RESULT is a DataFrame the pipeline can gate on.

Determinism contract (queries/base.py rules): every metric is derived
from exact integer aggregates — row counts, integer-cent sums, integer
sums of squares, integer histogram counts — and only converted to a
float (or divided) at the very end, where both engines start from
identical integers and therefore produce identical doubles. No raw
float sum ever crosses an aggregation boundary, so results are
partition-order- and retry-invariant: the property that matters when
1000 executors sum in arbitrary order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PPM = 1_000_000


def _ppm(num: F.Column, den: F.Column) -> F.Column:
    """Exact parts-per-million: counts are nonnegative, so
    floor(10^6 * num / den) == integer division — same floor() on the
    DuckDB side (int64 products stay exact in a double up to 2^53;
    count*10^6 is below that for any driver-scale table, and production
    renders it as a BIGINT `div`)."""
    return F.floor(F.lit(PPM) * num / den).cast("long")


def referential_check(
    child: DataFrame, child_col: str, parent: DataFrame, parent_col: str
) -> DataFrame:
    """Referential integrity: ppm of child rows whose key exists in the
    parent. Shaped as count(total) minus count(anti-join survivors) —
    the anti-join is a plain equi-join (broadcast when the parent key
    set is small, SMJ otherwise); never a per-row lookup."""
    keys = parent.select(F.col(parent_col).alias(child_col), F.lit(1).alias("_hit"))
    agg = child.join(keys.distinct(), child_col, "left").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.when(F.col("_hit").isNull(), 1).otherwise(0)).cast("long").alias("_o"),
    )
    metric = _ppm(F.col("_n") - F.col("_o"), F.col("_n"))
    return agg.select(
        F.lit(f"ref:{child_col}").alias("check_name"),
        metric.alias("metric_ppm"),
        (metric >= PPM).alias("passed"),
    )


def zscore_outliers(
    df: DataFrame,
    group_col: str,
    cents_col: F.Column,
    id_cols: list[str],
    z_threshold: float = 2,
) -> DataFrame:
    """Per-group statistical outliers with an EXACT decision boundary.

    |x - mean| > z*sigma is evaluated entirely in integers:
        10^4 * (n*x - S)^2 > round(10^4 * z^2) * (n*Q - S^2)
    where S = sum(cents), Q = sum(cents^2) — both BIGINT sums, so the
    outlier SET is bit-exact across engines/partitionings (a float
    mean/stddev would make boundary rows flip with summation order).
    The reported z value itself (basis points) divides/sqrt's those same
    integers, so it is identical doubles on both sides.

    Shape: one partial-agg groupBy for (n, S, Q) — tiny result, re-enters
    broadcast — plus one filtered scan. The products (n*Q, S^2, dev^2,
    z^2*var) are computed in DECIMAL(38,0): in pure int64 the binding
    constraint is n*max_cents < ~3.0e9 — only ~60k rows per group at
    $500 values, nowhere near corpus scale. DECIMAL(38,0) holds dev^2
    and z^2*n^2*var up to 10^38, so integer z^2 thresholds (the common
    z=2/z=3 sites) compare unscaled with bound n*max_cents < ~10^19/z
    (~1e14 rows per group at $500); only fractional z^2 pays the 10^4
    fixed-point factor, shrinking that to ~10^17/z — still ~1e12 rows
    per group, comfortably past the 100 TB posture. The raw cent values
    and the emitted columns stay BIGINT.
    """
    x = cents_col.cast("long").alias("_c")
    base = df.select(*id_cols, F.col(group_col).alias("_g"), x)

    def _d(col: F.Column) -> F.Column:
        return col.cast("decimal(38,0)")

    stats = base.groupBy("_g").agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("_c").cast("long").alias("_s"),
        # sum of squares in decimal: c^2 alone is ~2.5e9 at $500, so an
        # int64 sum dies at ~3.7e9 rows; the decimal sum does not.
        F.sum(_d(F.col("_c")) * _d(F.col("_c"))).alias("_q"),
    )
    j = base.join(F.broadcast(stats), "_g")
    dev = _d(F.col("_n")) * _d(F.col("_c")) - _d(F.col("_s"))  # n*x - S
    var_n2 = _d(F.col("_n")) * F.col("_q") - _d(F.col("_s")) * _d(F.col("_s"))  # n^2 * var
    # A fractional z^2 (z=2.5 -> 6.25) must not silently round to an
    # integer and loosen the boundary, so those sites compare in 10^-4
    # fixed point (the granularity of the reported z_bp). But the 10^4
    # factor shrinks the DECIMAL(38,0) headroom 100x (dev^2 is scaled by
    # 10^4 -> dev bound by 10^2), and past the bound the decimal
    # overflow yields NULL under non-ANSI Spark — is_out silently false,
    # a false-NEGATIVE outlier set (DuckDB would raise and diverge). So
    # integer z^2 (the common z=2/z=3 sites) skips the scaling entirely
    # and keeps the full unscaled bound.
    z2_exact = float(z_threshold) * float(z_threshold)
    if z2_exact == int(z2_exact):
        scale_fp, z2_fp = 1, int(z2_exact)
    else:
        scale_fp, z2_fp = 10_000, round(z2_exact * 10_000)
    is_out = (dev * dev * F.lit(scale_fp).cast("decimal(38,0)")) > (
        F.lit(z2_fp).cast("decimal(38,0)") * var_n2
    )
    z_bp = F.floor(
        F.lit(10000.0) * dev.cast("double") / F.sqrt(var_n2.cast("double"))
    ).cast("long")
    return (
        j.where(is_out & (var_n2 > 0))
        .select(
            *id_cols,
            F.col("_g").alias(group_col),
            F.col("_c").alias("cents"),
            z_bp.alias("z_bp"),
        )
    )


def distribution_drift_js(
    df: DataFrame,
    group_col: str,
    bin_col: F.Column,
    split_cond: F.Column,
    n_bins: int,
) -> DataFrame:
    """Jensen-Shannon divergence between two slices of each group's
    binned distribution (train/holdout, this-week/last-week — the drift
    monitor every production corpus pipeline runs).

    Histogram counts are exact integer aggregates; each bin's JS term is
    computed from those identical integers and floored to NANO units
    (BIGINT), and the per-group total is an integer sum — order-
    independent, bit-exact cross-engine. A float-summed JS would not be.

    Shape: one groupBy(group, bin) with map-side partials (state bounded
    by groups*bins), then a groups*bins-sized re-aggregation. The data
    is scanned once; nothing is collected.

    n_bins is ENFORCED here: bin ids are clamped to <= n_bins-1
    (least()), so a caller-supplied binning that overflows the declared
    bin count cannot blow the groups*bins state bound — overflow mass
    lands in the last bin. Callers wanting an unclamped domain pass the
    true max bin count.
    """
    clamped = F.least(bin_col.cast("long"), F.lit(n_bins - 1).cast("long"))
    counts = drift_counts(df, group_col, clamped, split_cond)
    return js_from_counts(counts, group_col)


def drift_counts(
    df: DataFrame, group_col: str, bin_col: F.Column, split_cond: F.Column
) -> DataFrame:
    """The drift monitor's sufficient statistics: exact integer histogram
    counts per (group, bin, slice). These are ADDITIVE — counts from
    micro-batches / daily partitions merge by plain summation — which is
    what makes the monitor streamable via foreachBatch: keep a running
    counts table (groups*bins rows, corpus-size-independent), add each
    batch's counts, and re-finalize with js_from_counts. Never re-scan
    history.

    NULL contract (r10 pin): a row whose BIN is null (null measurement)
    or whose slice predicate is NULL (e.g. a null event time against a
    time split) is in NO histogram — excluded before counting, the
    ks_counts twin. A bare otherwise(0) silently filed unknown-slice
    rows under slice B. Null GROUP keys keep their own group."""
    binned = df.select(
        F.col(group_col).alias("_g"),
        bin_col.cast("long").alias("_b"),
        split_cond.cast("int").alias("_h"),
    ).where(F.col("_b").isNotNull() & F.col("_h").isNotNull())
    return binned.groupBy("_g", "_b").agg(
        F.sum(F.when(F.col("_h") == 1, 1).otherwise(0)).cast("long").alias("_c1"),
        F.sum(F.when(F.col("_h") == 0, 1).otherwise(0)).cast("long").alias("_c2"),
    )


def merge_drift_counts(counts: DataFrame) -> DataFrame:
    """Collapse accumulated per-batch count rows back to one row per
    (group, bin) — the merge step of the streamable monitor."""
    return counts.groupBy("_g", "_b").agg(
        F.sum("_c1").cast("long").alias("_c1"), F.sum("_c2").cast("long").alias("_c2")
    )


def js_from_counts(counts: DataFrame, group_col: str) -> DataFrame:
    """Finalize JS divergence from (merged) drift_counts output.

    Slice totals come from a whole-partition WINDOW over the counts
    table, not a groupBy+join-back: the join-back shape consumes
    `counts` twice with different column pruning, so neither static nor
    AQE exchange reuse fires and the RAW corpus is scanned/aggregated
    twice — at 100 TB that doubles the dominant cost. The window adds
    one exchange of the groups×bins-sized counts (negligible) and the
    corpus is scanned once; plan-asserted in tests/test_scale_properties.
    """
    from pyspark.sql.window import Window

    wg = Window.partitionBy("_g")
    j = counts.withColumn("_t1", F.sum("_c1").over(wg).cast("long")).withColumn(
        "_t2", F.sum("_c2").over(wg).cast("long")
    )
    # empty-slice guard: a group wholly inside one slice has t=0; treat
    # the missing slice as the zero distribution (JS degenerates to
    # ln2/2) instead of letting 0/0 NaN poison m and crash the ANSI
    # double->long cast at runtime. The oracle carries the twin guard
    # since r8 (the pre-1970 timestamp replay put every row in one
    # slice and the unguarded oracle went 0/0-NaN).
    p = F.when(F.col("_t1") > 0, F.col("_c1") / F.col("_t1")).otherwise(F.lit(0.0))
    q = F.when(F.col("_t2") > 0, F.col("_c2") / F.col("_t2")).otherwise(F.lit(0.0))
    m = (p + q) / 2
    term = (
        F.when(F.col("_c1") > 0, p * F.log(p / m) / 2).otherwise(F.lit(0.0))
        + F.when(F.col("_c2") > 0, q * F.log(q / m) / 2).otherwise(F.lit(0.0))
    )
    term_nano = F.floor(F.lit(1e9) * term).cast("long")
    return (
        j.select("_g", term_nano.alias("_tn"))
        .groupBy("_g")
        .agg(F.sum("_tn").cast("long").alias("js_nano"))
        .withColumnRenamed("_g", group_col)
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Keyed snapshot reconciliation: classify every key as added /
    removed / changed / unchanged and attribute changes per column —
    the CDC-validation / replica-divergence primitive.

    The reference's users diff table dumps with a chained sort-merge
    MapReduce pair (sort both dumps, compare in the reducer — the
    Sorter.merge pattern, io/SequenceFile.java:2909); here it is ONE
    co-partitioned full-outer join on the key columns carrying only the
    compared columns, then a single partial aggregate over row-local
    flags. One shuffle of each snapshot (the diff's lower bound; zero
    if both snapshots are bucketed on the key), no row ever reaches the
    driver, and the 1-row aggregate explodes into the report rows.

    Counts are exact integers -> bit-identical across engines and
    partitionings. NULL-vs-value column edits count as changes
    (eqNullSafe); presence is tracked by side markers so NULL keys
    cannot masquerade as absences.

    PRECONDITION: `keys` must uniquely identify rows on each side (the
    reconciliation contract). Under duplicate keys the full-outer join
    multiplies matches (m x n rows per key), so counts become
    join-multiplicities, and incremental_snapshot_diff — which counts
    clean-bucket ROWS — would disagree with this function; check key
    uniqueness first when the source is untrusted (q_audit_constraints'
    unique metric).
    """
    o = old.select(
        *keys,
        *[F.col(c).alias(f"__o_{c}") for c in compare_cols],
        F.lit(1).alias("__in_old"),
    )
    n = new.select(
        *keys,
        *[F.col(c).alias(f"__n_{c}") for c in compare_cols],
        F.lit(1).alias("__in_new"),
    )
    j = o.join(n, on=list(keys), how="full_outer")
    both = F.col("__in_old").isNotNull() & F.col("__in_new").isNotNull()
    col_changed = {
        c: both & ~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
        for c in compare_cols
    }
    any_changed = F.lit(False)
    for c in compare_cols:
        any_changed = any_changed | col_changed[c]

    def _cnt(cond: F.Column) -> F.Column:
        # coalesce: an EMPTY diff input (e.g. every bucket pruned clean
        # by incremental_snapshot_diff) must report 0, not NULL
        return F.coalesce(F.sum(F.when(cond, 1).otherwise(0)), F.lit(0)).cast("long")

    agg = j.agg(
        _cnt(F.col("__in_old").isNull()).alias("__added"),
        _cnt(F.col("__in_new").isNull()).alias("__removed"),
        _cnt(any_changed).alias("__changed"),
        _cnt(both & ~any_changed).alias("__unchanged"),
        *[_cnt(col_changed[c]).alias(f"__chg_{c}") for c in compare_cols],
    )
    rows = [
        ("added", "__added"),
        ("removed", "__removed"),
        ("changed", "__changed"),
        ("unchanged", "__unchanged"),
    ] + [(f"changed:{c}", f"__chg_{c}") for c in compare_cols]
    structs = [
        F.struct(F.lit(kind).alias("diff_kind"), F.col(a).alias("n"))
        for kind, a in rows
    ]
    return agg.select(F.explode(F.array(*structs)).alias("r")).select(
        "r.diff_kind", "r.n"
    )


def bucket_fingerprint(
    df: DataFrame,
    bucket: F.Column,
    row_repr: F.Column,
    n_buckets: int,
    hash64=None,
) -> DataFrame:
    """Order-independent per-bucket table fingerprint — the
    anti-entropy primitive: two replicas of a 100 TB table compare
    n_buckets summary rows instead of sorting/moving data, and a
    mismatched bucket re-fingerprints with a finer modulus to localize
    divergence (Merkle-style drill-down without the tree).

    Shape: ONE scan, all work row-local (the per-row hash), one
    partial aggregate into n_buckets groups — no shuffle of data rows,
    nothing driver-side. The fingerprint is the SUM of per-row hashes
    (commutative), so it is partition-order- and retry-invariant by
    construction. Addends depend on the hash choice — the portable md5
    default yields non-negative 60-bit values (a raw int64 sum would
    overflow after ~8k rows), while xxhash64 yields full-range SIGNED
    64-bit values (positives alone would overflow int64 after ~2 rows,
    and the sum must stay exact through arbitrary cancellation) — so
    BOTH paths accumulate in DECIMAL(38,0) (exact to 10^38, far beyond
    any real row count times 2^63) and are emitted folded by pmod 2^63
    as BIGINT. pmod's non-negative result makes the fold ADDITIVE over
    either sign ((a%m + b%m)%m = (a+b)%m, so partial fingerprints still
    merge by sum-then-fold; the signed-addend case is pinned in
    test_audit.py::test_bucket_fingerprint_xxhash_negative_values_fold_additively),
    and the emitted type survives every downstream
    convention, including pandas float64 conversion, which silently
    truncates a DECIMAL past 2^53. The reference's integrity check is the per-block CRC sidecar
    (fs/ChecksumFileSystem.java:56) — a byte-order-dependent stream
    checksum that cannot be compared across differently-partitioned
    copies; a commutative hash-sum can.

    ``hash64``: the per-row hash (a Column -> Column callable). Default
    is the portable md5-derived hash because q_audit_fingerprint's
    DuckDB oracle replays these exact fingerprint values cross-engine.
    Callers whose fingerprints never leave Spark (both sides of a
    comparison computed here, e.g. incremental_snapshot_diff) pass
    F.xxhash64 — measured ~2x the whole fingerprint agg's throughput
    at 10M rows (r13 optimization; the md5 path renders the row to a
    hex string per row, the dominant per-row CPU of a 100 TB
    anti-entropy scan).
    """
    from hadoop_0_20_2_ljx_spark.functions.portable import md5_int_sql

    # the row rendering is aliased so the SQL-text hash can name it; the
    # optimizer collapses the two projections into the one it replaces
    rows = df.select(bucket.alias("_b"), row_repr.alias("_r"))
    h = F.expr(md5_int_sql("_r", 15)) if hash64 is None else hash64(F.col("_r"))
    m63 = F.lit("9223372036854775808").cast("decimal(38,0)")  # 2^63
    return (
        rows.select(
            F.pmod(F.col("_b").cast("long"), F.lit(n_buckets)).alias("bucket"),
            h.cast("decimal(38,0)").alias("_h"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.pmod(F.sum("_h"), m63).cast("long").alias("fingerprint"),
        )
    )


def merge_fingerprints(parts: DataFrame) -> DataFrame:
    """Collapse accumulated per-batch bucket fingerprints back to one
    row per bucket — the merge step that makes the anti-entropy check
    STREAMABLE: row counts add, and the mod-2^63 fold is additive under
    modular addition, so a foreachBatch loop appends each micro-batch's
    bucket_fingerprint output (n_buckets rows, corpus-size-independent)
    and re-merges. The continuously-ingested table's fingerprint never
    re-scans history — the same sufficient-statistics discipline as the
    drift monitor (drift_counts / merge_drift_counts)."""
    m63 = F.lit("9223372036854775808").cast("decimal(38,0)")  # 2^63
    return parts.groupBy("bucket").agg(
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.pmod(F.sum(F.col("fingerprint").cast("decimal(38,0)")), m63)
        .cast("long")
        .alias("fingerprint"),
    )


def incremental_snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str],
    n_buckets: int = 1024,
) -> DataFrame:
    """snapshot_diff with the shuffle pruned to DIRTY buckets: hash
    each key into n_buckets, fingerprint both snapshots per bucket
    (bucket_fingerprint — one scan each, no row shuffle), compare the
    two n_buckets-row summaries to find buckets whose (count, hash-sum)
    differ, and run the full-outer diff ONLY over rows in those
    buckets (the dirty-bucket list re-enters as a broadcast semi-join
    filter). Clean buckets have pairwise-identical row multisets (up
    to the 2^-63-per-bucket hash-sum collision odds), so their rows
    are all `unchanged` and are added back as a count — never scanned
    again, never shuffled.

    At 100 TB with change-rate eps this turns the diff's dominant cost
    (shuffling both snapshots) into eps-proportional work: two
    shuffle-free fingerprint scans + a full diff of only the dirty
    slice. The added/removed/changed counts are exactly
    snapshot_diff's; `unchanged` = clean-bucket rows + unchanged rows
    inside dirty buckets. Same PRECONDITION as snapshot_diff: keys
    unique per side (clean-bucket accounting counts rows, which only
    equals the join's unchanged count for 1:1 keys). NULL-keyed rows
    ride a dedicated always-dirty bucket so the full-outer join — where
    NULL keys never match — stays the semantics owner.
    """
    from hadoop_0_20_2_ljx_spark.pinning import pin

    def _enc(c: str) -> F.Column:
        # INJECTIVE per-column rendering: len:value, NULL -> '-'. A bare
        # delimiter join is not injective — ('a|b','c') and ('a','b|c')
        # both render 'a|b|c', so a real change could fingerprint as a
        # clean bucket and escape the diff; the length prefix makes the
        # parse unambiguous, and no real value collides with the NULL
        # marker because rendered values always contain ':'.
        sc = F.col(c).cast("string")
        return F.when(sc.isNull(), F.lit("-")).otherwise(
            F.concat(F.length(sc).cast("string"), F.lit(":"), sc)
        )

    def _repr(df: DataFrame) -> F.Column:
        return F.concat_ws("|", *[_enc(c) for c in [*keys, *compare_cols]])

    # NULL-keyed rows never join-match in the full-outer diff (NULL !=
    # NULL), but two identical NULL-keyed rows WOULD fingerprint as
    # matching — route them to a dedicated bucket that is always dirty,
    # so the join (the semantics owner) decides them.
    #
    # Hashes here are xxhash64, not the portable md5 hash: every
    # fingerprint/bucket value is compared Spark-vs-Spark inside this one
    # operator (the declared query's oracle is the PLAIN full-diff SQL),
    # so cross-engine portability buys nothing and the md5 hex-string
    # render was the dominant per-row CPU of the four full-table passes
    # (2 fingerprint scans + 2 dirty-side recomputes; r13 optimization,
    # ~2x measured at 10M rows). Bucket routing hashes the key columns
    # DIRECTLY (typed, multi-arg xxhash64 — no injective string render
    # needed): only all-keys-non-null rows reach it, and routing only
    # needs determinism, not injectivity. The row fingerprint keeps the
    # injective len:value render — change DETECTION does need it — and
    # xxhash64-hashes that string.
    any_key_null = F.lit(False)
    for k in keys:
        any_key_null = any_key_null | F.col(k).isNull()
    key_bucket = F.when(any_key_null, F.lit(n_buckets)).otherwise(
        F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets))
    )

    fo = bucket_fingerprint(old, key_bucket, _repr(old), n_buckets + 1, F.xxhash64)
    fn = bucket_fingerprint(new, key_bucket, _repr(new), n_buckets + 1, F.xxhash64)
    cmp = fo.select(
        "bucket",
        F.col("n_rows").alias("_no"),
        F.col("fingerprint").alias("_fo"),
    ).join(
        fn.select(
            "bucket",
            F.col("n_rows").alias("_nn"),
            F.col("fingerprint").alias("_fn"),
        ),
        "bucket",
        "full_outer",
    )
    # pin: the n_buckets-row comparison table has THREE consumers (two
    # dirty-bucket semi-joins + the clean-row count); un-pinned, each
    # consumer re-derives BOTH fingerprint scans — 8 source scans where
    # 4 suffice (the repeated-subtree trap the scan-ceiling sweep pins)
    cmp = pin(cmp)
    fp_match = F.col("_no").eqNullSafe(F.col("_nn")) & F.col("_fo").eqNullSafe(
        F.col("_fn")
    )
    is_null_key_bucket = F.col("bucket") == n_buckets
    dirty = cmp.where(~fp_match | is_null_key_bucket).select("bucket")
    clean_rows = cmp.where(fp_match & ~is_null_key_bucket).agg(
        F.coalesce(F.sum("_no"), F.lit(0)).cast("long").alias("_clean")
    )

    def _dirty_side(df: DataFrame) -> DataFrame:
        return df.withColumn("_bkt", key_bucket).join(
            F.broadcast(dirty.withColumnRenamed("bucket", "_bkt")), "_bkt", "left_semi"
        )

    d = snapshot_diff(_dirty_side(old), _dirty_side(new), keys, compare_cols)
    # fold clean-bucket rows into the `unchanged` count (keyless 1-row
    # broadcast join — the corpus-stats idiom, not a cartesian)
    return d.join(F.broadcast(clean_rows)).select(
        "diff_kind",
        F.when(F.col("diff_kind") == "unchanged", F.col("n") + F.col("_clean"))
        .otherwise(F.col("n"))
        .cast("long")
        .alias("n"),
    )


def winsorized_stats(
    df: DataFrame,
    group_col: str,
    cents_col: F.Column,
    id_col: F.Column,
    lo_pct: int = 5,
    hi_pct: int = 95,
) -> DataFrame:
    """Per-group winsorization at EXACT order statistics: clip values
    to [p_lo, p_hi] where p_k is the ceil(k*n/100)-th smallest value,
    and report the clipped sum + clip counts — the robust-statistics
    companion to zscore_outliers (which flags rows; this bounds their
    leverage).

    Determinism: the bound ranks are pure integer arithmetic
    ((n*k + 99) div 100 = ceil, clamped >= 1) and the value AT a rank
    depends only on the sorted cents multiset (the id tie-break only
    permutes equal values), so bounds, clip counts, and the winsorized
    sum are bit-exact across engines — no percentile interpolation,
    which differs engine-to-engine, is ever evaluated. NULL measurements
    are EXCLUDED before ranking (r9): that is percentile_cont's
    semantics, and the alternative — ranking nulls — silently rides the
    engines' opposite null-ordering defaults (base.py NULL-ordering
    boundary). n_rows therefore counts non-null measurements. NULL group
    keys keep their own group, as in any GROUP BY.

    Shape: ONE scan and ONE hash partitioning by group, period — the
    rank window, the whole-partition bound windows, and the final
    partial aggregate all share it. The bounds are broadcast-free:
    max(case when rn = bound_rank then c end) OVER the whole group
    puts each group's lo/hi on every row without a join-back (a
    groupBy-bounds + re-join formulation re-scans and re-shuffles the
    source — 2x the I/O at 100 TB; plan-pinned against regression). At
    100 TB the per-group sort inside the window is the honest cost of
    exact order statistics; approx_percentile is the escape hatch when
    ±epsilon bounds are acceptable.
    """
    from pyspark.sql.window import Window

    base = df.select(
        F.col(group_col).alias("_g"),
        cents_col.cast("long").alias("_c"),
        id_col.alias("_id"),
    ).where(F.col("_c").isNotNull())
    w = Window.partitionBy("_g").orderBy("_c", "_id")
    wg = Window.partitionBy("_g")
    r = (
        base.withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(wg))
        .withColumn(
            "_lo_rank",
            F.greatest(F.lit(1), F.expr(f"(_n * {int(lo_pct)} + 99) div 100")),
        )
        .withColumn(
            "_hi_rank",
            F.greatest(F.lit(1), F.expr(f"(_n * {int(hi_pct)} + 99) div 100")),
        )
    )
    r = r.select(
        "*",
        F.max(F.when(F.col("_rn") == F.col("_lo_rank"), F.col("_c")))
        .over(wg)
        .alias("_lo"),
        F.max(F.when(F.col("_rn") == F.col("_hi_rank"), F.col("_c")))
        .over(wg)
        .alias("_hi"),
    )
    clipped = F.least(F.greatest(F.col("_c"), F.col("_lo")), F.col("_hi"))
    return (
        r.groupBy("_g")
        .agg(
            F.max("_n").cast("long").alias("n_rows"),
            F.max("_lo").cast("long").alias("lo_cents"),
            F.max("_hi").cast("long").alias("hi_cents"),
            F.sum(F.when(F.col("_c") < F.col("_lo"), 1).otherwise(0))
            .cast("long")
            .alias("n_clip_lo"),
            F.sum(F.when(F.col("_c") > F.col("_hi"), 1).otherwise(0))
            .cast("long")
            .alias("n_clip_hi"),
            F.sum(clipped).cast("long").alias("wsum_cents"),
        )
        .withColumnRenamed("_g", group_col)
    )


def order_stat_summary(
    df: DataFrame,
    group_col: str,
    cents_col: F.Column,
    id_col: F.Column,
    n_bands: int = 10,
) -> DataFrame:
    """Per-group EXACT quantile bands: the value at rank
    ceil(k*n/n_bands) for k = 1..n_bands-1 (deciles by default) — the
    reporting summary approx_percentile cannot give you when the
    answer must be engine-exact (winsorized_stats' rank idiom,
    generalized from two bounds to a band vector).

    Shape: ONE scan, ONE hash partitioning by group (rank + count
    windows), then a row-local band-membership filter: each row emits
    the band indices whose target rank equals its row_number (an
    array filter + explode — no join, no second pass; a row emits
    multiple bands when a small group maps several bands to one
    rank). Exactly n_bands-1 rows per group come out. Determinism:
    integer ceil-rank arithmetic, tie-broken ordering, values at
    ranks depend only on the sorted multiset. NULL measurements are
    EXCLUDED before ranking (r9, winsorized_stats' contract —
    percentile_cont semantics; ranking nulls rides the engines'
    opposite null-ordering defaults).
    """
    from pyspark.sql.window import Window

    nb = int(n_bands)
    if nb < 2:
        # sequence(1, nb-1) steps DOWN for nb < 2 ([1, 0], [1, 0, -1])
        # and would emit bogus band indices instead of zero rows
        raise ValueError(f"n_bands must be >= 2, got {n_bands}")
    base = df.select(
        F.col(group_col).alias("_g"),
        cents_col.cast("long").alias("_c"),
        id_col.alias("_id"),
    ).where(F.col("_c").isNotNull())
    w = Window.partitionBy("_g").orderBy("_c", "_id")
    wg = Window.partitionBy("_g")
    r = (
        base.withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(wg))
        .withColumn(
            "_bands",
            F.expr(
                f"filter(sequence(1, {nb - 1}), "
                f"k -> _rn = greatest(1, (_n * k + {nb - 1}) div {nb}))"
            ),
        )
        .where(F.size("_bands") > 0)
    )
    # explode is a generator — cast in a second projection (a generator
    # nested inside an expression is rejected by the analyzer)
    return r.select(
        F.col("_g"), F.explode("_bands").alias("_band"), F.col("_c")
    ).select(
        F.col("_g").alias(group_col),
        F.col("_band").cast("long").alias("band"),
        F.col("_c").alias("cents"),
    )


def distribution_drift_ks(
    df: DataFrame,
    group_col: str,
    value_expr: F.Column,
    in_a: F.Column,
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic per group — the
    BINLESS companion to distribution_drift_js: D = max_v |F_a(v) -
    F_b(v)| between slice A (rows where ``in_a``) and slice B, compared
    in the cross-multiplied INTEGER domain |ca(v)*nb - cb(v)*na| so the
    argmax never rides float CDF division (two engines flooring 0.1999..
    vs 0.2 would disagree at the boundary; integers cannot).

    Output per group: ks_ppm (floor of 1e6*D), at_value_micros (the
    smallest value attaining D, in integer micro-units), n_a, n_b.

    Scale shape: one groupBy collapses the corpus to O(distinct
    (group, value)) count rows — the only data-sized exchange; the
    cumulative counts and the slice totals ride ONE keyed window
    partitioning (RANGE-frame cumsum + full-frame totals, no join-back
    re-scan — the js_from_counts argument), and the final per-group
    argmax agg reuses that partitioning (no third exchange). The
    cross-products are DECIMAL(38,0) internally (headroom to ~1e18 rows
    per slice); the OUTPUT stays BIGINT ppm — never a decimal column
    (the round-5 harness lesson).
    """
    return ks_from_counts(ks_counts(df, group_col, value_expr, in_a), group_col)


def ks_counts(
    df: DataFrame, group_col: str, value_expr: F.Column, in_a: F.Column
) -> DataFrame:
    """The KS monitor's sufficient statistics: exact per (group, value)
    slice counts. ADDITIVE like drift_counts — micro-batch / daily counts
    merge by plain summation, so the exact KS streams via foreachBatch
    (accumulate counts, re-finalize with ks_from_counts, never re-scan
    history). Unlike the binned JS state, this table is O(distinct
    (group, value)) — value-cardinality-bounded, not constant — so a
    long-running stream over unbounded-precision doubles should pass a
    quantizing ``value_expr`` (the KS of the quantized distribution is
    exact for the quantized data; pick the grid you can afford).

    NULL values are DROPPED before counting: a NULL measurement is not a
    point on the CDF, and letting it through would also diverge
    cross-engine (Spark windows order NULLS FIRST, DuckDB NULLS LAST —
    the cumulative sums would skew in opposite directions; the fixtures
    are NULL-free, so only this filter keeps the contract explicit).
    Likewise (r10 pin) a NULL slice predicate — a row that cannot be
    assigned to either sample (null event time vs a time split) — drops
    the row from BOTH samples rather than silently tagging it slice B."""
    return (
        df.select(
            F.col(group_col).alias("_g"),
            value_expr.cast("double").alias("_v"),
            in_a.cast("int").alias("_a"),
        )
        .where(F.col("_v").isNotNull() & F.col("_a").isNotNull())
        .groupBy("_g", "_v")
        .agg(
            F.sum("_a").cast("long").alias("_da"),
            F.sum(1 - F.col("_a")).cast("long").alias("_db"),
        )
    )


def merge_ks_counts(counts: DataFrame) -> DataFrame:
    """Collapse accumulated per-batch KS count rows back to one row per
    (group, value) — the merge step of the streamable exact-KS monitor."""
    return counts.groupBy("_g", "_v").agg(
        F.sum("_da").cast("long").alias("_da"), F.sum("_db").cast("long").alias("_db")
    )


def ks_from_counts(counts: DataFrame, group_col: str) -> DataFrame:
    """Finalize the exact KS statistic from (merged) ks_counts output —
    the window/argmax stage of distribution_drift_ks (same determinism
    and exchange-sharing arguments; see that docstring).

    One-sided groups (every row in slice A, or every row in slice B) are
    DROPPED: a two-sample statistic is undefined when one sample is
    empty, and letting the n_a*n_b=0 division through would emit an
    engine-version-dependent NULL/error instead of a defined contract
    (r6 ADVICE). Callers that must see such groups should test
    n_a/n_b on ks_counts directly."""
    from pyspark.sql.window import Window

    wc = Window.partitionBy("_g").orderBy("_v")
    wg = Window.partitionBy("_g")
    c = (
        counts.withColumn("_ca", F.sum("_da").over(wc))
        .withColumn("_cb", F.sum("_db").over(wc))
        .withColumn("_na", F.sum("_da").over(wg))
        .withColumn("_nb", F.sum("_db").over(wg))
    )
    diff = F.expr(
        "abs(CAST(_ca AS DECIMAL(38,0)) * _nb - CAST(_cb AS DECIMAL(38,0)) * _na)"
    )
    best = (
        c.select(
            "_g",
            "_na",
            "_nb",
            diff.alias("_diff"),
            F.floor(F.col("_v") * 1000000).cast("long").alias("_vm"),
        )
        # group on _g ALONE (totals re-enter via max: constant per group)
        # so the agg reuses the window's hashpartitioning(_g) — no third
        # exchange
        .groupBy("_g")
        .agg(
            F.max(F.struct(F.col("_diff"), (-F.col("_vm")).alias("_nvm"))).alias("_m"),
            F.max("_na").alias("_na"),
            F.max("_nb").alias("_nb"),
        )
    )
    return best.where((F.col("_na") > 0) & (F.col("_nb") > 0)).select(
        F.col("_g").alias(group_col),
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * _m._diff)"
            " DIV (CAST(_na AS DECIMAL(38,0)) * _nb) AS BIGINT)"
        ).alias("ks_ppm"),
        (-F.col("_m._nvm")).cast("long").alias("at_value_micros"),
        F.col("_na").alias("n_a"),
        F.col("_nb").alias("n_b"),
    )
