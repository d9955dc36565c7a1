"""Unit tests for extensions/audit.py edge cases the oracle queries
don't reach: null handling, zero-variance groups, empty slices, and the
integer-exactness property of the outlier boundary."""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_0_20_2_ljx_spark.extensions import audit


def test_referential_orphans(spark):
    child = spark.createDataFrame([(1,), (2,), (9,), (9,)], "fk long")
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk long")
    row = audit.referential_check(child, "fk", parent, "pk").collect()[0]
    assert row["metric_ppm"] == 500_000
    assert row["passed"] is False


def test_zscore_zero_variance_group_emits_nothing(spark):
    # all-equal group: variance 0 — no row may divide by zero or appear
    df = spark.createDataFrame(
        [(i, "g", 100) for i in range(10)], "event_id long, t string, v long"
    )
    out = audit.zscore_outliers(df, "t", F.col("v"), ["event_id"])
    assert out.count() == 0


def test_zscore_boundary_is_integer_exact(spark):
    # group of 9 at 100 plus one at 1000: the outlier decision replays
    # exactly via (n*x - S)^2 > 4 * (n*Q - S^2)
    vals = [100] * 9 + [1000]
    df = spark.createDataFrame(
        [(i, "g", v) for i, v in enumerate(vals)], "event_id long, t string, v long"
    )
    out = audit.zscore_outliers(df, "t", F.col("v"), ["event_id"]).collect()
    n, s, q = 10, sum(vals), sum(v * v for v in vals)
    expect = {
        i for i, v in enumerate(vals) if (n * v - s) ** 2 > 4 * (n * q - s * s)
    }
    assert {r["event_id"] for r in out} == expect and expect == {9}


def test_drift_identical_slices_score_zero(spark):
    # same distribution in both halves -> JS == 0 exactly
    rows = [("g", i % 5, h) for i in range(50) for h in (0, 1)]
    df = spark.createDataFrame(rows, "g string, b long, h int")
    out = audit.distribution_drift_js(
        df, "g", F.col("b"), F.col("h") == 1, n_bins=5
    ).collect()
    assert out[0]["js_nano"] == 0


def test_drift_disjoint_slices_score_ln2(spark):
    # fully disjoint supports -> JS = ln 2 (in nano units, floored)
    rows = [("g", 0, 1)] * 10 + [("g", 1, 0)] * 10
    df = spark.createDataFrame(rows, "g string, b long, h int")
    out = audit.distribution_drift_js(
        df, "g", F.col("b"), F.col("h") == 1, n_bins=2
    ).collect()
    import math

    assert abs(out[0]["js_nano"] / 1e9 - math.log(2)) < 1e-6


def test_inverted_index_cap_and_exact_df(spark):
    from hadoop_0_20_2_ljx_spark.extensions.relevance import inverted_index

    docs = spark.createDataFrame(
        [(i, "common unique%d" % i) for i in range(30)], "doc_id long, text string"
    )
    out = {
        r["term"]: r
        for r in inverted_index(docs, "doc_id", "text", min_df=1, postings_cap=5).collect()
    }
    c = out["common"]
    # df/tf exact over all 30 docs, postings capped at the 5 smallest ids
    assert c["doc_freq"] == 30 and c["total_tf"] == 30
    assert c["postings"] == "0,1,2,3,4"
    assert out["unique7"]["postings"] == "7"


def test_drift_one_sided_group_does_not_crash(spark):
    # a group entirely inside one slice: missing slice = zero
    # distribution, JS degenerates to ln2/2 — must not NaN-crash
    rows = [("g", i % 3, 1) for i in range(12)]
    df = spark.createDataFrame(rows, "g string, b long, h int")
    out = audit.distribution_drift_js(
        df, "g", F.col("b"), F.col("h") == 1, n_bins=3
    ).collect()
    import math

    assert abs(out[0]["js_nano"] / 1e9 - math.log(2) / 2) < 1e-6


def test_zscore_survives_int64_overflow_regime(spark):
    # values whose boundary products overflow int64 but fit DECIMAL(38,0):
    # max_cents = 5e9 ($50M), 100 rows -> n*Q ~ 100^2 * 2.5e19 = 2.5e23
    # >> 2^63 ~ 9.2e18. The old pure-BIGINT arithmetic either nulled (lost
    # outliers) or errored under ANSI; the decimal path must match an
    # exact big-int replay in Python.
    big = 5_000_000_000
    vals = [big] * 99 + [big // 2]
    df = spark.createDataFrame(
        [(i, "g", v) for i, v in enumerate(vals)], "event_id long, t string, v long"
    )
    out = audit.zscore_outliers(df, "t", F.col("v"), ["event_id"]).collect()
    n, s, q = len(vals), sum(vals), sum(v * v for v in vals)
    expect = {
        i for i, v in enumerate(vals) if (n * v - s) ** 2 > 4 * (n * q - s * s)
    }
    assert {r["event_id"] for r in out} == expect and expect == {99}


def test_drift_n_bins_is_enforced(spark):
    # bins beyond n_bins-1 must fold into the last bin (state bound):
    # with n_bins=2, bins {5, 9} both land in bin 1 -> identical slices
    # -> JS == 0; without the clamp the supports are disjoint (JS = ln2).
    rows = [("g", 5, 1)] * 10 + [("g", 9, 0)] * 10
    df = spark.createDataFrame(rows, "g string, b long, h int")
    out = audit.distribution_drift_js(
        df, "g", F.col("b"), F.col("h") == 1, n_bins=2
    ).collect()
    assert out[0]["js_nano"] == 0


def test_zscore_fractional_threshold_exact(spark):
    # z=2.5 -> z^2=6.25 must NOT round to 6 (the pre-r5 integer cast
    # loosened the boundary): replay the decision in exact rationals
    # 10^4*dev^2 > 62500*var_n2 against every row
    # row 8 (130) sits BETWEEN the 6·var and 6.25·var boundaries: outlier
    # under the rounded threshold, inlier under the exact one
    vals = [95, 103, 92, 98, 90, 110, 92, 98, 130]
    df = spark.createDataFrame(
        [(i, "g", v) for i, v in enumerate(vals)], "event_id long, t string, v long"
    )
    out = audit.zscore_outliers(
        df, "t", F.col("v"), ["event_id"], z_threshold=2.5
    ).collect()
    n, s, q = len(vals), sum(vals), sum(v * v for v in vals)
    expect = {
        i
        for i, v in enumerate(vals)
        if 10_000 * (n * v - s) ** 2 > 62_500 * (n * q - s * s)
    }
    got = {r["event_id"] for r in out}
    assert got == expect
    # and the set must differ from what the rounded-to-6 boundary gives,
    # proving the fixture actually exercises the fractional part
    loosened = {
        i for i, v in enumerate(vals) if (n * v - s) ** 2 > 6 * (n * q - s * s)
    }
    assert loosened != expect


def test_snapshot_diff_classification(spark):
    # old: keys 1-5; new: drops 2, adds 6, edits v on 3, edits w on 4,
    # and flips NULL->value on 5 (eqNullSafe must count that as a change)
    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40), (5, None, 50)],
        "k long, v string, w long",
    )
    new = spark.createDataFrame(
        [(1, "a", 10), (3, "C", 30), (4, "d", 41), (5, "e", 50), (6, "f", 60)],
        "k long, v string, w long",
    )
    got = {
        r["diff_kind"]: r["n"]
        for r in audit.snapshot_diff(old, new, ["k"], ["v", "w"]).collect()
    }
    assert got == {
        "added": 1,
        "removed": 1,
        "changed": 3,
        "unchanged": 1,
        "changed:v": 2,
        "changed:w": 1,
    }


def test_bucket_fingerprint_partition_invariant_and_localizing(spark):
    df = spark.createDataFrame(
        [(i, f"row-{i}") for i in range(200)], "k long, payload string"
    )
    row = F.concat_ws("|", F.col("k").cast("string"), F.col("payload"))

    def fp(d):
        return {
            r["bucket"]: (r["n_rows"], r["fingerprint"])
            for r in audit.bucket_fingerprint(d, F.col("k"), row, 8).collect()
        }

    a = fp(df.repartition(7))
    b = fp(df.repartition(2))
    # commutative hash-sum: identical under any partitioning/order
    assert a == b
    # a single-row edit must change exactly its own bucket
    edited = df.withColumn(
        "payload",
        F.when(F.col("k") == 42, F.lit("tampered")).otherwise(F.col("payload")),
    )
    c = fp(edited)
    diff_buckets = {bk for bk in a if a[bk] != c[bk]}
    assert diff_buckets == {42 % 8}


def test_winsorized_stats_exact_bounds(spark):
    # 20 rows, one group: lo_rank = ceil(20*5/100) = 1, hi_rank =
    # ceil(20*95/100) = 19 -> lo = min, hi = 19th smallest (=900);
    # the 1000 outlier clips to 900
    vals = [v * 10 for v in range(1, 20)] + [1000]  # 10..190, 1000
    df = spark.createDataFrame(
        [(i, "g", v) for i, v in enumerate(vals)], "event_id long, t string, v long"
    )
    out = audit.winsorized_stats(
        df, "t", F.col("v"), F.col("event_id"), lo_pct=5, hi_pct=95
    ).collect()
    assert len(out) == 1
    r = out[0]
    s = sorted(vals)
    lo, hi = s[0], s[18]
    assert (r["lo_cents"], r["hi_cents"]) == (lo, hi)
    assert (r["n_clip_lo"], r["n_clip_hi"]) == (0, 1)
    assert r["wsum_cents"] == sum(min(max(v, lo), hi) for v in vals)
    assert r["n_rows"] == 20


def test_incremental_diff_equals_full_and_prunes(spark):
    # 400 keys, ONE changed row: the incremental path must (a) equal the
    # full diff exactly and (b) actually prune — its dirty-bucket filter
    # compiles to a broadcast left-semi join, and with 16 buckets the
    # clean ~15/16 of both snapshots are never shuffled into the
    # full-outer diff
    # value change on k=123 plus a value->NULL flip on k=200 (the row
    # repr renders NULL with a sentinel, so the flip cannot collide with
    # concat_ws's null-skipping and escape dirty-bucket detection)
    old = spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    new = old.withColumn(
        "v",
        F.when(F.col("k") == 123, F.lit(-1)).when(
            F.col("k") == 200, F.lit(None).cast("long")
        ).otherwise(F.col("v")),
    )
    inc = audit.incremental_snapshot_diff(old, new, ["k"], ["v"], n_buckets=16)
    full = audit.snapshot_diff(old, new, ["k"], ["v"])
    to_d = lambda df: {r["diff_kind"]: r["n"] for r in df.collect()}
    got, want = to_d(inc), to_d(full)
    assert got == want
    assert want == {
        "added": 0,
        "removed": 0,
        "changed": 2,
        "unchanged": 398,
        "changed:v": 2,
    }
    plan = inc._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan  # the dirty-bucket pruning filter


def test_incremental_diff_zero_change_short_circuits(spark):
    # identical snapshots: every bucket is clean, the dirty diff is
    # empty, and all rows surface as unchanged via the count-only path
    df = spark.range(300).select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    got = {
        r["diff_kind"]: r["n"]
        for r in audit.incremental_snapshot_diff(df, df, ["k"], ["v"], n_buckets=8).collect()
    }
    assert got == {
        "added": 0,
        "removed": 0,
        "changed": 0,
        "unchanged": 300,
        "changed:v": 0,
    }


def test_snapshot_diff_partition_identity(spark):
    # structural invariant over a messy fixture: the four statuses
    # partition the key universe — added + removed + changed + unchanged
    # == |keys(old) U keys(new)| — and each per-column changed count is
    # bounded by the total changed count
    old = spark.range(0, 500).select(
        F.col("id").alias("k"),
        (F.col("id") % 13).alias("a"),
        F.when(F.col("id") % 11 == 0, None).otherwise(F.col("id") % 5).alias("b"),
    )
    new = (
        spark.range(100, 620)
        .select(
            F.col("id").alias("k"),
            F.when(F.col("id") % 17 == 0, -1).otherwise(F.col("id") % 13).alias("a"),
            F.when(F.col("id") % 7 == 0, None).otherwise(F.col("id") % 5).alias("b"),
        )
    )
    got = {
        r["diff_kind"]: r["n"]
        for r in audit.snapshot_diff(old, new, ["k"], ["a", "b"]).collect()
    }
    n_union = 620  # keys 0..619
    assert got["added"] + got["removed"] + got["changed"] + got["unchanged"] == n_union
    assert got["changed:a"] <= got["changed"] and got["changed:b"] <= got["changed"]
    assert got["changed"] <= got["changed:a"] + got["changed:b"]
    # and the incremental path agrees on the same messy fixture
    inc = {
        r["diff_kind"]: r["n"]
        for r in audit.incremental_snapshot_diff(old, new, ["k"], ["a", "b"], n_buckets=32).collect()
    }
    assert inc == got


def test_incremental_diff_delimiter_collision_detected(spark):
    # ('a|b','c') -> ('a','b|c'): a bare-delimiter row repr renders both
    # as 'a|b|c' and would prune the bucket as clean; the len-prefixed
    # injective encoding must flag it changed on the incremental path
    old = spark.createDataFrame([(1, "a|b", "c")], "k long, s1 string, s2 string")
    new = spark.createDataFrame([(1, "a", "b|c")], "k long, s1 string, s2 string")
    for fn in (audit.snapshot_diff, lambda o, n, k, c: audit.incremental_snapshot_diff(o, n, k, c, n_buckets=4)):
        got = {r["diff_kind"]: r["n"] for r in fn(old, new, ["k"], ["s1", "s2"]).collect()}
        assert got["changed"] == 1 and got["unchanged"] == 0, got


def test_incremental_diff_null_keys_never_match(spark):
    # identical NULL-keyed rows fingerprint as matching, but the
    # full-outer join never equates NULL keys — the dedicated
    # always-dirty bucket must hand them to the join, so both paths
    # report added=1/removed=1 (plus the normal row unchanged)
    old = spark.createDataFrame([(None, "a"), (7, "x")], "k string, v string")
    new = spark.createDataFrame([(None, "a"), (7, "x")], "k string, v string")
    for fn in (audit.snapshot_diff, lambda o, n, k, c: audit.incremental_snapshot_diff(o, n, k, c, n_buckets=4)):
        got = {r["diff_kind"]: r["n"] for r in fn(old, new, ["k"], ["v"]).collect()}
        assert got == {
            "added": 1,
            "removed": 1,
            "changed": 0,
            "unchanged": 1,
            "changed:v": 0,
        }, got


def test_order_stat_summary_known_deciles(spark):
    # 20 values 10..200: decile k sits at rank ceil(20k/10) = 2k, i.e.
    # value 20k; a 1-row group maps ALL bands to rank 1
    rows = [(i, "g", (i + 1) * 10) for i in range(20)] + [(100, "solo", 7)]
    df = spark.createDataFrame(rows, "event_id long, t string, v long")
    out = audit.order_stat_summary(
        df, "t", F.col("v"), F.col("event_id"), n_bands=10
    ).collect()
    got = {(r["t"], r["band"]): r["cents"] for r in out}
    assert len(out) == 18  # 9 bands x 2 groups
    for k in range(1, 10):
        assert got[("g", k)] == 20 * k
        assert got[("solo", k)] == 7


def test_order_stat_summary_rejects_degenerate_bands(spark):
    import pytest

    df = spark.createDataFrame([(1, "g", 5)], "event_id long, t string, v long")
    for nb in (0, 1):
        with pytest.raises(ValueError, match="n_bands"):
            audit.order_stat_summary(df, "t", F.col("v"), F.col("event_id"), n_bands=nb)


def test_ks_hand_case_and_partition_invariance(spark):
    # A = {1,2,3}, B = {2,3,4}: max |F_a - F_b| = 1/3, first attained at
    # v=1 -> ks_ppm = 333333, at_value_micros = 1e6
    rows = [("g", 1.0, 1), ("g", 2.0, 1), ("g", 3.0, 1),
            ("g", 2.0, 0), ("g", 3.0, 0), ("g", 4.0, 0)]
    df = spark.createDataFrame(rows, "g string, v double, a int")
    out = audit.distribution_drift_ks(
        df, "g", F.col("v"), F.col("a") == 1
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["ks_ppm"], r["at_value_micros"], r["n_a"], r["n_b"]) == (
        333333, 1000000, 3, 3,
    )
    # identical slices -> D = 0, argmax tie resolves to the smallest value
    same = spark.createDataFrame(
        [("g", float(v), a) for v in (5, 6, 7) for a in (0, 1)],
        "g string, v double, a int",
    )
    z = audit.distribution_drift_ks(same, "g", F.col("v"), F.col("a") == 1).collect()[0]
    assert z["ks_ppm"] == 0 and z["at_value_micros"] == 5000000
    # partition-count invariance (retry/layout reproducibility)
    r16 = audit.distribution_drift_ks(
        df.repartition(16), "g", F.col("v"), F.col("a") == 1
    ).collect()[0]
    assert tuple(r16) == tuple(r)


def test_ks_randomized_vs_python_reference(spark):
    """Random grouped samples (ties on purpose: integer-ish values),
    one Spark run, per-group compare against a pure-Python exact-KS
    reference computed in the same cross-multiplied integer domain."""
    import random
    from collections import defaultdict

    rng = random.Random(6)
    rows = [
        (f"g{rng.randint(0, 3)}", float(rng.randint(0, 12)), rng.randint(0, 1))
        for _ in range(600)
    ]
    df = spark.createDataFrame(rows, "g string, v double, a int")
    got = {
        r["g"]: (r["ks_ppm"], r["at_value_micros"], r["n_a"], r["n_b"])
        for r in audit.distribution_drift_ks(
            df, "g", F.col("v"), F.col("a") == 1
        ).collect()
    }
    per = defaultdict(lambda: defaultdict(lambda: [0, 0]))
    for g, v, a in rows:
        per[g][v][0 if a else 1] += 1
    for g, counts in per.items():
        na = sum(c[0] for c in counts.values())
        nb = sum(c[1] for c in counts.values())
        ca = cb = 0
        best = (-1, None)
        for v in sorted(counts):
            ca += counts[v][0]
            cb += counts[v][1]
            diff = abs(ca * nb - cb * na)
            vm = int(v * 1000000 // 1)
            if diff > best[0]:
                best = (diff, vm)
        expect = (1000000 * best[0] // (na * nb), best[1], na, nb)
        assert got[g] == expect, (g, got[g], expect)


def test_ks_null_values_are_dropped(spark):
    # NULLs are not CDF points; they must not perturb the statistic
    # (and Spark/DuckDB disagree on NULL sort placement, so letting
    # them through would diverge cross-engine)
    base = [("g", 1.0, 1), ("g", 2.0, 1), ("g", 3.0, 1),
            ("g", 2.0, 0), ("g", 3.0, 0), ("g", 4.0, 0)]
    with_nulls = base + [("g", None, 1), ("g", None, 0), ("g", None, 0)]
    df = spark.createDataFrame(with_nulls, "g string, v double, a int")
    r = audit.distribution_drift_ks(df, "g", F.col("v"), F.col("a") == 1).collect()[0]
    assert (r["ks_ppm"], r["at_value_micros"], r["n_a"], r["n_b"]) == (
        333333, 1000000, 3, 3,
    )


def test_ks_one_sided_group_is_dropped(spark):
    """A group whose rows all fall in one slice has no two-sample KS:
    the contract is that such groups are filtered, never a NULL ks_ppm
    from a 0-denominator division (r6 ADVICE)."""
    rows = [
        ("two_sided", 1.0, 1), ("two_sided", 2.0, 0),
        ("all_a", 1.0, 1), ("all_a", 2.0, 1),
        ("all_b", 3.0, 0),
    ]
    df = spark.createDataFrame(rows, "g string, v double, a int")
    out = audit.distribution_drift_ks(df, "g", F.col("v"), F.col("a") == 1)
    got = {r["g"]: r["ks_ppm"] for r in out.collect()}
    assert set(got) == {"two_sided"}
    assert got["two_sided"] == 1000000  # disjoint single points: D = 1


def test_winsorize_and_deciles_randomized_vs_python_reference(spark):
    """Random grouped integer values with heavy ties, one Spark run each,
    per-group compare against pure-Python exact-rank references: bound
    rank = max(1, ceil(k*n/100)) for winsorize, band rank = max(1,
    ceil(k*n/10)) for deciles — the values AT those ranks in the sorted
    multiset, no interpolation anywhere."""
    import math
    import random
    from collections import defaultdict

    rng = random.Random(6)
    rows = [
        (i, f"g{rng.randint(0, 4)}", rng.randint(-30, 30)) for i in range(700)
    ]
    df = spark.createDataFrame(rows, "event_id long, t string, v long")
    per = defaultdict(list)
    for _, g, v in rows:
        per[g].append(v)

    wout = {
        r["t"]: r
        for r in audit.winsorized_stats(
            df, "t", F.col("v"), F.col("event_id"), lo_pct=5, hi_pct=95
        ).collect()
    }
    assert set(wout) == set(per)
    for g, vals in per.items():
        s = sorted(vals)
        n = len(s)
        lo = s[max(1, math.ceil(n * 5 / 100)) - 1]
        hi = s[max(1, math.ceil(n * 95 / 100)) - 1]
        r = wout[g]
        assert (r["n_rows"], r["lo_cents"], r["hi_cents"]) == (n, lo, hi), g
        assert r["n_clip_lo"] == sum(1 for v in vals if v < lo), g
        assert r["n_clip_hi"] == sum(1 for v in vals if v > hi), g
        assert r["wsum_cents"] == sum(min(max(v, lo), hi) for v in vals), g

    dout = defaultdict(dict)
    for r in audit.order_stat_summary(
        df, "t", F.col("v"), F.col("event_id"), n_bands=10
    ).collect():
        dout[r["t"]][r["band"]] = r["cents"]
    for g, vals in per.items():
        s = sorted(vals)
        n = len(s)
        for k in range(1, 10):
            assert dout[g][k] == s[max(1, math.ceil(n * k / 10)) - 1], (g, k)


def test_bucket_fingerprint_xxhash_negative_values_fold_additively(spark):
    """The r13 internal-hash swap (incremental_snapshot_diff passes
    F.xxhash64 to bucket_fingerprint): xxhash64 is full-range SIGNED, so
    the decimal sum sees negative addends — the mod-2^63 fold must stay
    commutative/partition-invariant and merge-additive exactly as with
    the non-negative portable hash."""
    df = spark.createDataFrame(
        [(i, f"row-{i}") for i in range(300)], "k long, payload string"
    )
    row = F.concat_ws("|", F.col("k").cast("string"), F.col("payload"))
    # at least one row hash must be negative for this test to bite
    neg = df.select(F.min(F.xxhash64(row)).alias("m")).collect()[0].m
    assert neg < 0

    def fp(d):
        return {
            r["bucket"]: (r["n_rows"], r["fingerprint"])
            for r in audit.bucket_fingerprint(
                d, F.col("k"), row, 8, F.xxhash64
            ).collect()
        }

    a = fp(df.repartition(11))
    assert a == fp(df.repartition(3))  # partition/order invariant
    assert all(v[1] >= 0 for v in a.values())  # folded into [0, 2^63)
    # merge additivity: fingerprint(whole) == merge(fingerprint(halves))
    lo = audit.bucket_fingerprint(
        df.where("k < 150"), F.col("k"), row, 8, F.xxhash64
    )
    hi = audit.bucket_fingerprint(
        df.where("k >= 150"), F.col("k"), row, 8, F.xxhash64
    )
    merged = {
        r["bucket"]: (r["n_rows"], r["fingerprint"])
        for r in audit.merge_fingerprints(lo.unionAll(hi)).collect()
    }
    assert merged == a
