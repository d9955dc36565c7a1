"""Natural-memory-pressure probe: the three operator classes every task
on a 100 TB cluster exercises — total-order SORT, sort-merge JOIN, and
hash AGGREGATION — each at a data:execution-memory ratio ~3:1 on a
deliberately capped 16 GB driver heap, so the Tungsten operators spill
because they are OUT OF MEMORY — not because a forced element-count
threshold told them to.

    python tools/pressure_probe.py              # all four, ~15 min
    python tools/pressure_probe.py sort agg     # just the named ops

Complements tools/sweep.py's spill axis from the other side: the axis
proves all 186 registry results survive the spill PATH (forced deterministically
at small data), this proves each operator class survives real PRESSURE.
Every op carries exact result asserts (order+checksum for the sort,
integer count/sum identities for join and agg) and FAILS unless its own
stages actually spilled to disk, so no op can pass vacuously on a roomy
heap.

Ops (execution memory on the 16 GB heap is ~9.4 GB unified):
  sort — TeraGen 300M 100-byte rows (~30 GB of records) through the
         total-order sort + TeraValidate (bench.bench_terasort), r11.
  join — sort-merge join of two 150M-row sides, each row carrying a
         64-char incompressible digest payload (~2x 14 GB through the
         two SMJ sort buffers). Keys pair 1:1 so the result is exactly
         checkable: count == n and sum(k) == n(n-1)/2.
  agg  — groupBy over 300M DISTINCT 32-char string keys (~20+ GB of
         hash-map state): the regime where partial aggregation cannot
         collapse anything and HashAggregate must fall back to
         sort-based aggregation under pressure. count(groups) == n and
         sum(v) == n are exact (md5 collisions in 2^128 don't happen).
  window — the real temporal.asof_join (union + ONE keyed window
         sweep) over 300M rows where a pathological hot user owns 70%
         of them: a ~210M-row window PARTITION must flow through one
         task's sorter (~8+ GB against the shared pool). A window
         cannot be salted — correctness needs the full per-key order —
         so the honest 100 TB posture for a hot window key is "the
         sorter spills and the result is exact", which is what this op
         proves (the skew ladder's per-task metric is the tool that
         tells you to fix the data model instead). Rows pair 1:1 by
         construction (left t=2i+1 matches right t=2i in the same
         user), so count and sum(matched value) are exact integers.

Disk note: tera rows compress ~9:1 in spill files; the join/agg digest
payloads are high-entropy hex (~2:1), so expect a few GB on disk per op.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _stage_spill(spark) -> tuple[float, float, int]:
    """(disk_spill_mb, mem_spill_mb, n_spilling_stages) over all
    completed stages so far — callers take deltas per op."""
    import bench

    stages = bench.read_stages(spark)
    return (
        round(sum(s.get("diskBytesSpilled", 0) for s in stages) / 1e6, 1),
        round(sum(s.get("memoryBytesSpilled", 0) for s in stages) / 1e6, 1),
        sum(1 for s in stages if s.get("diskBytesSpilled", 0) > 0),
    )


def main() -> int:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    import bench

    ops = ["sort", "join", "agg", "window"]
    pick = sys.argv[1:] or ops
    unknown = set(pick) - set(ops)
    if unknown:
        print(f"unknown op(s): {sorted(unknown)}", file=sys.stderr)
        return 2

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("pressure-probe")
        .config("spark.driver.memory", "16g")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "4953")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.ui.retainedJobs", "100000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, dict] = {}

    def run(name: str, n_rows: int, fn) -> None:
        d0, m0, s0 = _stage_spill(spark)
        t = time.time()
        fn()
        wall = time.time() - t
        d1, m1, s1 = _stage_spill(spark)
        # the per-op accounting is a delta of sums over ALL retained
        # stages; if the UI store evicted baseline stages mid-battery the
        # delta goes wrong (possibly negative) and a no-spill guard would
        # fire spuriously — refuse the measurement instead
        assert d1 >= d0 and m1 >= m0 and s1 >= s0, (
            f"{name}: spill-sum delta went NEGATIVE ({d0}->{d1} MB disk, "
            f"{m0}->{m1} MB mem, {s0}->{s1} stages) — UI store evicted "
            f"baseline stages; raise spark.ui.retainedStages"
        )
        out[name] = {
            "rows": n_rows,
            "wall_s": round(wall, 1),
            "disk_spill_mb": round(d1 - d0, 1),
            "mem_spill_mb": round(m1 - m0, 1),
            "n_spilling_stages": s1 - s0,
        }
        assert out[name]["disk_spill_mb"] > 0, f"{name}: no natural spill — vacuous"

    if "sort" in pick:
        # order+checksum asserts inside bench_terasort
        run("sort", 300_000_000, lambda: bench.bench_terasort(spark, n=300_000_000))

    if "join" in pick:
        n = 150_000_000

        def smj() -> None:
            pay = F.concat(
                F.md5(F.col("id").cast("string")),
                F.md5(F.concat(F.lit("r"), F.col("id").cast("string"))),
            )
            left = spark.range(n).select(F.col("id").alias("k"), pay.alias("pay_l"))
            right = spark.range(n).select(F.col("id").alias("k"), pay.alias("pay_r"))
            row = (
                left.join(right, "k")
                .agg(
                    F.count(F.lit(1)).alias("cnt"),
                    F.sum("k").alias("ksum"),
                    # consume both payloads so neither side's exchange
                    # is column-pruned down to the compressible key
                    F.sum(F.length("pay_l") + F.length("pay_r")).alias("psum"),
                )
                .first()
            )
            assert row["cnt"] == n, f"join: {row['cnt']} != {n}"
            assert row["ksum"] == n * (n - 1) // 2, f"join: key sum {row['ksum']}"
            assert row["psum"] == n * 128, f"join: payload length sum {row['psum']}"

        run("join", 2 * n, smj)

    if "agg" in pick:
        n = 300_000_000

        def hashagg() -> None:
            df = spark.range(n).select(
                F.md5(F.col("id").cast("string")).alias("k"), F.lit(1).alias("v")
            )
            grouped = df.groupBy("k").agg(F.sum("v").alias("s"))
            row = grouped.agg(
                F.count(F.lit(1)).alias("groups"), F.sum("s").alias("total")
            ).first()
            assert row["groups"] == n, f"agg: {row['groups']} groups != {n}"
            assert row["total"] == n, f"agg: total {row['total']} != {n}"

        run("agg", n, hashagg)

    if "window" in pick:
        n = 300_000_000

        def hot_window() -> None:
            from hadoop_0_20_2_ljx_spark.extensions import temporal

            # pair i = rows 2i (right, carries value 2i) and 2i+1 (left);
            # both share user(i) = 0 for 70% of pairs (the hot window
            # partition) else i % 100000. The nearest right ts <= 2i+1
            # within the user is exactly 2i, so every left matches its
            # pair's value: count == n/2 and sum(pval) == sum of even
            # ids == (n/2)(n/2 - 1), both exact BIGINTs.
            pair = F.col("id") / 2
            user = F.when(
                F.pmod((pair).cast("long"), F.lit(10)) < 7, F.lit(0)
            ).otherwise(F.pmod((pair).cast("long"), F.lit(100_000)) + 1)
            rows = spark.range(n).select(
                F.col("id").alias("t_us"),
                user.alias("user_id"),
                (F.pmod(F.col("id"), F.lit(2)) == 1).alias("is_left"),
            )
            left = rows.where("is_left").select(
                F.col("t_us").alias("event_id"), "user_id", "t_us"
            )
            right = rows.where(~F.col("is_left")).select(
                "user_id", "t_us", F.col("t_us").alias("pval")
            )
            res = temporal.asof_join(
                left, right, on=["user_id"], left_ts="t_us",
                right_ts="t_us", value_cols=["pval"],
            )
            row = res.agg(
                F.count(F.lit(1)).alias("n_out"),
                F.count("pval").alias("n_matched"),
                F.sum("pval").alias("vsum"),
            ).first()
            half = n // 2
            assert row["n_out"] == half, f"window: {row['n_out']} != {half}"
            assert row["n_matched"] == half, f"window: {row['n_matched']} matched"
            assert row["vsum"] == half * (half - 1), f"window: sum {row['vsum']}"

        run("window", n, hot_window)

    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
