"""Interior-stage task-retry probe — the one regime tools/sweep.py's
retry axis documents as uncovered: a task of a MIDDLE stage (reads
shuffle, writes shuffle) re-executed after its first attempt dies
mid-flight.

Run (one-off scale evidence, ~2 min):

    python tools/retry_interior_probe.py

Expect a final ``INTERIOR RETRY OK`` line.

The sweep's attempt-0 injector lives in Python stages, so it can only
force retries of stages containing a table scan or the result
collection. This probe closes the gap differently: it runs a deliberate
three-stage JVM-only job (range scan -> exchange on k1 -> expensive
md5-chain projection -> exchange on k2 -> aggregate), finds the interior
stage at RUNTIME via the UI REST store (the active stage with BOTH
shuffle-read and shuffle-write bytes), and kills several of its RUNNING
first attempts with SparkContext.killTaskAttempt — the same code path a
lost executor or a speculation kill takes (reference analog: the
mapOutputLost -> re-execute transition, mapred/TaskTracker.java:2419).
A TaskKilled attempt is rescheduled without counting toward
task.maxFailures, so the job completes; the probe then asserts

  1. vacuity: the REST store records > 0 killed tasks in the interior
     stage (the kill really landed mid-stage, not after completion);
  2. determinism: count + decimal xxhash64 value-sum of the final
     aggregate are IDENTICAL to an undisturbed run of the same plan —
     the partition bytes an interior retry regenerates feed downstream
     consumers bit-equally.

The md5 chain exists to hold the interior stage on-CPU for several
seconds so the kill window is wide; the probe retries the kill loop
until at least one lands or the job finishes (a job that finishes first
FAILS the vacuity assert rather than passing silently).
"""

from __future__ import annotations

import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_ROWS = 12_000_000
MD5_CHAIN = 6  # per-row md5 iterations in the interior projection


def _plan(spark):
    from pyspark.sql import functions as F

    df = spark.range(N_ROWS).select(
        F.pmod(F.xxhash64("id"), F.lit(512)).alias("k1"),
        F.pmod(F.xxhash64(F.col("id") + 1), F.lit(512)).alias("k2"),
        F.col("id").alias("v"),
    )
    # exchange on k1, then an expensive projection (the interior stage's
    # work), then exchange on k2 into the final aggregate
    mid = df.repartition(64, "k1")
    expr = F.col("v").cast("string")
    for _ in range(MD5_CHAIN):
        expr = F.md5(expr)
    mid = mid.withColumn("h", expr)
    return (
        mid.groupBy("k2")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("k1", "v", "h").cast("decimal(38,0)")).alias("hs"),
        )
        .agg(
            F.count(F.lit(1)).alias("groups"),
            F.sum("n").alias("rows"),
            F.sum("hs").alias("hash_sum"),
        )
    )


def main() -> int:
    from pyspark.sql import SparkSession

    from bench import read_stages

    spark = (
        SparkSession.builder.master("local[32, 4]")
        .appName("retry-interior-probe")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.retainedStages", "100000")
        # AQE re-plans between shuffles and can fold/renumber the interior
        # stage while we are polling it; the probe targets the static
        # three-stage shape (determinism itself is AQE-swept elsewhere)
        .config("spark.sql.adaptive.enabled", "false")
        .getOrCreate()
    )
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")

    clean = tuple(_plan(spark).first())
    print(f"clean run: groups={clean[0]} rows={clean[1]}")

    result: dict[str, tuple] = {}

    def run_job():
        result["killed_run"] = tuple(_plan(spark).first())

    t = threading.Thread(target=run_job)
    t.start()
    kills = 0
    interior_sid = None
    while t.is_alive():
        try:
            active = read_stages(spark, "?status=active")
        except Exception:
            time.sleep(0.1)
            continue
        for s in active:
            if s.get("shuffleReadBytes", 0) > 0 and (
                s.get("shuffleWriteBytes", 0) > 0 or s.get("numTasks", 0) == 64
            ):
                # the interior stage (reads the k1 exchange, writes the k2
                # exchange; write bytes may lag, so the 64-task signature
                # of the repartition stage is an accepted early marker)
                sid = s["stageId"]
                try:
                    tasks = read_stages(
                        spark, f"/{sid}/0/taskList?length=500&status=RUNNING"
                    )
                except Exception:
                    continue
                for task in tasks:
                    if task.get("attempt", 0) == 0 and kills < 8:
                        ok = sc._jsc.sc().killTaskAttempt(
                            int(task["taskId"]), False,
                            "retry_interior_probe: injected mid-stage kill",
                        )
                        if ok:
                            kills += 1
                            interior_sid = sid
        time.sleep(0.05)
    t.join()

    assert kills > 0 and interior_sid is not None, (
        "VACUOUS: the job finished before any interior-stage task could "
        "be killed — raise N_ROWS/MD5_CHAIN so the interior stage is wide "
        "enough to hit"
    )
    stage = read_stages(spark, f"/{interior_sid}")
    killed_recorded = sum(a.get("numKilledTasks", 0) for a in stage)
    assert killed_recorded > 0, (
        f"kill calls returned true but stage {interior_sid} records no "
        f"killed tasks — the kills landed after completion"
    )
    assert result["killed_run"] == clean, (
        f"interior retry changed the result: {result['killed_run']} vs "
        f"clean {clean}"
    )
    print(
        f"INTERIOR RETRY OK: {kills} mid-stage kills "
        f"(stage {interior_sid}, {killed_recorded} recorded), "
        f"result bit-identical to the clean run "
        f"(groups={clean[0]}, rows={clean[1]}, hash_sum={clean[2]})"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
