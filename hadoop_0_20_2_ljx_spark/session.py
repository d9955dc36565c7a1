"""SparkSession factory.

The reference engine's runtime knobs (io.sort.mb, shuffle buffer pct,
speculative execution — MapTask.java:762-764, ReduceTask.java:988-997,
TaskInProgress.java:56-57) map onto Spark's built-in shuffle/AQE/memory
machinery; the only tuning our layer owns is the declarative config below.

Scale posture: these settings are chosen so the same plans survive a
1000-executor cluster — AQE handles skew/coalescing at runtime, partition
sizes are bounded by bytes not file counts, and the session timezone is
pinned to UTC so event-time semantics are cluster-invariant.
"""

from __future__ import annotations

import os
import tempfile
import uuid
import zipfile
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import SparkSession

R = TypeVar("R")

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def ship_package(spark: SparkSession) -> None:
    """Ship this package to Python workers via ``addPyFile``.

    UDF closures reference package modules (e.g. ``generators.halton``),
    which cloudpickle serializes *by reference* — workers must be able to
    import the package. On a cluster that means shipping a zip (the
    ``--py-files`` model); locally it also protects against the driver
    running from a different cwd. Idempotent per SparkContext.
    """
    sc = spark.sparkContext
    if getattr(sc, "_ljx_pkg_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    zpath = os.path.join(tempfile.gettempdir(), f"ljx_spark_pkg_{os.getpid()}.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        for dirpath, _dirs, files in os.walk(pkg_dir):
            for fname in files:
                if fname.endswith(".py"):
                    full = os.path.join(dirpath, fname)
                    zf.write(full, os.path.relpath(full, root))
    sc.addPyFile(zpath)
    sc._ljx_pkg_shipped = True


def count_jobs(spark: SparkSession, fn: Callable[[], R]) -> tuple[R, int]:
    """``fn()`` and the number of Spark jobs it ran from this thread.

    The jobs are counted under a job group of their own; the thread's
    previous group comes back afterwards. The status store is fed by the
    listener bus, which trails the jobs, so it is drained before the count.
    """
    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    prior = [sc.getLocalProperty(k) for k in keys]
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count_jobs")
    try:
        out = fn()
    finally:
        for k, v in zip(keys, prior):
            sc.setLocalProperty(k, v)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def get_spark(
    app_name: str = "ljx-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    local[N] for tests; on a real cluster the master comes from
    spark-submit and everything here still applies.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # AQE: runtime re-plan — partition coalescing, skew-join splitting,
        # dynamic broadcast. Essential at 100 TB where static estimates lie.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Keep AQE's skew detection SIGHTED at cluster reducer counts:
        # past 2000 reduce partitions map statuses are HighlyCompressed
        # and blocks under accurateBlockThreshold (100 MB) are averaged,
        # so a multi-GB hot partition whose per-map contribution is
        # small becomes statistically invisible and skewJoin never
        # fires (measured r12, tools/scale_probe.py skew_aqe: a 2.4 GB
        # hot task survived AQE at 3200 reducers; this factor restored
        # the split, 722.5 -> 44.6 MB max task at 30M rows x 3200
        # reducers). Records blocks >= 5x the median size exactly —
        # negligible map-status memory, inert below 2000 partitions.
        .config("spark.shuffle.accurateBlockSkewedFactor", "5.0")
        # Keep the session's generated classes cached across queries and
        # passes. Spark's codegen cache is one JVM-wide LRU keyed by the
        # generated source, 100 classes by default. The 8 perfbench
        # tpch_sql queries need 121 classes and the 188-query registry
        # about 2,100 at sf0.001, and an LRU that cycles through more
        # entries than it holds misses on every access: at 100 every warm
        # tpch_sql pass recompiled 69-112 of its 121 classes, and a second
        # registry replay in one session 2,610 (measured r15). At 4096,
        # about twice the registry's set, that replay compiles 41-45 (queries
        # whose generated source differs per build) for 15 MB more
        # Metaspace.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # Split sizing: the reference's LJX patch (FileInputFormat.java:211)
        # made split size = max(minSize, min(maxSplitSize, blockSize)) —
        # exactly this knob's model.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.files.openCostInBytes", "4194304")
        # Arrow for every pandas UDF / toPandas hop.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Reliable checkpoints (durable pin mode) are NOT auto-deleted by
        # default; on a long-lived session they accumulate in the
        # checkpoint dir (HDFS in production) until it fills. This cleans
        # a checkpoint's files once its RDD is GC'd.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # Event-time determinism: naive timestamps == UTC (matches DuckDB).
        .config("spark.sql.session.timeZone", "UTC")
        # Fixture parquet stores TIMESTAMP(NANOS); Spark has no nanos type,
        # so read as long and convert in the catalog (floor to micros, which
        # is exactly what DuckDB does when it reads TIMESTAMP_NS).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local[N] runs every executor thread inside the driver JVM — size
        # the heap for N concurrent tasks, not for a thin cluster driver
        # (8g across 32 task threads GC-thrashes under the shuffle-heavy
        # workloads; the container has 128 GiB).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Runtime bloom-filter join reduction (the in-query form of the
        # BloomMapFile pattern; functions/bloom.py covers the cross-query form).
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    )
    resolved_master = master or f"local[{cpus}]"
    if not resolved_master.startswith("local"):
        # Straggler speculation on a real cluster — the reference's
        # TaskInProgress.hasSpeculativeTask model (progress gap 0.2,
        # 60 s lag, mapred/TaskInProgress.java:866-874). Safe here
        # BECAUSE every operator is retry-deterministic (hash salts not
        # rand(), integer sums, tie-broken windows — see SCALE.md), a
        # claim gated mechanically by tools/sweep.py's retry axis: the whole
        # registry replayed with every scan/result task's first attempt
        # force-failed is bit-identical to the clean run (r13: 187/187,
        # 758 real retries). Pointless (and a timing perturbation)
        # inside a single local JVM, so gated on master.
        builder = builder.config("spark.speculation", "true")
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark
