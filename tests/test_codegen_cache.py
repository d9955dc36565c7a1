"""The session's generated-class cache holds the benchmark's working set.

Spark caches the classes Janino compiles for whole-stage codegen in one
JVM-wide LRU keyed by the generated source. At its default of 100 entries
the perfbench ``tpch_sql`` queries (121 classes) evict each other, so
every warm pass recompiled most of them. session.py sizes the cache for
the whole registry; this pins that a second pass over the same queries
compiles (almost) nothing.
"""

from __future__ import annotations

import os

from hadoop_0_20_2_ljx_spark.queries import REGISTRY
from tests.conftest import SF_SMOKE

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")


def _compiles(spark) -> int:
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_outlives_a_tpch_pass(spark, monkeypatch):
    """Two passes of perfbench's tpch_sql queries at sf0.001 in one
    session: the second may compile at most 5% of what the first did (q21
    recompiles a few classes now and then). With Spark's default cache of
    100 the passes compiled 121 and then 92 classes."""
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= 4096
    monkeypatch.syspath_prepend(PERFBENCH)
    from workloads import TPCH_SQL

    deltas = []
    for _ in range(2):
        before = _compiles(spark)
        for name in TPCH_SQL:
            REGISTRY[name].spark(spark, SF_SMOKE).toPandas()
        deltas.append(_compiles(spark) - before)
    first, second = deltas
    assert second <= 0.05 * first, f"compiles per pass: {deltas}"


def test_knn_guard_compiles_once(spark):
    """brute_force_knn's bounded query-side probe compiles its classes once
    per session: a whole-stage ``limit`` names its counter from a JVM-wide
    sequence, so the old ``limit(max_queries + 1).count()`` probe generated
    new source, and recompiled 2 classes, on every call. The probe must
    still refuse a query side over the cap."""
    import pytest

    from hadoop_0_20_2_ljx_spark import catalog
    from hadoop_0_20_2_ljx_spark.extensions import similarity

    def knn(max_queries: int = 100_000):
        emb = catalog.load(spark, SF_SMOKE, "embeddings")
        queries = emb.filter("vec_id < 5")
        return similarity.brute_force_knn(emb, queries, k=10, max_queries=max_queries)

    knn()
    before = _compiles(spark)
    knn()
    assert _compiles(spark) - before == 0
    with pytest.raises(ValueError, match="max_queries=4"):
        knn(max_queries=4)
    knn(max_queries=5)
