"""catalog.load infers each table's parquet schema once per session.

Spark infers a parquet schema with a one-task job on every
``spark.read.parquet(path)``. catalog.load hands the schema it inferred
first to ``spark.read.schema(...)`` instead, so a warm load plans its scan
without a job. The schema is re-inferred when the files or the confs that
shape it change; the DataFrame itself is never cached.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from hadoop_0_20_2_ljx_spark import catalog
from hadoop_0_20_2_ljx_spark.queries import REGISTRY
from hadoop_0_20_2_ljx_spark.session import count_jobs
from tests.conftest import SF_SMOKE

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")


def _loads(spark, sf_dir: str, name: str):
    """(loaded DataFrame, jobs the load ran)."""
    return count_jobs(spark, lambda: catalog.load(spark, sf_dir, name))


def test_warm_load_runs_no_job_and_keeps_the_schema(spark):
    for name in catalog.TABLES:
        path = catalog.table_path(SF_SMOKE, name)
        catalog.load(spark, SF_SMOKE, name)
        df, jobs = _loads(spark, SF_SMOKE, name)
        assert jobs == 0, name
        cached = catalog._SCHEMAS[spark][path][1]
        fresh = spark.read.parquet(path).schema
        assert cached == fresh, name
        assert cached.json() == fresh.json(), name  # field metadata too
        assert df.count() == pq.ParquetFile(path).metadata.num_rows, name


def test_rewritten_table_is_reinferred(spark, tmp_path):
    path = catalog.table_path(str(tmp_path), "region")
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    assert catalog.load(spark, str(tmp_path), "region").columns == ["a"]
    assert _loads(spark, str(tmp_path), "region")[1] == 0
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df, jobs = _loads(spark, str(tmp_path), "region")
    assert jobs == 1
    assert df.columns == ["a", "b"]
    assert sorted(df.collect()) == [(1, "x"), (2, "y")]


def test_directory_table_is_inferred_on_every_load(spark, tmp_path):
    """Only a single-file table has a file stamp to key the cache on; a
    directory table falls through to plain inference."""
    table = tmp_path / "region.parquet"
    table.mkdir()
    pq.write_table(pa.table({"a": [1]}), str(table / "part-0.parquet"))
    for _ in range(2):
        df, jobs = _loads(spark, str(tmp_path), "region")
        assert (df.columns, jobs) == (["a"], 1)


def test_schema_conf_change_is_reinferred(spark, tmp_path):
    """spark.sql.parquet.binaryAsString turns an unannotated BINARY column
    into a string; flipping it in the session must re-infer."""
    pq.write_table(
        pa.table({"b": pa.array([b"x"], pa.binary())}),
        catalog.table_path(str(tmp_path), "region"),
    )
    key = "spark.sql.parquet.binaryAsString"

    def b_type() -> str:
        return dict(catalog.load(spark, str(tmp_path), "region").dtypes)["b"]

    assert b_type() == "binary"
    spark.conf.set(key, "true")
    try:
        assert b_type() == "string"
        assert _loads(spark, str(tmp_path), "region")[1] == 0
    finally:
        spark.conf.unset(key)
    assert b_type() == "binary"


def test_two_loads_self_join(spark):
    """Each load is a fresh relation with its own attribute ids; a cached
    DataFrame would make both sides one relation and the join key
    comparison trivially resolve against one side."""
    a = catalog.load(spark, SF_SMOKE, "region")
    b = catalog.load(spark, SF_SMOKE, "region")
    assert a.join(b, a.r_regionkey == b.r_regionkey + 1).count() == 4


def test_tpch_builds_run_only_their_pins(spark, monkeypatch):
    """After one warm-up build, perfbench's tpch_sql queries build without a
    job, except q17's and q21's pins (2 jobs each). Without the schema
    cache every table load in a build is one more job."""
    monkeypatch.syspath_prepend(PERFBENCH)
    from workloads import TPCH_SQL

    for name in TPCH_SQL:
        REGISTRY[name].spark(spark, SF_SMOKE)
    jobs = {
        name: count_jobs(spark, lambda n=name: REGISTRY[n].spark(spark, SF_SMOKE))[1]
        for name in TPCH_SQL
    }
    pins = {"q_agg_tpch_q17": 2, "q_agg_tpch_q21": 2}
    assert jobs == {name: pins.get(name, 0) for name in TPCH_SQL}
