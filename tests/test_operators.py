"""Unit tests for operator-library pieces with real logic of their own
(the oracle corpus covers end-to-end semantics; these cover edges)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from hadoop_0_20_2_ljx_spark.operators.generators import halton, halton_pi_exact
from hadoop_0_20_2_ljx_spark.operators.joins import override_join
from hadoop_0_20_2_ljx_spark.operators.scans import kv_split
from hadoop_0_20_2_ljx_spark.operators.sorts import secondary_sort_stream
from hadoop_0_20_2_ljx_spark.operators.transforms import field_selection, parse_field_spec
from hadoop_0_20_2_ljx_spark.plans.jobcontrol import Job, JobControl


class TestFieldSpec:
    """FieldSelectionMapReduce spec grammar (FieldSelectionMapReduce.java:25-60)."""

    def test_singles(self):
        assert parse_field_spec("4,3,0") == [(4, 5), (3, 4), (0, 1)]

    def test_closed_range(self):
        assert parse_field_spec("1-3") == [(1, 4)]

    def test_open_range(self):
        assert parse_field_spec("7-") == [(7, None)]

    def test_mixed(self):
        assert parse_field_spec("2,0,3-") == [(2, 3), (0, 1), (3, None)]

    def test_selection(self, spark):
        df = spark.createDataFrame([("a|b|c|d|e",)], ["line"])
        out = field_selection(df, "line", "1,3-", sep=r"\|", out_sep="|").collect()
        assert out[0].selected == "b|d|e"


class TestKvSplit:
    def test_first_separator_only(self, spark):
        df = spark.createDataFrame([("k v1 v2",), ("lonely",)], ["line"])
        rows = {r.key: r.value for r in kv_split(df, "line", sep=" ").collect()}
        # reference: key = bytes before first sep, value = rest; no sep -> whole
        # line is key, empty value (KeyValueLineRecordReader.java:87)
        assert rows == {"k": "v1 v2", "lonely": ""}


class TestOverrideJoin:
    def test_rightmost_wins(self, spark):
        a = spark.createDataFrame([(1, "a1"), (2, "a2")], ["k", "v"])
        b = spark.createDataFrame([(2, "b2"), (3, "b3")], ["k", "v"])
        out = {r.k: r.v for r in override_join([a, b], "k", "v").collect()}
        assert out == {1: "a1", 2: "b2", 3: "b3"}

    def test_three_sources(self, spark):
        a = spark.createDataFrame([(1, "a")], ["k", "v"])
        b = spark.createDataFrame([(1, "b"), (2, "b")], ["k", "v"])
        c = spark.createDataFrame([(2, "c")], ["k", "v"])
        out = {r.k: r.v for r in override_join([a, b, c], "k", "v").collect()}
        assert out == {1: "b", 2: "c"}

    def test_nary_query_plan_is_equi_join_only(self, spark):
        # the n-ary coalesce chain must stay BHJ/SMJ — a NestedLoop or
        # cartesian here would make override(a,b,c) explode at scale
        from hadoop_0_20_2_ljx_spark.queries import REGISTRY
        from tests.conftest import SF_SMOKE

        df = REGISTRY["q_join_override"].spark(spark, SF_SMOKE)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestSecondarySortStream:
    def test_groups_contiguous_and_ordered(self, spark):
        df = spark.createDataFrame(
            [(1, 3), (2, 1), (1, 1), (2, 9), (1, 2)], ["k", "v"]
        )
        out = secondary_sort_stream(df, "k", F.col("v"))

        def check(batches):
            import pandas as pd

            seen, last_k, last_v = [], None, None
            for pdf in batches:
                for k, v in zip(pdf["k"], pdf["v"]):
                    if k != last_k:
                        assert k not in seen, "group split across runs"
                        seen.append(k)
                        last_v = None
                    assert last_v is None or v >= last_v
                    last_k, last_v = k, v
            yield pd.DataFrame({"groups": [len(seen)]})

        total = (
            out.mapInPandas(check, schema="groups int").agg(F.sum("groups")).collect()[0][0]
        )
        assert total == 2


class TestHalton:
    def test_deterministic_known_values(self):
        # van der Corput base 2: index 0 -> 1/2, index 1 -> 1/4, index 2 -> 3/4
        assert halton(0)[0] == pytest.approx(0.5)
        assert halton(1)[0] == pytest.approx(0.25)
        assert halton(2)[0] == pytest.approx(0.75)
        # base 3 second dim
        assert halton(0)[1] == pytest.approx(1 / 3)

    def test_pi_converges(self):
        assert halton_pi_exact(10000) == pytest.approx(3.1416, abs=0.01)


class TestJobControl:
    def test_dag_order_and_results(self):
        jc = JobControl()
        jc.add_job(Job("a", lambda deps: 1))
        jc.add_job(Job("b", lambda deps: deps["a"] + 1, deps=["a"]))
        jc.add_job(Job("c", lambda deps: deps["a"] + deps["b"], deps=["a", "b"]))
        results = jc.run()
        assert results == {"a": 1, "b": 2, "c": 3}
        assert all(s == "SUCCESS" for s in jc.states.values())

    def test_failure_marks_dependents(self):
        jc = JobControl()
        jc.add_job(Job("a", lambda deps: 1 / 0))
        jc.add_job(Job("b", lambda deps: 2, deps=["a"]))
        with pytest.raises(ZeroDivisionError):
            jc.run()
        assert jc.states["a"] == "FAILED"

    def test_cycle_detection(self):
        jc = JobControl()
        jc.add_job(Job("a", lambda deps: 1, deps=["b"]))
        jc.add_job(Job("b", lambda deps: 1, deps=["a"]))
        with pytest.raises(RuntimeError, match="cycle"):
            jc.run()

    def test_observed_counters(self, spark):
        df = spark.range(100)
        # the reference's Counters as observe() metrics: computed during
        # the existing action, no extra pass (Task.java:65-79)
        obs = Observation("counts")
        df2 = df.observe(obs, F.count("*").alias("n"), F.sum("id").alias("s"))
        df2.write.format("noop").mode("overwrite").save()
        assert obs.get == {"n": 100, "s": 4950}


class TestScratchDir:
    """queries/base.scratch_dir: pid-suffixed, atexit-removed (r6 ADVICE —
    gate/sweep runs must not leak scratch text files under TMP_ROOT)."""

    def test_removed_at_interpreter_exit(self, tmp_path):
        import subprocess
        import sys
        import textwrap

        probe = textwrap.dedent(
            """
            import os, sys
            import hadoop_0_20_2_ljx_spark.queries.base as base
            base.TMP_ROOT = sys.argv[1]
            p = base.scratch_dir("probe")
            os.makedirs(p, exist_ok=True)
            open(os.path.join(p, "f.txt"), "w").write("x")
            print(p)
            """
        )
        out = subprocess.run(
            [sys.executable, "-c", probe, str(tmp_path)],
            capture_output=True, text=True, check=True, cwd="/root/repo",
        )
        path = out.stdout.strip().splitlines()[-1]
        assert path.startswith(str(tmp_path))
        assert not os.path.exists(path)  # atexit rmtree ran on exit

    def test_pid_suffix_isolates_concurrent_runs(self):
        from hadoop_0_20_2_ljx_spark.queries.base import scratch_dir

        assert scratch_dir("x").endswith(f"x-{os.getpid()}")
