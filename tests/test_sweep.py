"""The invariance-sweep harness (tools/sweep.py): its diff rule, its
expected sets and its fixture builders need no Spark; the split axis's
check runs on the test session, and one smoke test runs a real axis on
two queries in a child process."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys

import pytest

from hadoop_0_20_2_ljx_spark.catalog import TABLES
from tests.conftest import SF_SMOKE, SF_T2

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SWEEP_PY = os.path.join(REPO, "tools", "sweep.py")


@pytest.fixture(scope="module")
def sweep():
    spec = importlib.util.spec_from_file_location("sweep", SWEEP_PY)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _result(outcomes, problems=()):
    return {"outcomes": outcomes, "problems": list(problems)}


def test_judge_holds_when_failures_match_the_expected_set(sweep):
    v = sweep.judge(0, _result({"a": None, "b": "hash x/y"}), {"b"})
    assert v["problems"] == []
    assert (v["pass"], v["fail"], v["expected"], v["failed"]) == (1, 1, 1, ["b"])


def test_judge_fails_an_unexpected_divergence(sweep):
    v = sweep.judge(0, _result({"a": "EXCEPTION", "b": "hash x/y"}), {"b"})
    assert len(v["problems"]) == 1 and "unexpected divergence: ['a']" in v["problems"][0]


def test_judge_fails_a_listed_name_that_now_passes(sweep):
    v = sweep.judge(0, _result({"a": None, "b": None}), {"b"})
    assert len(v["problems"]) == 1 and "now passing" in v["problems"][0]
    assert "['b']" in v["problems"][0]


def test_judge_ignores_listed_names_that_were_not_replayed(sweep):
    # --only: an expected name outside the replayed subset is no signal
    v = sweep.judge(0, _result({"a": None}), {"b"})
    assert v["problems"] == [] and v["expected"] == 0


def test_judge_fails_a_crash_or_an_empty_replay(sweep):
    crashed = sweep.judge(1, None, set())
    assert crashed["problems"] and crashed["pass"] == 0
    # a non-zero exit fails even after a clean-looking result
    assert sweep.judge(1, _result({"a": None}), set())["problems"]
    empty = sweep.judge(0, _result({}), set())
    assert empty["problems"] == ["zero queries replayed"]
    assert sweep.judge(0, _result({"a": None}, ["conf x"]), set())["problems"] == ["conf x"]


def test_a_raising_check_fails_the_axis_and_keeps_the_outcomes(sweep):
    def check(spark, data):
        raise OSError("no UI")

    axis = sweep.AXES["spill"]._replace(check=check)
    problem = sweep.run_check(axis, None, SF_SMOKE)
    assert problem == "check raised OSError('no UI')"
    v = sweep.judge(0, _result({"a": None}, [problem]), set())
    assert v["problems"] == [problem] and v["pass"] == 1
    assert sweep.run_check(sweep.AXES["durable"], None, SF_SMOKE) is None


def test_full_run_records_the_clean_head(sweep, tmp_path, monkeypatch):
    def git(*args):
        subprocess.run(["git", *args], cwd=tmp_path, check=True, capture_output=True)

    (tmp_path / "SWEEPS.json").write_text("{}\n")
    git("init", "-q")
    git("add", "SWEEPS.json")
    git("-c", "user.name=t", "-c", "user.email=t@t", "commit", "-qm", "init")
    monkeypatch.setattr(sweep, "REPO", str(tmp_path))
    monkeypatch.setattr(sweep, "run_axis", lambda name, sf, only: {
        **sweep.judge(0, _result({"a": None}), set()), "wall_s": 0.0})
    assert sweep.main([]) == 0
    record = json.loads((tmp_path / "SWEEPS.json").read_text())
    assert record["git_head"] and not record["git_head"].endswith("-dirty")
    assert record["axes"].keys() == sweep.AXES.keys()


def test_conf_axes_default_to_the_gate_fixture(sweep):
    # the mutated-fixture axes' expected sets are measured at sf0.001;
    # every other axis replays the driver gate's sf0.01 unless --sf says so
    mutated = {"null", "nonfinite", "unicode", "epoch", "empty"}
    for axis, row in sweep.AXES.items():
        assert row.sf == (SF_SMOKE if axis in mutated else SF_T2), axis


def test_expected_names_are_registry_queries(sweep):
    import __spark_entry__

    names = __spark_entry__.queries().keys()
    for axis, row in sweep.AXES.items():
        stale = sorted(set(row.expected) - names)
        assert not stale, f"{axis}: {stale}"


@pytest.mark.parametrize("axis", ["null", "nonfinite", "unicode", "epoch", "empty"])
def test_fixture_builder_deterministic_schema_keeping_and_applied(sweep, axis, tmp_path):
    import pyarrow.parquet as pq

    row = sweep.AXES[axis]
    dirs = [tmp_path / "a", tmp_path / "b"]
    for d in dirs:
        d.mkdir()
        sweep.build_fixture(row.fixture, SF_SMOKE, str(d))
    for t in TABLES:
        a, b = ((d / f"{t}.parquet").read_bytes() for d in dirs)
        assert a == b, f"{axis}: {t} differs between two builds"
        src = pq.read_schema(f"{SF_SMOKE}/{t}.parquet")
        assert pq.read_schema(dirs[0] / f"{t}.parquet").equals(src, check_metadata=True), t
    assert row.check(None, str(dirs[0])) is None
    assert row.check(None, SF_SMOKE) is not None, f"{axis}: check passes unmutated input"


def test_split_fixture_keeps_rows_in_many_row_groups(sweep, tmp_path):
    import pyarrow.parquet as pq

    row = sweep.AXES["split"]
    dirs = [tmp_path / "a", tmp_path / "b"]
    for d in dirs:
        d.mkdir()
        sweep.build_fixture(row.fixture, SF_T2, str(d), row.row_group_rows)
    for t in TABLES:
        a, b = ((d / f"{t}.parquet").read_bytes() for d in dirs)
        assert a == b, f"{t} differs between two builds"
        src = pq.read_table(f"{SF_T2}/{t}.parquet")
        out = pq.read_table(dirs[0] / f"{t}.parquet")
        assert out.equals(src) and out.schema.equals(src.schema, check_metadata=True), t
    meta = pq.read_metadata(dirs[0] / "lineitem.parquet")
    assert meta.num_row_groups == meta.num_rows // row.row_group_rows
    assert pq.read_metadata(f"{SF_T2}/lineitem.parquet").num_row_groups == 1


def test_split_check_needs_a_table_scanned_as_many_splits(sweep, spark, tmp_path):
    row = sweep.AXES["split"]
    sweep.build_fixture(row.fixture, SF_T2, str(tmp_path), row.row_group_rows)
    try:
        for k, v in row.conf.items():
            spark.conf.set(k, v)
        assert sweep._check_split(spark, str(tmp_path)) is None
        assert "vacuous" in sweep._check_split(spark, SF_T2)
    finally:
        for k in row.conf:
            spark.conf.unset(k)


def test_spill_threshold_follows_lineitem_rows(sweep):
    assert sweep._spill_threshold(SF_T2) == "1024"
    assert sweep._spill_threshold(os.path.join(os.path.dirname(SF_T2), "sf0.1")) == "8192"


def test_partition_axis_smoke(tmp_path):
    proc = subprocess.run(
        [sys.executable, SWEEP_PY, "partition", "--sf", SF_SMOKE,
         "--only", "q_agg_tpch_q1,q_join_inner"],
        capture_output=True, text=True, cwd=tmp_path, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert "partition: 2 pass, 0 fail of 2 (0 expected)" in proc.stdout
