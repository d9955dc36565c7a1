"""refresh_survey.py --check state machine: green / PENDING-REFRESH /
drift.

The driver writes CORRECTNESS_r{N}.json AFTER the round's last commit,
so at every round's HEAD the committed §8 table is legitimately one
artifact behind. The check must treat exactly that state as green
(PENDING-REFRESH) while still failing on any other discrepancy — a
wrong Ext cell, a dropped note, a window mismatch.
"""

from __future__ import annotations

import importlib.util
import json
import os
import re
import shutil

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_tool():
    spec = importlib.util.spec_from_file_location(
        "refresh_survey", os.path.join(REPO, "tools", "refresh_survey.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture()
def sandbox(tmp_path, monkeypatch):
    """A copy of SURVEY.md + all CORRECTNESS artifacts the tool can
    mutate freely, with the tool's path globals pointed at it."""
    for p in os.listdir(REPO):
        if p == "SURVEY.md" or re.match(r"CORRECTNESS_r\d+\.json$", p):
            shutil.copy(os.path.join(REPO, p), tmp_path / p)
    mod = _load_tool()
    monkeypatch.setattr(mod, "HERE", str(tmp_path))
    monkeypatch.setattr(mod, "SURVEY", str(tmp_path / "SURVEY.md"))
    return mod, tmp_path


def _run(mod, monkeypatch, *argv, capsys=None):
    monkeypatch.setattr("sys.argv", ["refresh_survey.py", *argv])
    return mod.main()


def test_check_green_when_table_is_refreshed(sandbox, monkeypatch, capsys):
    mod, tmp = sandbox
    assert _run(mod, monkeypatch) == 0  # write mode: sync to artifacts
    assert _run(mod, monkeypatch, "--check") == 0
    assert "matches the artifacts" in capsys.readouterr().out


def test_check_pending_refresh_when_only_newest_artifact_postdates(
    sandbox, monkeypatch, capsys
):
    """A brand-new artifact whose rows are the ONLY diff → exit 0 with
    PENDING-REFRESH, and write mode folds it in back to plain green."""
    mod, tmp = sandbox
    assert _run(mod, monkeypatch) == 0  # start from the synced state
    from hadoop_0_20_2_ljx_spark.queries import REGISTRY

    fresh = {
        name: {"rows_match": True, "schema_match": True, "hash_match": True}
        for name in list(REGISTRY)[:3]
    }
    (tmp / "CORRECTNESS_r98.json").write_text(json.dumps(fresh))
    capsys.readouterr()
    assert _run(mod, monkeypatch, "--check") == 0
    out = capsys.readouterr().out
    assert "PENDING-REFRESH" in out and "CORRECTNESS_r98" in out
    assert _run(mod, monkeypatch) == 0  # fold it in
    capsys.readouterr()
    assert _run(mod, monkeypatch, "--check") == 0
    assert "matches the artifacts" in capsys.readouterr().out


def test_check_still_fails_on_real_drift(sandbox, monkeypatch, capsys):
    """An Ext cell edited to a value no artifact explains → exit 1, even
    with a pending newest artifact also present."""
    mod, tmp = sandbox
    assert _run(mod, monkeypatch) == 0
    surv = (tmp / "SURVEY.md").read_text()
    m = re.search(r"(\| q_\w+ \| )r\d+( \|)", surv)
    assert m, "no Ext cell found to corrupt"
    (tmp / "SURVEY.md").write_text(
        surv[: m.start()] + m.group(1) + "r1" + m.group(2) + surv[m.end() :]
    )
    assert _run(mod, monkeypatch, "--check") == 1
    # drift must not be masked by a simultaneously-pending artifact
    from hadoop_0_20_2_ljx_spark.queries import REGISTRY

    fresh = {
        name: {"rows_match": True, "schema_match": True, "hash_match": True}
        for name in list(REGISTRY)[:3]
    }
    (tmp / "CORRECTNESS_r98.json").write_text(json.dumps(fresh))
    assert _run(mod, monkeypatch, "--check") == 1


@pytest.mark.parametrize("argv", [["--chek"], ["--check", "extra"], ["--round", "x"]])
def test_bad_arguments_exit_2_and_leave_survey_untouched(sandbox, monkeypatch, argv):
    """A typo must not take the write path: argparse exits 2 before
    SURVEY.md is read or written."""
    mod, tmp = sandbox
    before = (tmp / "SURVEY.md").read_bytes()
    with pytest.raises(SystemExit) as exc:
        _run(mod, monkeypatch, *argv)
    assert exc.value.code == 2
    assert (tmp / "SURVEY.md").read_bytes() == before
