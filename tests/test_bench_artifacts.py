"""bench.py bookkeeping: the BENCH_LOCAL round-stamp + overwrite guard
(no Spark — pure artifact logic; the r6 driver re-run silently clobbered
the committed local artifact, which this contract forbids)."""

from __future__ import annotations

import json
import os

import pytest

from bench import SUMMARY_ANCHORS, SUMMARY_LIMIT, dump_local_artifact, summary_line

FULL = {"metric": "headline_total", "value": 1.0}


def test_inferred_round_is_next_after_newest_driver_artifact(tmp_path):
    (tmp_path / "BENCH_r05.json").write_text("{}")
    (tmp_path / "BENCH_r06.json").write_text("{}")
    out = dump_local_artifact(FULL, str(tmp_path), explicit=None)
    assert out is not None and out.endswith("BENCH_LOCAL_r07.json")
    assert json.load(open(out))["value"] == 1.0


def test_inferred_round_refuses_to_overwrite(tmp_path, capsys):
    (tmp_path / "BENCH_r06.json").write_text("{}")
    committed = tmp_path / "BENCH_LOCAL_r07.json"
    committed.write_text(json.dumps({"value": 99}))
    out = dump_local_artifact(FULL, str(tmp_path), explicit=None)
    assert out is None
    assert json.load(open(committed))["value"] == 99  # untouched
    assert "not explicit" in capsys.readouterr().err


def test_explicit_round_overwrites(tmp_path):
    committed = tmp_path / "BENCH_LOCAL_r07.json"
    committed.write_text(json.dumps({"value": 99}))
    out = dump_local_artifact(FULL, str(tmp_path), explicit="7")
    assert out == str(committed)
    assert json.load(open(out))["value"] == 1.0


def test_no_artifacts_infers_round_one(tmp_path):
    out = dump_local_artifact(FULL, str(tmp_path), explicit=None)
    assert out is not None and out.endswith("BENCH_LOCAL_r01.json")


def test_steal_pct_math():
    # 10 steal ticks over 1000 total ticks elapsed = 1.0%
    from bench import _steal_pct

    assert _steal_pct((100, 1000), (110, 2000)) == 1.0
    # no elapsed ticks (same sample twice) must not divide by zero
    assert _steal_pct((100, 1000), (100, 1000)) == 0.0
    # an unreadable sample is a sentinel (JSON null), never a fake 0.0%
    assert _steal_pct(None, (110, 2000)) is None
    assert _steal_pct((100, 1000), None) is None


def test_steal_ticks_sentinel_on_read_failure(monkeypatch):
    """A /proc/stat read failure must surface as None, not (0, 0) —
    otherwise an instrumentation failure is indistinguishable from a
    perfectly quiet host in the recorded artifact (r11 ADVICE)."""
    import builtins

    from bench import _steal_ticks

    real_open = builtins.open

    def failing_open(path, *a, **kw):
        if path == "/proc/stat":
            raise OSError("simulated unreadable /proc/stat")
        return real_open(path, *a, **kw)

    monkeypatch.setattr(builtins, "open", failing_open)
    assert _steal_ticks() is None


def test_steal_denominator_excludes_guest_fields():
    """total_ticks must sum only the 8 non-overlapping fields
    (user..steal): the kernel folds guest/guest_nice into user/nice, so
    including them double-counts guest time (r11 ADVICE)."""
    import builtins
    from unittest import mock

    fake = "cpu  100 2 3 4 5 6 7 8 1000 2000\nrest ignored\n"
    with mock.patch.object(
        builtins, "open", mock.mock_open(read_data=fake)
    ):
        from bench import _steal_ticks

        steal, total = _steal_ticks()
    assert steal == 8
    assert total == 100 + 2 + 3 + 4 + 5 + 6 + 7 + 8  # guest fields excluded


def test_steal_ticks_reads_proc_stat():
    # on this Linux host the aggregate cpu line exists: total >= steal >= 0
    from bench import _steal_ticks

    steal, total = _steal_ticks()
    assert 0 <= steal <= total
    assert total > 0


def _labels(n: int) -> dict[str, float]:
    """The four anchors plus n - 4 synthetic labels as wide as the real
    ones (89 real medians made a 1,910-character line)."""
    timings = {k: 0.42 for k in SUMMARY_ANCHORS}
    for i in range(n - len(timings)):
        timings[f"workload_{i:03d}"] = 1.0 + i * 0.137
    return timings


@pytest.mark.parametrize("n, kept", [(89, 89), (200, 4)])
def test_summary_line_parses_within_the_tail_limit(n, kept, capsys):
    timings = _labels(n)
    line = summary_line(sum(timings.values()), timings, 1234.56, 0.1)
    assert len(line) <= SUMMARY_LIMIT
    summary = json.loads(line)
    assert summary["value"] == round(sum(timings.values()), 2)
    assert summary["n_workloads"] == n
    assert len(summary["queries"]) == kept
    assert set(SUMMARY_ANCHORS) <= set(summary["queries"])
    err = capsys.readouterr().err
    assert (f"dropped {n - kept} entries" in err) == (kept < n)
