"""bench.STRESS: the generated-data stress rows that bench.py records and
tools/scale_probe.py extends into decade ladders. Pins their labels and
names against the committed bench artifact, runs every row at a tiny size
through run_row/measure with its checks, and pins that stage metrics fail
loudly when they cannot be read."""

from __future__ import annotations

import json
import os
import socket
import subprocess
import sys
import types

import pytest

import bench
from tests.conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import scale_probe  # noqa: E402

ARTIFACT = json.load(open(os.path.join(REPO, "BENCH_LOCAL_r15.json")))

STRESS_LABELS = [
    "diff_full_sparse", "diff_incr_sparse",
    "skew_join_plain", "skew_join_salted",
    "skew_groupby_plain", "skew_groupby_salted",
    "minhash_dedup_10x",
    "pagerank_gen_1x", "pagerank_10x",
    "ivfpq_gen_1x", "ivfpq_10x",
    "text_longdoc_1x", "text_longdoc_10x",
    "simhash_longdoc_1x", "simhash_longdoc_10x",
    "triangles_gen_1x", "triangles_10x", "kcore_gen_1x", "kcore_10x",
    "asof_gen_1x", "asof_10x", "range_gen_1x", "range_10x",
    "source_sim_uncapped", "source_sim_cap100",
    "window_hotkey_direct", "window_hotkey_chunked",
]

# a size per row at which its checks hold and the row runs in seconds
TINY = {
    "bench_terasort": 2_000,
    "bench_diff_sparse": None,
    "bench_skew_join": None,
    "bench_skew_groupby": None,
    "bench_minhash_10x": 500,
    "bench_pagerank_10x": 1_000,
    "bench_ivfpq_10x": 200,
    "bench_text_longdoc": 20,
    "bench_simhash_longdoc": 20,
    "bench_graph_10x": 2_000,
    "bench_temporal_10x": 10_000,
    "bench_source_sim_cap": 8,
    "bench_window_hotkey": 4_000,
}


def _bench_labels(row: dict) -> list[str]:
    return [label for v in row["variants"].values() for label, _ in v["bench"]]


def test_stress_labels_and_sections_match_the_artifact():
    sections = [name for name in bench.STRESS if name != "bench_terasort"]
    assert [l for name in sections for l in _bench_labels(bench.STRESS[name])] == STRESS_LABELS
    assert {"section:" + name for name in sections} == {
        k for k in ARTIFACT["cpu_steal_pct"] if k.startswith("section:")
    }
    assert len(sections) == 12
    assert list(TINY) == list(bench.STRESS)
    # every bench label: terasort, the registry rows, the stress rows and
    # the durable-pin rerun — the artifact's 89 names exactly
    names = (
        _bench_labels(bench.STRESS["bench_terasort"])
        + list(bench.REGISTRY_WORKLOADS)
        + STRESS_LABELS
        + ["bm25_durable_pin"]
    )
    assert len(names) == len(set(names)) == 89
    assert set(names) == set(ARTIFACT["queries"])


def test_scale_probe_ladder_names():
    known, default = scale_probe.ladders()
    folded = {"terasort", "minhash", "triangles", "kcore", "pagerank", "asof"}
    assert known == folded | {f"{n}_xl" for n in folded} | {
        "clusters", "clusters_xl", "skew", "skew_xl", "skew_aqe",
        "skew_aqe_engine", "winsum", "winsum_xl", "winsum_width",
    }
    assert default == folded | {"clusters", "skew"}
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "scale_probe.py"), "range"],
        capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 2, proc.stderr
    assert "unknown ladder(s): ['range']" in proc.stderr


@pytest.fixture
def tiny_bench(monkeypatch):
    """Fixture rows read sf0.001, and stage bytes are a counter: the test
    session runs with the UI off. Returns the list of byte reads."""
    reads = []
    monkeypatch.setattr(bench, "_stage_bytes", lambda spark: reads.append(1) or (0, 0))
    monkeypatch.setattr(bench, "SF_DIR", SF_SMOKE)
    return reads


@pytest.mark.parametrize("name", list(TINY))
def test_every_row_runs_with_its_checks(spark, tiny_bench, name):
    row = bench.STRESS[name]
    # one rung per variant, and no warm pass (the same call as a rung),
    # to stay small
    row = {k: v for k, v in row.items() if k != "warm"}
    plan = {
        vname: ((v["bench"][0][0], TINY[name]),)
        for vname, v in row["variants"].items()
    }
    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    ms = bench.run_row(spark, row, plan)
    assert list(ms) == [rungs[0][0] for rungs in plan.values()]
    assert len(tiny_bench) == 2 * len(ms)  # bytes read around every rung
    assert all(len(m["walls"]) == 1 for m in ms.values())
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == before


def _tiny_row(check=None, cross=None):
    return {
        "gen": lambda spark, n: spark.range(n),
        "pin": False,
        "confs": {"spark.sql.shuffle.partitions": "3"},
        "variants": {
            name: {
                "run": lambda spark, df, n, k=k: df.count() + k,
                "check": check,
                "bench": ((name, 10),),
            }
            for k, name in enumerate(("a", "b"))
        },
        "cross": cross,
    }


def test_a_failing_check_fails_the_row_and_restores_confs(spark, tiny_bench):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    bench.run_row(spark, _tiny_row(check=lambda r, n: r >= n))
    with pytest.raises(AssertionError, match="b: check failed on 11"):
        bench.run_row(spark, _tiny_row(check=lambda r, n: r == n))
    with pytest.raises(AssertionError):
        bench.run_row(spark, _tiny_row(cross=bench._same))
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_stage_bytes_raise_when_the_ui_cannot_answer(spark):
    # the test session runs with spark.ui.enabled=false
    with pytest.raises(RuntimeError, match="spark.ui.enabled"):
        bench._stage_bytes(spark)
    # a UI address where nothing listens
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        port = s.getsockname()[1]
    sc = types.SimpleNamespace(uiWebUrl=f"http://127.0.0.1:{port}", applicationId="app")
    with pytest.raises(OSError):
        bench._stage_bytes(types.SimpleNamespace(sparkContext=sc))


def test_measure_refuses_byte_sums_that_go_down(monkeypatch):
    sums = iter([(100, 100), (50, 100)])
    monkeypatch.setattr(bench, "_stage_bytes", lambda spark: next(sums))
    with pytest.raises(RuntimeError, match="retainedStages"):
        bench.measure(None, lambda: None)
