"""Property tests: the degree-oriented triangle counter and the
integer-exact outlier detector replay exactly against brute-force
reference implementations on seeded random inputs — beyond the fixture
shapes the oracle queries exercise."""

from __future__ import annotations

import itertools
import random

from pyspark.sql import functions as F

from hadoop_0_20_2_ljx_spark.extensions import audit
from hadoop_0_20_2_ljx_spark.extensions.graph import triangle_counts


def _brute_triangles(edges: set[tuple[int, int]]) -> dict[int, int]:
    nodes = sorted({n for e in edges for n in e})
    und = {frozenset(e) for e in edges if e[0] != e[1]}
    out: dict[int, int] = {}
    for a, b, c in itertools.combinations(nodes, 3):
        if (
            frozenset((a, b)) in und
            and frozenset((b, c)) in und
            and frozenset((a, c)) in und
        ):
            for n in (a, b, c):
                out[n] = out.get(n, 0) + 1
    return out


def test_triangles_match_brute_force_random_graphs(spark):
    rng = random.Random(7)
    for trial in range(4):
        n = 12
        edges = {
            (a, b)
            for a in range(n)
            for b in range(n)
            if a != b and rng.random() < 0.35
        }
        df = spark.createDataFrame(sorted(edges), "src long, dst long")
        got = {
            r["node"]: r["triangles"]
            for r in triangle_counts(df, "src", "dst").collect()
        }
        assert got == _brute_triangles(edges), f"trial {trial}"


def test_triangles_degenerate_graphs(spark):
    # self-loops only, and a triangle-free path: both must return empty
    loops = spark.createDataFrame([(1, 1), (2, 2)], "src long, dst long")
    assert triangle_counts(loops).count() == 0
    path = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src long, dst long")
    assert triangle_counts(path).count() == 0


def test_zscore_outliers_match_brute_force(spark):
    rng = random.Random(11)
    rows = [(i, f"g{i % 3}", rng.randrange(0, 1000)) for i in range(300)]
    # inject extremes so every group has outliers
    rows += [(1000 + g, f"g{g}", 100_000) for g in range(3)]
    df = spark.createDataFrame(rows, "event_id long, t string, v long")
    got = {
        r["event_id"]
        for r in audit.zscore_outliers(df, "t", F.col("v"), ["event_id"]).collect()
    }
    expect = set()
    for g in ("g0", "g1", "g2"):
        vals = [(i, v) for i, t, v in rows if t == g]
        n = len(vals)
        s = sum(v for _, v in vals)
        q = sum(v * v for _, v in vals)
        for i, v in vals:
            if (n * v - s) ** 2 > 4 * (n * q - s * s) > 0:
                expect.add(i)
    assert got == expect and expect


def test_pagerank_int_matches_integer_reference(spark):
    """Random directed graphs (duplicate edges, self-loops, sinks, and
    source-only nodes all arise), 3 rounds, every node's scaled-integer
    rank replayed exactly in Python: share = rank // outdeg per DISTINCT
    edge, rank' = base + (d * inflow) // 100. Integer division everywhere
    means the reference is exact, not approximate."""
    from hadoop_0_20_2_ljx_spark.extensions.graph import PR_SCALE, pagerank_int

    rng = random.Random(6)
    for _trial in range(3):
        n = 14
        raw = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(40)
        ]
        df = spark.createDataFrame(raw, "src long, dst long")
        got = {r["node"]: r["rank"] for r in pagerank_int(df, iterations=3).collect()}

        edges = sorted(set(raw))
        nodes = {u for u, _ in edges} | {v for _, v in edges}
        outdeg = {}
        for u, _ in edges:
            outdeg[u] = outdeg.get(u, 0) + 1
        d = 85
        base = (100 - d) * PR_SCALE // 100
        rank = {v: PR_SCALE for v in nodes}
        for _ in range(3):
            inflow = {v: 0 for v in nodes}
            for u, v in edges:
                inflow[v] += rank[u] // outdeg[u]
            rank = {v: base + (d * inflow[v]) // 100 for v in nodes}
        assert got == rank


def _serial_kcore(raw, k, rounds):
    """The fixed-round peel replayed serially: every round is run, with
    no early exit. Spark's least/greatest skip NULLs, so an edge with a
    NULL endpoint becomes a self-loop, and self-loops are dropped."""
    edges = {
        (min(a, b), max(a, b))
        for a, b in raw
        if a is not None and b is not None and a != b
    }

    def degs(es):
        d = {}
        for u, v in es:
            d[u] = d.get(u, 0) + 1
            d[v] = d.get(v, 0) + 1
        return d

    cur = set(edges)
    d = degs(cur)
    d_prev = None
    for _ in range(rounds):
        alive = {x for x, dg in d.items() if dg >= k}
        cur = {(u, v) for u, v in cur if u in alive and v in alive}
        d_prev = d
        d = degs(cur)
    survivors = {x: dg for x, dg in d.items() if dg >= k}
    prev_alive = -1 if d_prev is None else sum(1 for dg in d_prev.values() if dg >= k)
    return survivors, len(survivors) == prev_alive


def test_kcore_peel_matches_serial_reference(spark):
    """Bounded-round peeling against a serial replay of every round:
    after R rounds of 'drop nodes with degree < k', the surviving
    (node, degree) table and the converged flag (final alive count equals
    the previous round's) must match exactly — including runs where R is
    too small to reach the fixed point, R = 0 and 1, an input that is
    already a k-core (the peel stops at round 0), NULL endpoints and
    self-loops."""
    from hadoop_0_20_2_ljx_spark.extensions.graph import kcore_peel

    rng = random.Random(6)
    cases = []
    for k, rounds in ((2, 1), (2, 4), (3, 6), (2, 0)):
        n = 16
        raw = [(rng.randrange(n), rng.randrange(n)) for _ in range(34)]
        cases.append(("random", raw, k, rounds))
    cycle = [(i, (i + 1) % 6) for i in range(6)] + [(0, 3)]
    cases += [("cycle", cycle, k, r) for k in (1, 2) for r in (0, 1, 6)]
    star_triangle = [(0, i) for i in range(1, 6)] + [(10, 11), (11, 12), (10, 12)]
    cases += [("star+triangle", star_triangle, 2, r) for r in (0, 1, 2, 6)]
    nulls = [(1, None), (None, None), (2, 2), (1, 2), (2, 3), (3, 1), (3, None), (4, 3)]
    cases += [("nulls+loops", nulls, k, r) for k in (1, 2) for r in (1, 3)]
    for label, raw, k, rounds in cases:
        df = spark.createDataFrame(raw, "src long, dst long")
        out = kcore_peel(df, k=k, rounds=rounds).collect()
        got = {r["node"]: r["deg"] for r in out}
        got_conv = {r["converged"] for r in out}
        survivors, conv = _serial_kcore(raw, k, rounds)
        if label == "star+triangle" and rounds in (1, 2):
            # the hub drops out in round 1, leaving every node alive; the
            # alive count changed in that round, so the flag is False
            # when it is the last round
            assert conv == (rounds == 2) and set(survivors) == {10, 11, 12}
        assert got == survivors, (label, k, rounds)
        if survivors:
            assert got_conv == {conv}, (label, k, rounds)


def test_kcore_peel_stops_at_a_k_core(spark):
    """An input that is already a 2-core is at its fixed point before
    round 1: the peel pins the edge set and one degree table, probes it
    once and stops, so its build runs a handful of jobs however many
    rounds it is allowed."""
    from hadoop_0_20_2_ljx_spark.extensions.graph import kcore_peel
    from hadoop_0_20_2_ljx_spark.session import count_jobs

    cycle = [(i, (i + 1) % 8) for i in range(8)]
    df = spark.createDataFrame(cycle, "src long, dst long")
    out, jobs = count_jobs(spark, lambda: kcore_peel(df, k=2, rounds=6))
    assert jobs <= 8, jobs
    rows = out.collect()
    assert {r["node"]: r["deg"] for r in rows} == {i: 2 for i in range(8)}
    assert {r["converged"] for r in rows} == {True}


def _uf_components(edges: list[tuple[int, int]], nodes: set[int]) -> dict[int, int]:
    """Serial union-find reference: node -> min member id of its component."""
    parent = {n: n for n in nodes}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    comp_min: dict[int, int] = {}
    for n in nodes:
        r = find(n)
        comp_min[r] = min(comp_min.get(r, n), n)
    return {n: comp_min[find(n)] for n in nodes}


def test_connected_components_match_union_find_random_graphs(spark):
    """Alternating large-star/small-star must label every node with its
    component minimum, exactly as a serial union-find does — on seeded
    random graphs with self-loops, duplicate and reversed edges, long
    chains, and isolated components (adversarial for star rounds, whose
    correctness argument rides edge re-linking, not label flooding)."""
    from hadoop_0_20_2_ljx_spark.extensions.dedup import connected_components

    rng = random.Random(29)
    for trial in range(3):
        n = 40
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randrange(10, 50))
        ]
        # a long chain stresses O(log n) convergence; an offset clique
        # and duplicate/reversed noise stress the distinct + orientation
        chain = list(range(n, n + 15))
        edges += list(zip(chain, chain[1:]))
        edges += [(v, u) for u, v in edges[: len(edges) // 3]]
        nodes = {x for e in edges for x in e}
        ref = _uf_components([e for e in edges if e[0] != e[1]], nodes)
        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = {
            r["node"]: r["comp"]
            for r in connected_components(df, "doc_a", "doc_b").collect()
        }
        # connected_components drops self-loop-only nodes unless passed a
        # node frame; compare over the nodes it labels and check the
        # remainder are self-loop singletons
        for node, comp in got.items():
            assert comp == ref[node], f"trial {trial} node {node}"
        missing = nodes - set(got)
        assert all(ref[m] == m for m in missing), f"trial {trial}: {missing}"
