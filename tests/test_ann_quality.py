"""ANN quality: the approximate indexes must actually approximate.

Correctness oracles pin determinism; these pin RECALL against the exact
brute-force baseline on the fixture embeddings — the number that tells a
user whether the index is usable, per the bench-not-guess rule."""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_0_20_2_ljx_spark import catalog
from hadoop_0_20_2_ljx_spark.extensions import clustering, similarity
from tests.conftest import SF_T2

K = 5
N_QUERIES = 20


def _topk(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["q_id"], set()).add(r["neighbor_id"])
    return out


def test_ivf_and_ivfpq_recall_vs_brute_force(spark):
    emb = catalog.load(spark, SF_T2, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    exact = _topk(similarity.brute_force_knn(emb, queries, k=K))

    ivf = _topk(similarity.ivf_ann(emb, queries, nlist_ids=list(range(8)), k=K))
    books = clustering.pq_train(emb, "vec_id", "embedding", 8, 8, iters=1)
    ivfpq = _topk(
        similarity.ivfpq_ann(emb, queries, list(range(8)), books, k=K)
    )

    def recall(approx):
        hits = sum(len(approx.get(q, set()) & nbrs) for q, nbrs in exact.items())
        return hits / (len(exact) * K)

    # larger codebooks (16 centroids, 2 Lloyd rounds) must claw recall back
    books16 = clustering.pq_train(emb, "vec_id", "embedding", 8, 16, iters=2)
    ivfpq16 = _topk(
        similarity.ivfpq_ann(emb, queries, list(range(8)), books16, k=K)
    )

    r_ivf, r_ivfpq, r_ivfpq16 = recall(ivf), recall(ivfpq), recall(ivfpq16)
    # single-probe IVF on 8 coarse lists: recall well above random chance
    # (chance ~ K/list ~ 0.02); PQ adds quantization loss on top — the
    # 8-centroid (3-bit) codebook is deliberately coarse, so its floor is
    # low but far above chance, and the 16-centroid codebook must beat it
    # (the recall-vs-bytes knob actually works).
    assert r_ivf >= 0.5, f"IVF recall@{K} collapsed: {r_ivf:.2f}"
    assert r_ivfpq >= 0.1, f"IVF-PQ recall@{K} collapsed: {r_ivfpq:.2f}"
    assert r_ivfpq16 > r_ivfpq, (
        f"bigger codebook did not help: {r_ivfpq16:.2f} <= {r_ivfpq:.2f}"
    )
    # the composed index cannot beat its own router's ceiling
    assert r_ivfpq16 <= r_ivf + 0.05


def test_ivf_nprobe_recall_cost_curve(spark):
    """Multi-probe IVF: recall must be non-decreasing in nprobe (each
    extra probed list only ADDS candidates — probing is monotone) and
    the candidate count (the cost that scales to 100 TB: pairs entering
    the exact-scoring join) must strictly grow, i.e. the knob actually
    trades cost for recall rather than re-scoring the same list."""
    emb = catalog.load(spark, SF_T2, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    exact = _topk(similarity.brute_force_knn(emb, queries, k=K))

    def recall(approx):
        hits = sum(len(approx.get(q, set()) & nbrs) for q, nbrs in exact.items())
        return hits / (len(exact) * K)

    cents = [
        (int(r[0]), [float(x) for x in r[1]])
        for r in emb.filter(F.col("vec_id") < 8)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    ]
    corpus_assigned = similarity.ivf_assign(emb, cents).select(
        F.col("vec_id").alias("neighbor_id"), "list_id"
    )
    recalls, costs = [], []
    for nprobe in (1, 2, 4):
        r = recall(
            _topk(
                similarity.ivf_ann(
                    emb, queries, nlist_ids=list(range(8)), k=K, nprobe=nprobe
                )
            )
        )
        probed = similarity.ivf_probe_lists(queries, cents, nprobe=nprobe).select(
            F.col("vec_id").alias("q_id"), "list_id"
        )
        cost = (
            corpus_assigned.join(probed, "list_id")
            .where(F.col("q_id") != F.col("neighbor_id"))
            .count()
        )
        recalls.append(r)
        costs.append(cost)
    print(f"[ivf nprobe curve] recall@{K}={recalls} candidates={costs}")
    assert recalls == sorted(recalls), f"recall not monotone: {recalls}"
    assert costs[0] < costs[1] < costs[2], f"candidate cost not growing: {costs}"
    # probing half the 8 lists must recover most of brute force
    assert recalls[-1] >= recalls[0], recalls
    assert recalls[-1] >= 0.8, f"nprobe=4 recall collapsed: {recalls[-1]:.2f}"
    # nprobe=1 through the multi-probe path == the proven single-probe
    # assignment (list 1 is ivf_assign's argmax)
    single = similarity.ivf_assign(queries, cents).select(
        F.col("vec_id").alias("q_id"), F.col("list_id").alias("l1")
    )
    multi1 = similarity.ivf_probe_lists(queries, cents, nprobe=1).select(
        F.col("vec_id").alias("q_id"), F.col("list_id").alias("l2")
    )
    mismatch = single.join(multi1, "q_id").where(F.col("l1") != F.col("l2")).count()
    assert mismatch == 0, f"{mismatch} queries route differently at nprobe=1"


def test_ivfpq_nprobe_recall_monotone(spark):
    """Multi-probe composed with PQ: probing a second coarse list only
    ADDS candidates (the corpus side is unchanged, one list per vector).
    Under exact scoring that makes recall provably monotone; under PQ's
    approximate ADC a new candidate can in principle displace a true
    neighbor, so this is a pinned deterministic-fixture regression (it
    measures that the knob helps HERE), not a theorem. At nprobe=1 the
    multi-probe path must reproduce the proven single-probe routing
    exactly (same neighbor sets)."""
    emb = catalog.load(spark, SF_T2, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    exact = _topk(similarity.brute_force_knn(emb, queries, k=K))
    books = clustering.pq_train(emb, "vec_id", "embedding", 8, 16, iters=2)

    def recall(approx):
        hits = sum(len(approx.get(q, set()) & nbrs) for q, nbrs in exact.items())
        return hits / (len(exact) * K)

    p1 = _topk(similarity.ivfpq_ann(emb, queries, list(range(8)), books, k=K))
    p1_multi = _topk(
        similarity.ivfpq_ann(emb, queries, list(range(8)), books, k=K, nprobe=1)
    )
    p2 = _topk(
        similarity.ivfpq_ann(emb, queries, list(range(8)), books, k=K, nprobe=2)
    )
    assert p1_multi == p1, "nprobe=1 diverged from the single-probe plan"
    assert recall(p2) >= recall(p1), (
        f"second probed list lowered recall: {recall(p2):.2f} < {recall(p1):.2f}"
    )


def test_ivfpq_rerank_improves_exact_l2_agreement(spark):
    """The refine stage must buy recall back: under the exact-L2 ground
    truth, rerank(top-5 of a 20-wide ADC shortlist, exact distances)
    agrees with the truth at least as well as the pure-ADC top-5 — and
    the output is ordered by exact distance."""
    emb = catalog.load(spark, SF_T2, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    books = clustering.pq_train(emb, "vec_id", "embedding", 8, 8, iters=1)

    # exact squared-L2 ground truth (brute force, broadcast queries)
    q = queries.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").cast("array<double>").alias("_qv"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("_nv"),
    )
    d = F.expr(
        "aggregate(zip_with(_qv, _nv, (x, y) -> (x - y) * (x - y)), "
        "0.0D, (acc, x) -> acc + x)"
    )
    from pyspark.sql.window import Window

    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("q_id") != F.col("neighbor_id"))
        .select("q_id", "neighbor_id", d.alias("dist"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("dist").asc(), F.col("neighbor_id"))
    truth = _topk(scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= K))

    adc = _topk(similarity.ivfpq_ann(emb, queries, list(range(8)), books, k=K))
    rr_df = similarity.ivfpq_rerank(
        emb, queries, list(range(8)), books, k=K, refine=20
    )
    rr = _topk(rr_df)

    def recall(approx):
        hits = sum(len(approx.get(qid, set()) & nbrs) for qid, nbrs in truth.items())
        return hits / (len(truth) * K)

    r_adc, r_rr = recall(adc), recall(rr)
    print(f"[ivfpq rerank] exact-L2 recall@{K}: adc={r_adc:.2f} rerank={r_rr:.2f}")
    assert r_rr >= r_adc, f"refine made it worse: {r_rr:.2f} < {r_adc:.2f}"
    assert r_rr >= 0.3, f"rerank recall collapsed: {r_rr:.2f}"
    # output really is exact-distance ordered per query
    for qid, grp in __import__("itertools").groupby(
        sorted(rr_df.collect(), key=lambda r: (r["q_id"], r["dist"])), key=lambda r: r["q_id"]
    ):
        dists = [r["dist"] for r in grp]
        assert dists == sorted(dists)


def test_ivf_probe_nan_cosine_routes_like_assign(spark):
    """A zero-norm centroid yields cos = NaN (0/0). Under the engine's
    ANSI sessions that division fail-fasts identically in BOTH routers;
    under non-ANSI sessions (the dialect-invariance sweep runs one) it
    yields NaN, which ivf_assign's array_max ranks GREATEST (Spark sort
    order, matching DuckDB's ORDER BY cos DESC) — so multi-probe routing
    must also rank the NaN centroid first (negcos folds NaN to
    -Infinity), or nprobe=1 silently diverges from the single-probe
    assignment exactly when a degenerate centroid appears."""
    rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.5, 0.5])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [(0, [0.0, 0.0]), (1, [1.0, 0.0])]  # centroid 0 is zero-norm
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        single = {
            r["vec_id"]: r["list_id"]
            for r in similarity.ivf_assign(df, cents)
            .select("vec_id", "list_id")
            .collect()
        }
        multi1 = {
            r["vec_id"]: r["list_id"]
            for r in similarity.ivf_probe_lists(df, cents, nprobe=1)
            .select("vec_id", "list_id")
            .collect()
        }
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert multi1 == single


def test_centroid_array_path_parity_and_large_nlist(spark):
    """The two centroid-scoring paths (literal expression text vs the
    broadcast array-column carrier) must be bitwise-identical routers —
    they share one cosine fold (portable.cos_sql), so assignment and multi-probe
    routing agree row-for-row at nlist=8 (the oracle-pinned fixture
    shape). And the array path must survive the regime the literal path
    cannot: nlist=256 centroids, where O(nlist*dim) expression text
    would strain parsing/codegen — the scaling cliff the r6 verdict
    flagged (extensions/similarity.py LITERAL_NLIST_MAX)."""
    emb = catalog.load(spark, SF_T2, "embeddings")
    cents8 = [
        (int(r[0]), [float(x) for x in r[1]])
        for r in emb.filter(F.col("vec_id") < 8)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    ]
    lit = {
        r["vec_id"]: r["list_id"]
        for r in similarity.ivf_assign(emb, cents8, literal=True).collect()
    }
    arr = {
        r["vec_id"]: r["list_id"]
        for r in similarity.ivf_assign(emb, cents8, literal=False).collect()
    }
    assert lit == arr and len(lit) > 0

    probes_lit = sorted(
        (r["vec_id"], r["list_id"])
        for r in similarity.ivf_probe_lists(emb, cents8, nprobe=3, literal=True).collect()
    )
    probes_arr = sorted(
        (r["vec_id"], r["list_id"])
        for r in similarity.ivf_probe_lists(emb, cents8, nprobe=3, literal=False).collect()
    )
    assert probes_lit == probes_arr

    # large-nlist regime: 256 centroids auto-select the array path
    # (256 > LITERAL_NLIST_MAX) and must route every vector to its true
    # argmax — checked against a numpy cosine argmax reference.
    import numpy as np

    rows = emb.select("vec_id", "embedding").collect()
    vecs = {int(r[0]): np.asarray([float(x) for x in r[1]]) for r in rows}
    cents256 = [(cid, list(vecs[cid])) for cid in sorted(vecs)[:256]]
    assert len(cents256) == 256
    got = {
        r["vec_id"]: r["list_id"]
        for r in similarity.ivf_assign(emb, cents256).collect()
    }
    cmat = np.stack([np.asarray(v) for _, v in cents256])
    cnorm = np.sqrt((cmat * cmat).sum(axis=1))
    for vid, v in vecs.items():
        cos = (cmat @ v) / (np.sqrt(v @ v) * cnorm)
        best = int(np.argmax(cos))  # ties to smallest index = smallest cid
        assert got[vid] == cents256[best][0], (vid, got[vid], cents256[best][0])

    # and the multi-probe router at the same scale: each query's 2
    # probed lists must be numpy's top-2 cosine centroids, in order
    queries = emb.filter(F.col("vec_id") < 10)
    probed: dict[int, list[int]] = {}
    for r in similarity.ivf_probe_lists(queries, cents256, nprobe=2).collect():
        probed.setdefault(r["vec_id"], []).append(r["list_id"])
    for vid, lists in probed.items():
        v = vecs[vid]
        cos = (cmat @ v) / (np.sqrt(v @ v) * cnorm)
        top2 = [cents256[i][0] for i in np.argsort(-cos, kind="stable")[:2]]
        assert lists == top2, (vid, lists, top2)


def test_kmeans_ivf_routing_margin_dwarfs_float_wobble(spark):
    """q_embed_kmeans_ivf's cross-engine contract rests on the trained-
    centroid routing being insensitive to last-ulp differences between
    Spark's and DuckDB's avg (the centroids are raw float means by
    design — Lloyd's update IS an average). This pins the safety factor:
    every corpus vector's best-vs-second centroid cosine margin must
    exceed 1e-7, while a one-ulp centroid-coordinate difference moves a
    cosine by ~1e-16 — nine orders of slack (measured min margin: 6.8e-5
    at sf0.01, 4.1e-5 at sf0.1). If a refit or new fixture ever brings
    two centroids that close, this fails before the oracle gate does."""
    import numpy as np

    emb = catalog.load(spark, SF_T2, "embeddings")
    init = {
        int(r[0]): [float(x) for x in r[1]]
        for r in emb.filter(F.col("vec_id") < 8).select("vec_id", "embedding").collect()
    }
    _, cents = clustering.kmeans_lloyd(emb, "embedding", 8, 2, init)
    cmat = np.stack([np.asarray(v) for _, v in sorted(cents.items())])
    cnorm = np.sqrt((cmat * cmat).sum(axis=1))
    min_margin = 1.0
    for r in emb.select("embedding").collect():
        v = np.asarray([float(x) for x in r[0]])
        cos = np.sort((cmat @ v) / (np.sqrt(v @ v) * cnorm))
        min_margin = min(min_margin, cos[-1] - cos[-2])
    assert min_margin > 1e-7, min_margin
