"""Round-3 operator additions: CMS sketch, duplicate substring spans,
hashed linear classifier."""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_0_20_2_ljx_spark import catalog
from hadoop_0_20_2_ljx_spark.extensions.dedup import duplicate_substring_spans
from hadoop_0_20_2_ljx_spark.extensions.textstats import hashed_linear_classifier
from hadoop_0_20_2_ljx_spark.operators.aggregates import count_min_estimates
from tests.conftest import SF_SMOKE


def test_cms_upper_bounds_exact(spark):
    """The CMS guarantee: estimate >= exact for every key; with a narrow
    sketch at least one key genuinely collides (est > exact)."""
    ev = catalog.load(spark, SF_SMOKE, "events")
    est = count_min_estimates(ev, "user_id", depth=4, width=4).collect()
    assert len(est) > 0
    assert all(r["cms_est"] >= r["exact"] for r in est)
    # width 4 << 15 distinct keys: every row of the sketch collides, so
    # some key must overestimate — the min path is genuinely exercised
    assert any(r["cms_est"] > r["exact"] for r in est)
    # exact counts agree with a plain groupBy
    truth = {
        str(r["user_id"]): r["n"]
        for r in ev.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert {r["k"]: r["exact"] for r in est} == truth


def test_cms_error_bound(spark):
    """eps = e/width: overestimate <= eps * N for every key at depth 4
    (holds deterministically here; probabilistic only in adversarial
    cases)."""
    ev = catalog.load(spark, SF_SMOKE, "events")
    n_total = ev.count()
    est = count_min_estimates(ev, "user_id", depth=4, width=32).collect()
    eps = 2.718281828 / 32
    assert all(r["cms_est"] - r["exact"] <= eps * n_total for r in est)


def test_duplicate_substring_spans_tiny(spark):
    """Hand-built corpus: docs 1 and 2 share an 8-word span; doc 3 is
    clean; intra-doc repetition alone does NOT count as duplication."""
    shared = "alpha bravo charlie delta echo foxtrot golf hotel"
    docs = spark.createDataFrame(
        [
            (1, f"one two {shared} nine ten"),
            (2, f"{shared} something else entirely here"),
            (3, "completely unique words only in this document thanks"),
            (4, "rep rep rep rep rep rep rep rep rep rep"),  # intra-doc only
        ],
        ["doc_id", "text"],
    )
    out = {r["doc"]: r for r in duplicate_substring_spans(docs, "doc_id", "text", n=8).collect()}
    assert set(out) == {1, 2}  # 3 clean, 4 intra-doc only
    assert out[1]["n_dup_windows"] == 1 and out[2]["n_dup_windows"] == 1
    assert out[1]["n_cov_tokens"] == 8 and out[2]["n_cov_tokens"] == 8
    assert out[1]["n_tokens"] == 12


def test_hashed_classifier_deterministic_and_integer(spark):
    docs = catalog.load(spark, SF_SMOKE, "documents").limit(50)
    a = hashed_linear_classifier(docs, "doc_id", "text").collect()
    b = hashed_linear_classifier(docs, "doc_id", "text").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    for r in a:
        assert abs(r["score_int"]) <= r["n_tokens"] * 1000
        assert r["keep"] == (r["score_int"] > 0)
        if r["n_tokens"]:
            assert r["score_ppm"] == int(r["score_int"] * 1000 / r["n_tokens"])


def test_duplicate_substring_spans_randomized_vs_python_reference(spark):
    """120 random docs over an 8-word vocabulary (n=3 windows collide
    constantly across docs), one Spark run, per-doc compare of window
    counts, covered-token counts, and dup_frac against a pure-Python
    reference of the ExactSubstr semantics: a window is duplicated iff
    its gram occurs in a DIFFERENT document; coverage is the union of
    the duplicated windows' token slots."""
    import random
    from collections import defaultdict

    rng = random.Random(6)
    vocab = [f"w{i}" for i in range(8)]
    n = 3
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 10))))
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc"]: (r["n_tokens"], r["n_dup_windows"], r["n_cov_tokens"], r["dup_frac"])
        for r in duplicate_substring_spans(df, "doc_id", "text", n=n).collect()
    }

    gram_docs = defaultdict(set)
    toks = {i: t.lower().split() for i, t in rows}
    for i, w in toks.items():
        for p in range(len(w) - n + 1):
            gram_docs[" ".join(w[p : p + n])].add(i)
    expect = {}
    for i, w in toks.items():
        dup_pos = [
            p
            for p in range(len(w) - n + 1)
            if len(gram_docs[" ".join(w[p : p + n])] - {i}) > 0
        ]
        if not dup_pos:
            continue  # docs with no duplicated window are absent (inner join)
        covered = set()
        for p in dup_pos:
            covered.update(range(p, p + n))
        expect[i] = (
            len(w),
            len(dup_pos),
            len(covered),
            round(len(covered) / len(w), 6),
        )
    assert got == expect
