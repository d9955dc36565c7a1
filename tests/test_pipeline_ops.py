"""Training-pipeline extras: repetition, contamination, stratified
sampling, sequence packing (extensions/pipeline_ops.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_0_20_2_ljx_spark import catalog
from hadoop_0_20_2_ljx_spark.extensions import pipeline_ops
from tests.conftest import SF_SMOKE, parser_escapes


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_repetition_score_bounds_and_exact_counts(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b a b a b a b"), (3, "x y")],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in pipeline_ops.repetition_score(df, "doc_id", "text", n=3).collect()
    }
    assert rows[1]["n_dup_ngrams"] == 0 and rows[1]["rep_frac"] == 0.0
    # 6 trigrams, only 2 distinct -> 4 duplicates
    assert rows[2]["n_ngrams"] == 6 and rows[2]["n_dup_ngrams"] == 4
    # shorter than n words -> zero ngrams, defined (not null/error)
    assert rows[3]["n_ngrams"] == 0 and rows[3]["rep_frac"] == 0.0


def test_contamination_flags_exact_dup_of_benchmark(spark):
    base = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [(0, base), (1, base), (2, "totally different words without any overlap at all")],
        "doc_id long, text string",
    )
    bench = docs.filter(F.col("doc_id") == 0)
    train = docs.filter(F.col("doc_id") != 0)
    got = {
        r["doc_id"]: r["n_shared_ngrams"]
        for r in pipeline_ops.ngram_contamination(
            train, bench, "doc_id", "text", n=8
        ).collect()
    }
    # doc 1 duplicates the benchmark doc: all three 8-grams shared; doc 2 clean
    assert got == {1: 3}


def test_stratified_sample_is_deterministic_and_shuffle_free(spark):
    docs = catalog.load(spark, SF_SMOKE, "documents")
    rates = {"en": 0.5, "de": 0.0}
    s1 = pipeline_ops.stratified_sample(docs, "lang", rates, "doc_id")
    s2 = pipeline_ops.stratified_sample(docs, "lang", rates, "doc_id")
    ids1 = sorted(r["doc_id"] for r in s1.select("doc_id").collect())
    assert ids1 == sorted(r["doc_id"] for r in s2.select("doc_id").collect())
    assert s1.filter(F.col("lang") == "de").count() == 0
    # stateless filter: no exchange anywhere in the sampling plan
    assert "Exchange" not in plan_of(s1)


def test_pack_sequences_matches_serial_packing(spark):
    docs = catalog.load(spark, SF_SMOKE, "documents")
    tok = docs.select(
        "doc_id", F.size(F.split("text", r"\s+")).cast("long").alias("n_tokens")
    )
    ctx = 256
    packed = {
        r["doc_id"]: r["bin_id"]
        for r in pipeline_ops.pack_sequences(tok, "doc_id", "n_tokens", ctx).collect()
    }
    acc = 0
    for r in sorted(tok.collect(), key=lambda r: r["doc_id"]):
        assert packed[r["doc_id"]] == acc // ctx
        acc += r["n_tokens"]
    # the packing never funnels data through a single partition
    assert "SinglePartition" not in plan_of(
        pipeline_ops.pack_sequences(tok, "doc_id", "n_tokens", ctx)
    )


def test_kmeans_two_blobs_converges_and_is_partition_invariant(spark):
    from hadoop_0_20_2_ljx_spark.extensions.clustering import kmeans_lloyd

    pts = [(i, [10.0, 10.0 + i * 0.1]) for i in range(5)] + [
        (100 + i, [-10.0, -10.0 - i * 0.1]) for i in range(5)
    ]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    init = {0: [9.0, 9.0], 1: [-9.0, -9.0]}
    a1, c1 = kmeans_lloyd(df, "embedding", 2, 2, init)
    got = {r["vec_id"]: r["cluster"] for r in a1.collect()}
    assert all(got[i] == 0 for i in range(5))
    assert all(got[100 + i] == 1 for i in range(5))
    # blob means recovered
    assert abs(c1[0][0] - 10.0) < 1e-9 and abs(c1[1][0] + 10.0) < 1e-9
    # partitioning must not change assignments (deterministic argmin)
    a2, _ = kmeans_lloyd(df.repartition(7), "embedding", 2, 2, init)
    assert {r["vec_id"]: r["cluster"] for r in a2.collect()} == got


def test_quantize_known_values_and_no_shuffle(spark):
    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25])], "vec_id long, embedding array<double>"
    )
    r = pipeline_ops.quantize_embeddings(df, "vec_id", "embedding").collect()[0]
    assert abs(r["scale"] - 1.0 / 127) < 1e-12
    # x/scale = [127, -63.5, 31.75] -> half-up floor(x+0.5) = [127, -63, 32]
    assert list(r["qvec"]) == [127, -63, 32]
    assert "Exchange" not in plan_of(
        pipeline_ops.quantize_embeddings(df, "vec_id", "embedding")
    )


def test_global_shuffle_is_permutation_and_partition_invariant(spark):
    docs = catalog.load(spark, SF_SMOKE, "documents").select("doc_id")
    s1 = pipeline_ops.global_shuffle(docs, "doc_id")
    rows = s1.collect()
    n = len(rows)
    assert sorted(r["shuffle_pos"] for r in rows) == list(range(1, n + 1))
    pos1 = {r["doc_id"]: r["shuffle_pos"] for r in rows}
    s2 = pipeline_ops.global_shuffle(docs.repartition(13), "doc_id")
    assert {r["doc_id"]: r["shuffle_pos"] for r in s2.collect()} == pos1
    # hash-ordered, so the permutation decorrelates from doc_id order
    first_ids = sorted(d for d, p in pos1.items() if p <= n // 10)
    assert first_ids != list(range(len(first_ids)))


def test_pq_codes_reconstruct_within_quantization_error(spark):
    from hadoop_0_20_2_ljx_spark.extensions.clustering import pq_encode, pq_train

    emb = catalog.load(spark, SF_SMOKE, "embeddings")
    books = pq_train(emb, "vec_id", "embedding", m=8, k=8, iters=1)
    assert len(books) == 8 and all(len(b) <= 8 and len(b) >= 1 for b in books)
    enc = pq_encode(emb, "vec_id", "embedding", books)
    rows = enc.collect()
    n = emb.count()
    assert len(rows) == n
    # codes address existing centroids; every subspace uses >1 centroid
    for j in range(8):
        codes = {r[f"code_{j}"] for r in rows}
        assert codes <= set(books[j]) and len(codes) > 1
    # encode plan: one projection, no join/exchange
    plan = enc._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Exchange" not in plan


def test_temperature_sample_flattens_mix(spark):
    """Smallest group survives fully (rate 1.0); larger groups are thinned
    monotonically; alpha=1 keeps everything (rates all 1.0)."""
    from hadoop_0_20_2_ljx_spark.extensions.pipeline_ops import temperature_sample

    rows = (
        [("big", i) for i in range(400)]
        + [("mid", 1000 + i) for i in range(100)]
        + [("small", 2000 + i) for i in range(25)]
    )
    df = spark.createDataFrame(rows, "src string, k long")

    kept = temperature_sample(df, "src", "k", alpha=0.5)
    counts = {r["src"]: r["n"] for r in kept.groupBy("src").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")
    ).collect()}
    assert counts["small"] == 25  # n_min group: rate (25/25)^0.5 = 1.0
    # expected basis points: (25/400)^.5=0.25 -> 2500; (25/100)^.5=0.5 -> 5000
    assert 0 < counts["big"] < 400 and 0 < counts["mid"] < 100
    frac_big, frac_mid = counts["big"] / 400, counts["mid"] / 100
    assert frac_big < frac_mid < 1.0  # monotone thinning toward the small group

    all_kept = temperature_sample(df, "src", "k", alpha=1.0)
    assert all_kept.count() == len(rows)  # alpha=1: original mix untouched


def test_unigram_logprob_hand_case(spark):
    import math

    from hadoop_0_20_2_ljx_spark.extensions.relevance import unigram_logprob_scores

    docs = spark.createDataFrame([(1, "a a b"), (2, "b c")], "doc_id long, text string")
    out = {r["doc_id"]: (r["n_tok"], r["avg_logprob"]) for r in
           unigram_logprob_scores(docs, "doc_id", "text").collect()}
    # corpus: a:2 b:2 c:1, total 5
    la, lb, lc = math.log(2 / 5), math.log(2 / 5), math.log(1 / 5)
    assert out[1] == (3, round((la + la + lb) / 3, 4))
    assert out[2] == (2, round((lb + lc) / 2, 4))


def test_chunk_documents_edges_and_plan(spark):
    """Chunk boundaries: short doc -> 1 chunk; exact multiples; overlap
    content; and the plan must stay shuffle-free (pure explode)."""
    import pytest

    df = spark.createDataFrame(
        [(1, "a b c"), (2, " ".join(f"w{i}" for i in range(32))),
         (3, " ".join(f"w{i}" for i in range(33)))],
        "doc_id long, text string",
    )
    out = pipeline_ops.chunk_documents(df, chunk_tokens=32, stride=24)
    rows = {(r["doc_id"], r["chunk_id"]): r["n_tokens"] for r in out.collect()}
    assert rows[(1, 0)] == 3 and (1, 1) not in rows  # short doc: one chunk
    assert rows[(2, 0)] == 32 and (2, 1) not in rows  # exact fit: one chunk
    assert rows[(3, 0)] == 32 and rows[(3, 1)] == 9  # 33 tokens: tail chunk
    assert "Exchange" not in plan_of(out)
    with pytest.raises(ValueError, match="stride"):
        pipeline_ops.chunk_documents(df, chunk_tokens=8, stride=9)


def test_keep_latest_deterministic_tiebreak(spark):
    """Equal timestamps must resolve by the tiebreak id, not partitioning."""
    df = spark.createDataFrame(
        [(1, "a", 100, 7, 1.0), (1, "a", 100, 9, 2.0), (1, "a", 50, 99, 3.0),
         (2, "a", 10, 1, 4.0)],
        "user_id long, event_type string, t_us long, event_id long, value double",
    )
    out = pipeline_ops.keep_latest_versions(
        df, ["user_id", "event_type"], "t_us", "event_id"
    )
    got = {(r["user_id"]): (r["event_id"], r["value"]) for r in out.collect()}
    assert got[1] == (9, 2.0)  # ts tie -> higher event_id wins
    assert got[2] == (1, 4.0)


def test_cap_per_group_quota_and_windowgrouplimit_plan(spark):
    docs = catalog.load(spark, SF_SMOKE, "documents")
    quota = 3
    capped = pipeline_ops.cap_per_group(
        docs, "source", [F.col("n_chars").desc(), F.col("doc_id")], quota
    )
    per_group = capped.groupBy("source").count().collect()
    assert per_group and all(r["count"] <= quota for r in per_group)
    # the kept set is exactly the serial per-group top-quota
    kept = {r["doc_id"] for r in capped.collect()}
    serial: dict[str, list] = {}
    for r in docs.select("doc_id", "source", "n_chars").collect():
        serial.setdefault(r["source"], []).append((-r["n_chars"], r["doc_id"]))
    expect = {
        doc for rows in serial.values() for _, doc in sorted(rows)[:quota]
    }
    assert kept == expect
    # the scale claim: the rank filter is pushed below the exchange as a
    # WindowGroupLimit (map-side per-group top-k), so a skewed group
    # ships at most quota rows per input partition
    assert "WindowGroupLimit" in plan_of(capped)


def test_select_token_budget_is_exact_prefix(spark):
    docs = catalog.load(spark, SF_SMOKE, "documents")
    tok = docs.select(
        "doc_id",
        F.size(F.split("text", r"\s+")).cast("long").alias("n_tokens"),
        (F.col("doc_id") % 7).alias("prio"),  # deliberately tie-heavy
    )
    budget = 500
    sel = pipeline_ops.select_token_budget(
        tok, "n_tokens", [F.col("prio").desc(), F.col("doc_id")], budget
    )
    got = {r["doc_id"]: r["cum_before"] for r in sel.collect()}
    # serial replay: prefix of the (prio desc, doc_id) order until the
    # running total reaches the budget; the crossing doc is included
    acc = 0
    expect = {}
    for r in sorted(tok.collect(), key=lambda r: (-r["prio"], r["doc_id"])):
        if acc >= budget:
            break
        expect[r["doc_id"]] = acc
        acc += r["n_tokens"]
    assert got == expect
    assert "SinglePartition" not in plan_of(sel)


def test_decontaminate_removes_spans_and_composes_overlaps(spark):
    # bench doc = words b1..b8; train doc 1 embeds that 8-gram twice with
    # overlap-adjacent context; doc 2 is clean; doc 3 IS the bench text
    # (total removal -> empty clean_text); doc 4 is too short to gram.
    bench_text = "b1 b2 b3 b4 b5 b6 b7 b8"
    docs = spark.createDataFrame(
        [
            (0, bench_text),
            (1, "x1 x2 " + bench_text + " mid " + bench_text + " y1"),
            (2, "clean words only here nothing shared with the suite at all"),
            (3, bench_text),
            (4, "tiny doc"),
        ],
        "doc_id long, text string",
    )
    bench = docs.filter(F.col("doc_id") == 0)
    train = docs.filter(F.col("doc_id") != 0)
    out = {
        r["doc_id"]: r
        for r in pipeline_ops.decontaminate_spans(
            train, bench, "doc_id", "text", n=8
        ).collect()
    }
    # doc 1: 20 tokens, two disjoint 8-token hits removed -> x1 x2 mid y1
    assert out[1]["n_tokens_before"] == 20
    assert out[1]["n_tokens_after"] == 4
    assert out[1]["clean_text"] == "x1 x2 mid y1"
    # doc 2 untouched
    assert out[2]["n_tokens_before"] == out[2]["n_tokens_after"]
    # doc 3 fully removed -> empty string, not NULL
    assert out[3]["n_tokens_after"] == 0 and out[3]["clean_text"] == ""
    # doc 4 (< n tokens) can never be contaminated
    assert out[4]["n_tokens_after"] == 2


def test_decontaminate_overlapping_hits_union_not_double_count(spark):
    # bench grams "a1..a8" and "a2..a9" overlap in the train doc
    # a1..a9: spans [0,8) and [1,9) union to [0,9) -> everything removed
    words = " ".join(f"a{i}" for i in range(1, 10))
    docs = spark.createDataFrame(
        [(0, " ".join(f"a{i}" for i in range(1, 9))),
         (1, " ".join(f"a{i}" for i in range(2, 10))),
         (2, words + " tail1 tail2")],
        "doc_id long, text string",
    )
    bench = docs.filter(F.col("doc_id") < 2)
    train = docs.filter(F.col("doc_id") == 2)
    row = pipeline_ops.decontaminate_spans(
        train, bench, "doc_id", "text", n=8
    ).collect()[0]
    assert row["n_tokens_before"] == 11
    assert row["n_tokens_after"] == 2
    assert row["clean_text"] == "tail1 tail2"


def test_domain_reweight_uniform_rates_and_determinism(spark):
    docs = catalog.load(spark, SF_SMOKE, "documents")
    tok = docs.select(
        "source", "doc_id", F.length("text").cast("long").alias("w")
    )
    kept = pipeline_ops.domain_reweight(tok, "source", "w", "doc_id")
    rates = {
        r["source"]: r["rate_bp"]
        for r in kept.select("source", "rate_bp").distinct().collect()
    }
    # rates are capped at 10000 and positive for every surviving group
    assert all(0 < bp <= 10000 for bp in rates.values())
    # replay the integer math: rate = min(10000, 10000*(tot DIV k) DIV cur)
    cur = {
        r["source"]: r["c"]
        for r in tok.groupBy("source").agg(F.sum("w").alias("c")).collect()
    }
    tot, k = sum(cur.values()), len(cur)
    for s, bp in rates.items():
        assert bp == min(10000, (10000 * (tot // k)) // cur[s])
    # deterministic: same inputs -> identical kept set
    a = sorted(r["doc_id"] for r in kept.select("doc_id").collect())
    b = sorted(
        r["doc_id"]
        for r in pipeline_ops.domain_reweight(tok, "source", "w", "doc_id")
        .select("doc_id")
        .collect()
    )
    assert a == b


def test_domain_reweight_explicit_target_drops_unlisted_groups(spark):
    tok = spark.createDataFrame(
        [("a", i, 10) for i in range(100)] + [("b", 100 + i, 10) for i in range(100)],
        "source string, doc_id long, w long",
    )
    # all mass to 'a': b keeps nothing, a keeps everything (rate 10000)
    kept = pipeline_ops.domain_reweight(
        tok, "source", "w", "doc_id", target_bp={"a": 10000}
    )
    got = {r["source"]: r["n"] for r in kept.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert got == {"a": 100}


def test_domain_reweight_quotes_in_group_keys(spark):
    """Under both string-literal parse modes (a key that went through
    the SQL parser would read o''brien with escapedStringLiterals on)."""
    tok = spark.createDataFrame(
        [("o'brien", i, 10) for i in range(50)] + [("plain", 50 + i, 10) for i in range(50)],
        "source string, doc_id long, w long",
    )
    for escaped in (False, True):
        with parser_escapes(spark, escaped):
            kept = pipeline_ops.domain_reweight(
                tok, "source", "w", "doc_id", target_bp={"o'brien": 10000}
            )
            got = {r["source"] for r in kept.select("source").distinct().collect()}
        assert got == {"o'brien"}, escaped


def test_domain_reweight_backslashes_in_group_keys(spark):
    """Keys with embedded and trailing backslashes must match the raw key
    bytes under both string-literal parse modes (r6 ADVICE: the default
    parser reads \\ as an escape; with escapedStringLiterals on it does
    not, and a key passed through SQL text either diverged or, with a
    trailing backslash, broke the parse)."""
    keys = ["c:\\data\\", "a\\'b", "plain"]
    rows = [(k, i * 10 + j, 10) for i, k in enumerate(keys) for j in range(10)]
    tok = spark.createDataFrame(rows, "source string, doc_id long, w long")
    for escaped in (False, True):
        with parser_escapes(spark, escaped):
            kept = pipeline_ops.domain_reweight(
                tok, "source", "w", "doc_id",
                target_bp={"c:\\data\\": 5000, "a\\'b": 5000},
            )
            got = {r["source"] for r in kept.select("source").distinct().collect()}
        # 'plain' is unlisted (rate 0); both backslash keys keep everything
        # (rate caps at 10000 since each holds 1/3 of the mass > 50% target)
        assert got == {"c:\\data\\", "a\\'b"}, escaped


def test_decontaminate_randomized_vs_python_reference(spark):
    """200 random docs over a tiny vocabulary (dense n-gram collisions),
    one Spark run, per-doc compare against a pure-Python span-removal
    reference — overlap composition, total removal, and short-doc edges
    all arise naturally at this density."""
    import random

    rng = random.Random(6)
    vocab = [f"w{i}" for i in range(8)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 14))))
        for i in range(200)
    ]
    n = 3
    df = spark.createDataFrame(docs, "doc_id long, text string")
    bench = df.filter(F.col("doc_id") % 7 == 0)
    train = df.filter(F.col("doc_id") % 7 != 0)
    got = {
        r["doc_id"]: (r["n_tokens_before"], r["n_tokens_after"], r["clean_text"])
        for r in pipeline_ops.decontaminate_spans(
            train, bench, "doc_id", "text", n=n
        ).collect()
    }

    def grams(words):
        return {
            " ".join(words[i : i + n]) for i in range(len(words) - n + 1)
        }

    bench_grams = set()
    for i, t in docs:
        if i % 7 == 0:
            bench_grams |= grams(t.lower().split())
    for i, t in docs:
        if i % 7 == 0:
            continue
        w = t.lower().split()
        hit = [
            p for p in range(max(len(w) - n + 1, 0))
            if " ".join(w[p : p + n]) in bench_grams
        ]
        removed = {j for p in hit for j in range(p, p + n)}
        kept = [x for j, x in enumerate(w) if j not in removed]
        assert got[i] == (len(w), len(kept), " ".join(kept)), (i, t, got[i])
