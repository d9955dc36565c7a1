"""Unit tests for the round-3 curation operators: canonical keep-best
dedup, chunk-level first-occurrence dedup, incremental LSH dedup, and
the blocklist filter's broadcast-anti-join plan."""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_0_20_2_ljx_spark.extensions import dedup
from tests.conftest import SF_SMOKE
from tests.test_scale_properties import plan_of


def test_keep_best_dedup_normalizes_and_tie_breaks(spark):
    rows = [
        (1, "Hello   World", 5),
        (2, " hello world ", 9),  # best score in the group
        (3, "hello world", 9),  # same score -> larger id loses
        (4, "other doc", 1),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, score long")
    out = {
        r["doc_id"]: r
        for r in dedup.keep_best_dedup(df, "doc_id", "text", "score").collect()
    }
    assert set(out) == {2, 4}
    assert out[2]["n_dups"] == 3 and out[2]["score"] == 9
    assert out[4]["n_dups"] == 1


def test_chunk_dedup_keeps_global_first_occurrence(spark):
    a = " ".join(f"w{i}" for i in range(10))
    b = " ".join(f"x{i}" for i in range(10))
    rows = [
        (1, a + " " + b),  # owns both chunks
        (2, b),  # chunk b already seen at (1, pos 1) -> loses it
        (3, "tiny doc"),  # shorter than one chunk -> one chunk, kept
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in dedup.chunk_first_occurrence_dedup(
            df, "doc_id", "text", chunk_tokens=10
        ).collect()
    }
    assert out[1]["n_chunks"] == 2 and out[1]["n_kept"] == 2
    assert out[2]["n_chunks"] == 1 and out[2]["n_kept"] == 0
    assert out[3]["n_chunks"] == 1 and out[3]["n_kept"] == 1
    assert out[2]["kept_hash"] == 0


def test_incremental_lsh_never_pairs_index_with_itself(spark):
    text = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(10, text), (20, text), (1, text), (2, text), (3, "completely different words here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    new = df.where(F.col("doc_id") >= 10)
    index = df.where(F.col("doc_id") < 10)
    pairs = dedup.incremental_lsh_candidates(new, index, "doc_id", "text").collect()
    got = {(r["new_id"], r["index_id"]) for r in pairs}
    # identical docs collide across the boundary; never (1,2) or (10,20)
    assert (10, 1) in got and (20, 2) in got
    assert all(n >= 10 and i < 10 for n, i in got)


def test_blocklist_plan_is_broadcast_anti_join(spark):
    from hadoop_0_20_2_ljx_spark.queries import REGISTRY

    plan = plan_of(REGISTRY["q_filter_blocklist"].spark(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_minhash_double_hash_family_matches_array_form(spark):
    """The relational min-agg path and the array-expression path must
    produce identical signatures (shared md5_int_sql/mh_hash_sql family)."""
    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "x y")], "doc_id long, text string"
    )
    sig = df.select(
        "doc_id", dedup.minhash_signature("text", 8, 3).alias("sig")
    ).collect()
    arr = {r["doc_id"]: r["sig"] for r in sig}
    banded = dedup.minhash_band_buckets(df, "doc_id", "text", num_hashes=8, bands=1)
    assert len(arr[1]) == 8
    # shorter than one shingle -> sentinel empty-gram signature
    import hashlib

    v = int(hashlib.md5(b"").hexdigest()[:15], 16)
    h1, h2 = v >> 30, v & ((1 << 30) - 1)
    assert arr[2] == [(h1 + s * h2) % (1 << 30) for s in range(8)]
    assert banded.count() == 2  # one band row per doc


def test_bpe_learns_expected_merges(spark):
    """Tiny corpus with a known dominant pair sequence: 'ab' appears in
    every word, so the first merge must be 'a b'; after it merges, 'ab c'
    dominates."""
    from hadoop_0_20_2_ljx_spark.extensions.bpe import learn_bpe

    df = spark.createDataFrame(
        [("abc abc abd",), ("abc ab",)], "text string"
    )
    out, merges = learn_bpe(df, "text", n_merges=2)
    assert merges[0][1] == "a b" and merges[0][2] == 5
    assert merges[1][1] == "ab c" and merges[1][2] == 3
    assert out.count() == 2


def test_pagerank_integer_determinism(spark):
    """Same graph, different partitionings -> identical scaled-integer
    ranks (the order-independence claim)."""
    from hadoop_0_20_2_ljx_spark.extensions.graph import pagerank_int

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 1)], "src long, dst long"
    )
    a = {r["node"]: r["rank"] for r in pagerank_int(edges, iterations=4).collect()}
    b = {
        r["node"]: r["rank"]
        for r in pagerank_int(edges.repartition(7), iterations=4).collect()
    }
    assert a == b
    # node 1 has two in-edges: must outrank the single-in-edge nodes
    assert a[1] > a[2] and a[1] > a[4]


def test_bpe_randomized_vs_python_reference(spark):
    """Random corpus over a 3-letter alphabet (pair counts collide and
    tie constantly), 8 merge rounds, the full (rank, pair, cnt) merge
    table compared against a pure-Python reference implementing the SAME
    documented contract (extensions/bpe.py): per-position pair counts
    weighted by word frequency, ties to the lexicographically smallest
    pair, merge applied as ONE non-overlapping left-to-right replace
    over the space-sentineled symbol string."""
    import random
    from collections import Counter

    from hadoop_0_20_2_ljx_spark.extensions.bpe import learn_bpe

    rng = random.Random(6)
    texts = [
        " ".join(
            "".join(rng.choice("abc") for _ in range(rng.randint(1, 6)))
            for _ in range(rng.randint(1, 8))
        )
        for _ in range(150)
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    _, got = learn_bpe(df, "text", n_merges=8)

    wc = Counter(w for t in texts for w in t.split() if w)
    vocab = [(" " + " ".join(w) + " ", c) for w, c in wc.items()]
    expect = []
    for r in range(1, 9):
        counts: Counter = Counter()
        for seq, freq in vocab:
            syms = seq.strip().split(" ")
            for i in range(len(syms) - 1):
                counts[syms[i] + " " + syms[i + 1]] += freq
        if not counts:
            break
        best = min(counts, key=lambda p: (-counts[p], p))
        merged = best.replace(" ", "")
        expect.append((r, best, counts[best]))
        vocab = [
            (seq.replace(f" {best} ", f" {merged} "), freq) for seq, freq in vocab
        ]
    assert got == expect
