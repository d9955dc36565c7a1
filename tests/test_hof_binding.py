"""Bitwise-identity pins for the r8 lambda-binding rewrite of the gram
builders (dedup.word_shingles_sql, pipeline_ops.word_ngrams,
textstats.doc_fingerprint's window minhash, dedup.minhash_signature).

Catalyst performs no common-subexpression elimination inside
higher-order-function lambdas, so the original builders re-evaluated the
token-array expression (a regexp split of the full text) once per gram
index — O(tokens^2) work per document, 57x slower on a 2000-token doc
(invisible on the short fixture texts; measured r8). The rewrite binds
the token array ONCE as a lambda variable (wrap in a 1-element array,
transform over it). These tests pin that the rewritten expressions are
BITWISE identical to the original formulations on adversarial random
texts — unicode, runs of whitespace, empty docs, docs shorter than one
gram — plus the parquet fixture corpus, and that the linear plan really
evaluates the split once (growth guard on a long synthetic doc).

Reference semantics under test mirror the pre-r8 code verbatim (the
`_old_*` builders below, with the Column helpers they call copied here so
each reference stays independent of the code under test), so a
regression in either direction fails.
"""

from __future__ import annotations

import random
import string
import time

from pyspark.sql import Column
from pyspark.sql import functions as F

from hadoop_0_20_2_ljx_spark.extensions import pipeline_ops, textstats
from hadoop_0_20_2_ljx_spark.extensions import dedup
from tests.conftest import SF_SMOKE


# --- Column helpers the references call, kept verbatim -----------------------
def _tokens(text: Column) -> Column:
    """Whitespace tokens, empties dropped."""
    return F.filter(F.split(text, r"\s+"), lambda w: w != "")


_MH_MOD = 1 << 30


def _mh_base(g: Column) -> Column:
    """60-bit md5-derived base value for the double-hash family."""
    return F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long")


# --- pre-r8 formulations, kept verbatim as the identity reference ------------
def _old_word_shingles(text: Column, k: int = 3) -> Column:
    words = _tokens(text)
    n = F.size(words)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(n - k, F.lit(0))),
        lambda i: F.array_join(F.slice(words, i + 1, k), " "),
    )
    return F.when(n >= k, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def _old_word_ngrams(text: Column, n: int) -> Column:
    toks = _tokens(F.lower(text))
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    grams = F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " "))
    return F.when(F.size(toks) >= n, grams).otherwise(F.array().cast("array<string>"))


def _old_fingerprint_hash(text: Column, window_k: int = 5) -> Column:
    toks = _tokens(F.lower(text))
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(n - window_k, F.lit(0))),
        lambda i: F.array_join(F.slice(toks, i + 1, window_k), " "),
    )
    return F.array_min(
        F.transform(
            grams, lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long")
        )
    )


def _random_texts(n_rows: int, seed: int) -> list[str]:
    rng = random.Random(seed)
    alphabet = string.ascii_lowercase + "äöü猫 \t\n  -_.!?"
    out = []
    for i in range(n_rows):
        n_chars = rng.choice((0, 1, 2, 3, 5, 8, 40, 200))
        out.append("".join(rng.choice(alphabet) for _ in range(n_chars)))
    # pin the structured edge cases explicitly
    out += ["", " ", "\t\n ", "one", "one two", "one two three",
            "a  b   c    d", " lead", "trail ", "a a a a a a"]
    return out


def _assert_bitwise_equal(spark, texts: list[str], old: Column, new: Column) -> None:
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    bad = df.select(
        F.when(old.eqNullSafe(new), 0).otherwise(1).alias("x")
    ).agg(F.sum("x")).first()[0]
    assert bad == 0, f"{bad}/{len(texts)} rows differ between old and new expression"


def test_word_shingles_binding_is_bitwise_identical(spark):
    texts = _random_texts(400, seed=81)
    for k in (1, 2, 3, 5):
        _assert_bitwise_equal(
            spark, texts, _old_word_shingles(F.col("text"), k),
            F.expr(dedup.word_shingles_sql("text", k)),
        )


def test_word_ngrams_binding_is_bitwise_identical(spark):
    texts = _random_texts(400, seed=82)
    for n in (1, 2, 3, 8):
        _assert_bitwise_equal(
            spark, texts, _old_word_ngrams(F.col("text"), n),
            pipeline_ops.word_ngrams("text", n),
        )


def _assert_fingerprints_equal(docs, id_col: str) -> None:
    """textstats.doc_fingerprint vs the pre-r8 window minhash (same -1
    fallback for docs without a window), row for row."""
    old = docs.select(
        F.col(id_col),
        F.coalesce(_old_fingerprint_hash(F.col("text"), 5), F.lit(-1).cast("long"))
        .alias("fingerprint"),
    )
    new = textstats.doc_fingerprint(docs, id_col, "text", 5)
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0


def test_fingerprint_binding_is_bitwise_identical(spark):
    texts = _random_texts(400, seed=83)
    df = spark.createDataFrame(list(enumerate(texts)), "id long, text string")
    _assert_fingerprints_equal(df, "id")


def test_minhash_signature_binding_is_bitwise_identical(spark):
    texts = _random_texts(200, seed=84)
    # pre-r8 array form: per-seed lambda re-referenced the padded shingle set
    raw = _old_word_shingles(F.col("text"), 3)
    sh = F.when(F.size(raw) > 0, raw).otherwise(F.array(F.lit("")))
    old = F.transform(
        F.sequence(F.lit(0), F.lit(7)),
        lambda s: F.array_min(
            F.transform(
                sh,
                lambda g: (
                    F.shiftright(_mh_base(g), 30)
                    + s.cast("long") * _mh_base(g).bitwiseAND(F.lit(_MH_MOD - 1))
                )
                % F.lit(_MH_MOD),
            )
        ),
    )
    _assert_bitwise_equal(
        spark, texts, old, dedup.minhash_signature("text", 8, 3)
    )


def test_shingles_match_on_fixture_corpus(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    for old, new in (
        (_old_word_shingles(F.col("text"), 3), F.expr(dedup.word_shingles_sql("text", 3))),
        (_old_word_ngrams(F.col("text"), 8), pipeline_ops.word_ngrams("text", 8)),
    ):
        bad = docs.select(
            F.when(old.eqNullSafe(new), 0).otherwise(1).alias("x")
        ).agg(F.sum("x")).first()[0]
        assert bad == 0
    _assert_fingerprints_equal(docs, "doc_id")


# --- pre-r8.2 formulations: lang_id / quality_expr score duplication ---------
def _old_quality_expr(t: Column) -> Column:
    toks = _tokens(t)
    n_words = F.greatest(F.size(toks), F.lit(1))
    n_chars = F.greatest(F.length(t), F.lit(1))
    avg_wlen = (
        F.aggregate(toks, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)) / n_words
    )
    punct = F.size(F.regexp_extract_all(t, F.lit(r"[^A-Za-z0-9\s]"), 0))
    punct_ratio = punct / n_chars
    en_hits = F.size(F.filter(toks, lambda w: F.lower(w).isin("the", "a", "of", "and")))
    stop_ratio = en_hits / n_words
    len_ok = F.when((F.length(t) >= 50) & (F.length(t) <= 10000), 1.0).otherwise(0.0)
    wordlen_ok = F.when((avg_wlen >= 2.0) & (avg_wlen <= 12.0), 1.0).otherwise(0.0)
    score = (
        0.25 * len_ok
        + 0.25 * wordlen_ok
        + 0.25 * (1.0 - punct_ratio)
        + 0.25 * F.least(F.lit(1.0), 10.0 * stop_ratio)
    )
    return F.round(score, 6)


def _old_lang_pred_expr(text: Column, min_ratio: float = 0.01) -> Column:
    toks = _tokens(F.lower(text))
    n = F.greatest(F.size(toks), F.lit(1))
    def _hits(words):
        return lambda w: w.isin(*words)

    scores = {
        lang: F.size(F.filter(toks, _hits(words))) / n
        for lang, words in textstats.STOPWORDS.items()
    }
    langs = sorted(scores)
    best_score = F.greatest(*[scores[lang] for lang in langs])
    pred = F.lit("und")
    for lang in reversed(langs):
        pred = F.when(
            (scores[lang] >= min_ratio) & (scores[lang] == best_score), F.lit(lang)
        ).otherwise(pred)
    return pred


def _en_texts(n_rows: int, seed: int) -> list[str]:
    """Random texts salted with real stopwords so every language's score
    and the argmax tie-break actually fire."""
    rng = random.Random(seed)
    stop = [w for ws in textstats.STOPWORDS.values() for w in ws]
    out = []
    for t in _random_texts(n_rows, seed):
        words = t.split(" ")
        for _ in range(rng.randrange(4)):
            words.insert(rng.randrange(len(words) + 1), rng.choice(stop))
        out.append(" ".join(words))
    return out


def test_quality_expr_binding_is_bitwise_identical(spark):
    texts = _en_texts(400, seed=85) + [None]  # NULL propagates identically
    _assert_bitwise_equal(
        spark, texts, _old_quality_expr(F.col("text")),
        textstats.quality_expr("text"),
    )


def test_lang_pred_binding_is_bitwise_identical(spark):
    texts = _en_texts(400, seed=86) + [None]
    for min_ratio in (0.01, 0.25):
        _assert_bitwise_equal(
            spark, texts, _old_lang_pred_expr(F.col("text"), min_ratio),
            textstats.lang_pred_expr("text", min_ratio),
        )


def test_lang_and_quality_match_on_fixture_corpus(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    for old, new in (
        (_old_quality_expr(F.col("text")), textstats.quality_expr("text")),
        (_old_lang_pred_expr(F.col("text")), textstats.lang_pred_expr("text")),
    ):
        bad = docs.select(
            F.when(old.eqNullSafe(new), 0).otherwise(1).alias("x")
        ).agg(F.sum("x")).first()[0]
        assert bad == 0


def test_lang_and_quality_tokenize_once_in_plan(spark):
    """Mechanical pin: the optimized plan of each rewritten projection
    carries exactly ONE split( — the single bound tokenization. The old
    formulations stamped 24 (lang argmax) / 3+ (quality) copies."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    for col in (
        textstats.lang_pred_expr("text"),
        textstats.quality_expr("text"),
    ):
        plan = docs.select(col.alias("y"))._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("split(") == 1, plan


def test_long_doc_shingle_build_is_not_quadratic(spark):
    """Growth guard, not a wall-clock benchmark: on 200 generated docs,
    growing the doc 8x (250 -> 2000 tokens) must not grow the shingle
    build superlinearly. The quadratic form is 64x work per doc at 8x
    tokens (measured 57x slower wall); the linear form is 8x work. The
    12x ratio bound leaves 50% headroom over perfect linearity on a
    shared host while failing the quadratic form by 5x."""

    def corpus(n_tokens: int):
        words = F.array_join(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_tokens - 1)),
                lambda i: F.concat(F.lit("w"), ((F.col("id") * 31 + i) % 9973).cast("string")),
            ),
            " ",
        )
        return spark.range(200).select(words.alias("text"))

    def build_secs(n_tokens: int) -> float:
        df = corpus(n_tokens).select(
            F.explode(F.expr(dedup.word_shingles_sql("text", 3))).alias("g")
        )
        t = time.time()
        df.count()
        return time.time() - t

    build_secs(250)  # warm codegen
    small = min(build_secs(250) for _ in range(2))
    large = min(build_secs(2000) for _ in range(2))
    assert large < max(12 * small, 2.0), (
        f"shingle build grew {large / max(small, 1e-9):.1f}x for 8x tokens "
        f"({small:.2f}s -> {large:.2f}s): quadratic regression?"
    )


# --- r9: the r8-ADVICE padding double-eval (dedup.pad_empty_sql) -------------
def _old_pad_empty(arr: Column) -> Column:
    """Pre-r9 sentinel padding, kept verbatim: references `arr` twice in
    one expression — with an HOF-rooted (CodegenFallback) gram build
    underneath, the build evaluated twice per document."""
    return F.when(F.size(arr) > 0, arr).otherwise(F.array(F.lit("")))


def _old_simhash64(text: Column, bits: int = 60) -> Column:
    """Pre-r9 simhash64, kept verbatim: padding double-eval PLUS the
    `hashes` expression referenced once per bit (tokenize+md5 x bits)."""
    raw = F.filter(F.split(text, r"\s+"), lambda w: w != "")
    words = F.when(F.size(raw) > 0, raw).otherwise(F.array(F.lit("")))
    hashes = F.transform(
        words, lambda w: F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("long")
    )

    def bit_contrib(j: int) -> Column:
        mask = F.lit(1 << j).cast("long")
        votes = F.aggregate(
            hashes,
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(h.bitwiseAND(mask) != 0, F.lit(1)).otherwise(F.lit(-1)),
        )
        return F.when(votes > 0, mask).otherwise(F.lit(0).cast("long"))

    out = F.lit(0).cast("long")
    for j in range(bits):
        out = out + bit_contrib(j)
    return out.cast("long")


def test_pad_empty_binding_is_bitwise_identical(spark):
    texts = _random_texts(400, seed=87)
    for k in (1, 3):
        sh_old = _old_word_shingles(F.col("text"), k)
        _assert_bitwise_equal(
            spark, texts,
            _old_pad_empty(sh_old),
            F.expr(dedup.pad_empty_sql(dedup.word_shingles_sql("text", k))),
        )


def test_simhash64_binding_is_bitwise_identical(spark):
    texts = _random_texts(200, seed=88) + [None]
    for bits in (8, 60):
        _assert_bitwise_equal(
            spark, texts,
            _old_simhash64(F.col("text"), bits),
            dedup.simhash64("text", bits),
        )


def test_padded_builders_tokenize_once_in_plan(spark):
    """Mechanical pin: one split( per rewritten projection. The naive
    padding stamped 2 gram builds (pad condition + pad branch); the old
    simhash64 stamped bits+1 tokenizations (one per bit's aggregate)."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    cases = [
        F.explode(F.expr(dedup.pad_empty_sql(dedup.word_shingles_sql("text", 3)))).alias("g"),
        dedup.minhash_signature("text", 8, 3).alias("sig"),
        dedup.simhash64("text", 8).alias("sh"),
    ]
    for col in cases:
        plan = docs.select(col)._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("split(") == 1, plan
    # and the old forms really did stamp copies (guards the guard)
    old_pad = docs.select(
        F.explode(_old_pad_empty(F.expr(dedup.word_shingles_sql("text", 3)))).alias("g")
    )._jdf.queryExecution().optimizedPlan().toString()
    assert old_pad.count("split(") == 2, old_pad
    old_sh = docs.select(
        _old_simhash64(F.col("text"), 8).alias("sh")
    )._jdf.queryExecution().optimizedPlan().toString()
    assert old_sh.count("split(") > 2, old_sh


# --- r10: the deferred simhash_signatures padding double-eval ----------------
def _old_simhash_signatures(df, id_col: str, text_col: str, bits: int = 60):
    """Pre-r10 simhash_signatures, kept verbatim: the sentinel padding
    referenced `words` (filter(split(text))) twice, so tokenization ran
    2x per document before the explode."""
    import functools
    import operator

    ids = df.select(F.col(id_col).alias(id_col), F.col(text_col).alias("_text"))
    words = F.filter(F.split(F.col("_text"), r"\s+"), lambda w: w != "")
    sc = df.sparkSession.sparkContext
    padded = F.when(F.size(words) > 0, words).otherwise(F.array(F.lit("")))
    tok = (
        ids.repartition(sc.defaultParallelism, id_col)
        .select(id_col, F.explode(padded).alias("w"))
        .select(
            id_col,
            F.conv(F.substring(F.md5(F.col("w")), 1, 15), 16, 10).cast("long").alias("h"),
        )
    )
    votes = tok.groupBy(id_col).agg(
        F.count("*").alias("n_tok"),
        *[
            F.sum(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1).cast("long"))).alias(f"s{j}")
            for j in range(bits)
        ],
    )
    sig = functools.reduce(
        operator.add,
        [
            F.when(F.col(f"s{j}") * 2 > F.col("n_tok"), F.lit(1 << j).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            for j in range(bits)
        ],
    )
    return votes.select(id_col, sig.alias("simhash"))


def test_simhash_signatures_padding_is_bitwise_identical(spark):
    texts = _random_texts(200, seed=89)
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    for bits in (8, 60):
        old = _old_simhash_signatures(df, "doc_id", "text", bits)
        new = dedup.simhash_signatures(df, "doc_id", "text", bits)
        joined = old.alias("o").join(new.alias("n"), "doc_id", "full")
        bad = joined.select(
            F.when(F.col("o.simhash").eqNullSafe(F.col("n.simhash")), 0)
            .otherwise(1)
            .alias("x")
        ).agg(F.sum("x")).first()[0]
        assert bad == 0


def test_simhash_signatures_on_fixture_matches_old(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    old = _old_simhash_signatures(docs, "doc_id", "text")
    new = dedup.simhash_signatures(docs, "doc_id", "text")
    joined = old.alias("o").join(new.alias("n"), "doc_id", "full")
    bad = joined.select(
        F.when(F.col("o.simhash").eqNullSafe(F.col("n.simhash")), 0)
        .otherwise(1)
        .alias("x")
    ).agg(F.sum("x")).first()[0]
    assert bad == 0


def test_simhash_signatures_tokenize_once_in_plan(spark):
    """The explode-feeding projection must carry ONE split( after the
    pad_empty_sql rewrite; the old padding stamped two."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = (
        dedup.simhash_signatures(docs, "doc_id", "text", 8)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert plan.count("split(") == 1, plan
    old_plan = (
        _old_simhash_signatures(docs, "doc_id", "text", 8)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert old_plan.count("split(") == 2, old_plan
