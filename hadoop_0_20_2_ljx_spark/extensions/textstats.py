"""Text analysis ops: language-ID, quality scoring, token counting,
document fingerprinting. Engine extras for training-data pipelines (no
reference counterpart; the closest ancestors are TokenCountMapper and
RegexMapper, SURVEY.md §2.3).

All built-in expressions (split/regexp/HOF) — codegen'd, no UDFs — and
arithmetic chosen to be bit-identical in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_0_20_2_ljx_spark.functions.portable import md5_int_sql

# tiny per-language stopword anchors for the n-gram/stopword heuristic
STOPWORDS = {
    "en": ("the", "a", "of", "and"),
    "es": ("el", "la", "de", "y"),
    "de": ("der", "die", "das", "und"),
    "fr": ("le", "la", "de", "et"),
}


def tokens_sql(text_sql: str) -> str:
    """The ONE corpus tokenizer, as SQL text: whitespace tokens of the
    SQL expression `text_sql`, empties dropped. Every text family (dedup,
    contamination, BM25, logprob, lang/quality) tokenizes through here —
    Column callers wrap it in F.expr — and its DuckDB rendering,
    queries/base.words_sql, mirrors it bit-for-bit.

    The regex \\s+ is a SQL string literal written for the ACTIVE
    session's parser. The default parser unescapes backslashes, so the
    literal doubles them; with spark.sql.parser.escapedStringLiterals on,
    backslashes are kept verbatim and a doubled one would match a literal
    backslash then 's' (every document silently one token)."""
    escaped = SparkSession.active().conf.get(
        "spark.sql.parser.escapedStringLiterals", "false"
    )
    ws = r"'\s+'" if escaped.lower() == "true" else r"'\\s+'"
    return f"filter(split({text_sql}, {ws}), w -> w != '')"


def bpe_ish_tokens(text: Column) -> Column:
    """BPE-ish subword segmentation: letter runs, digit runs, and single
    punctuation marks — the classic pre-tokenizer regex."""
    return F.regexp_extract_all(text, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0)


def lang_pred_expr(text_col: str, min_ratio: float = 0.01) -> Column:
    """Language-ID heuristic as a COLUMN expression: argmax stopword-hit
    ratio, 'und' when no language clears min_ratio. Deterministic
    tie-break by language code.

    The token array is bound ONCE as a lambda variable and the per-
    language score vector ONCE more (the dedup.word_shingles_sql
    pattern: Catalyst performs no CSE through higher-order-function
    trees, so the original formulation — one `toks` Column object
    referenced from every score, every score referenced three times by
    the argmax when-chain — stamped 24 copies of
    filter(split(lower(text))) into the projection, i.e. 24 redundant
    tokenizations per document; measured 1.7x end-to-end on 500-token
    docs, growing with doc length. Identity pinned in
    tests/test_hof_binding.py)."""
    langs = sorted(STOPWORDS)

    def _hits(words: tuple[str, ...]):
        # closure factory, NOT a default arg: pyspark's HOF wrapper maps
        # one lambda parameter to one lambda variable, so `lambda w, ws=…`
        # would be treated as a two-argument (element, index) lambda
        return lambda w: w.isin(*words)

    def _scores(toks: Column) -> Column:
        n = F.greatest(F.size(toks), F.lit(1))
        return F.array(
            *[F.size(F.filter(toks, _hits(STOPWORDS[lang]))) / n for lang in langs]
        )

    def _pred(s: Column) -> Column:
        # element_at references are cheap; only the score vector build is
        # expensive, and it is bound exactly once above.
        best = F.greatest(*[F.element_at(s, i + 1) for i in range(len(langs))])
        pred = F.lit("und")
        for i, lang in reversed(list(enumerate(langs))):
            sc = F.element_at(s, i + 1)
            pred = F.when((sc >= min_ratio) & (sc == best), F.lit(lang)).otherwise(pred)
        return pred

    toks = F.expr(tokens_sql(f"lower(`{text_col}`)"))
    scores = F.element_at(F.transform(F.array(toks), _scores), 1)
    return F.element_at(F.transform(F.array(scores), _pred), 1)


def quality_expr(text_col: str) -> Column:
    """Heuristic document quality in [0,1] as a COLUMN expression (so
    callers can compute it alongside other per-doc features in one
    projection — one corpus scan, not a per-feature self-join): rewards
    moderate length, word-length plausibility, low punctuation density,
    stopword presence. Rounded to 6 so the value is cross-engine exact.

    score = 0.25*len_ok + 0.25*wordlen_ok + 0.25*(1-punct_ratio)
          + 0.25*min(1, 10*stopword_ratio)

    The token array and the word-length fold are each bound ONCE as
    lambda variables (the dedup.word_shingles_sql pattern — no CSE
    through HOF trees): the original formulation referenced `toks` from
    the fold, the stopword filter, and both sides of the avg-word-length
    range check, stamping three tokenizations and two O(tokens) folds
    per document into the projection. Identity pinned in
    tests/test_hof_binding.py.
    """
    t = F.col(text_col)
    n_chars = F.greatest(F.length(t), F.lit(1))
    punct = F.size(F.regexp_extract_all(t, F.lit(r"[^A-Za-z0-9\s]"), 0))
    punct_ratio = punct / n_chars
    len_ok = F.when((F.length(t) >= 50) & (F.length(t) <= 10000), 1.0).otherwise(0.0)

    def _score(toks: Column) -> Column:
        n_words = F.greatest(F.size(toks), F.lit(1))
        sum_wlen = F.aggregate(toks, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w))
        en_hits = F.size(F.filter(toks, lambda w: F.lower(w).isin("the", "a", "of", "and")))
        stop_ratio = en_hits / n_words

        def _with_avg(avg_wlen: Column) -> Column:
            wordlen_ok = F.when((avg_wlen >= 2.0) & (avg_wlen <= 12.0), 1.0).otherwise(0.0)
            return (
                0.25 * len_ok
                + 0.25 * wordlen_ok
                + 0.25 * (1.0 - punct_ratio)
                + 0.25 * F.least(F.lit(1.0), 10.0 * stop_ratio)
            )

        return F.element_at(F.transform(F.array(sum_wlen / n_words), _with_avg), 1)

    toks = F.expr(tokens_sql(f"`{text_col}`"))
    return F.round(F.element_at(F.transform(F.array(toks), _score), 1), 6)


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """quality_expr projected to (id, quality)."""
    return df.select(F.col(id_col), quality_expr(text_col).alias("quality"))


# PII patterns chosen to parse identically under Java regex (Spark) and
# RE2 (DuckDB): no backreferences, no lookaround.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\+?\d[\d\- ]{7,}\d", "<PHONE>"),
]


def redact_pii(text: Column) -> Column:
    """Training-data PII scrub: emails, IPv4s, phone-like digit runs ->
    typed placeholder tokens. Pure regexp_replace chain (whole-stage
    codegen; order matters — emails first so their digits never half-match
    the phone pattern)."""
    out = text
    for pattern, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, repl)
    return out


def doc_fingerprint(df: DataFrame, id_col: str, text_col: str, window_k: int = 5) -> DataFrame:
    """Winnowing-style rolling fingerprint: min md5-hash over word
    `window_k`-grams of the lowercased text — robust to whitespace-only
    edits; equal fingerprints flag near-identical prefixes/contents."""
    # token array bound once as `ws` (the dedup.word_shingles_sql pattern:
    # no CSE inside HOF lambdas — a direct token reference in the
    # per-index lambda re-ran the regexp split per gram, O(tokens^2) per
    # doc)
    toks = tokens_sql(f"lower(`{text_col}`)")
    grams = (
        f"transform(sequence(0, greatest((size(ws) - {window_k}), 0)), "
        f"i -> array_join(slice(ws, (i + 1), {window_k}), ' '))"
    )
    h = F.expr(
        f"element_at(transform(array({toks}), "
        f"ws -> array_min(transform({grams}, g -> {md5_int_sql('g', 15)}))), 1)"
    )
    return df.select(
        F.col(id_col), F.coalesce(h, F.lit(-1).cast("long")).alias("fingerprint")
    )


def boilerplate_ngrams(
    df: DataFrame, text_col: str, k: int = 5, min_doc_frac: float = 0.05
) -> DataFrame:
    """Heavy-hitter phrase detector: word k-grams occurring in at least
    ``min_doc_frac`` of all documents — the template/boilerplate scan a
    curation pipeline runs before dedup (navbars, license banners,
    scraper artifacts repeat across pages and poison near-dup scoring).

    Shape: per-doc *distinct* shingles explode once, one groupBy(gram)
    counts document frequency (map-side partial agg applies), and the
    corpus total re-enters as a broadcast 1-row aggregate — no driver
    collect, no second corpus pass. Output: (gram, df) for the heavy
    hitters only; at 100 TB the result stays small by construction
    (bounded by 1/min_doc_frac · distinct heavy grams).
    """
    from hadoop_0_20_2_ljx_spark.extensions.dedup import word_shingles_sql

    total = df.agg(F.count(F.lit(1)).alias("n_docs"))
    grams = df.select(
        F.explode(F.expr(word_shingles_sql(f"`{text_col}`", k))).alias("gram")
    )
    dfreq = grams.groupBy("gram").agg(F.count(F.lit(1)).cast("long").alias("df"))
    return (
        dfreq.join(F.broadcast(total))
        .where(F.col("df") >= F.ceil(F.col("n_docs") * F.lit(min_doc_frac)))
        .select("gram", "df")
    )


def hashed_linear_classifier(
    df: DataFrame,
    id_col: str,
    text_col: str,
    dim: int = 4096,
    weight_scale: int = 1000,
) -> DataFrame:
    """fastText-shaped linear quality classifier over hashed bag-of-words
    features: token -> feature bucket via the hashing trick, bucket ->
    integer weight, score = sum of weights over token OCCURRENCES.

    This is the Spark-side plumbing of the standard quality-filter stage
    (a linear model scoring every document): swap the hashed ``weight`` for a
    broadcast array of trained weights in production. Here weights are a
    deterministic keyed hash of the bucket id so the whole chain — and
    the ship/no-ship decision — is reproducible and cross-engine
    checkable (md5-derived, functions/portable.py).

    Pure per-row expressions (transform + aggregate over the token
    array): no shuffle, no UDF, whole-stage codegen — the per-doc cost a
    100 TB scoring pass wants. Score stays an exact integer (weights in
    [-weight_scale, weight_scale]); the normalized score is integer
    parts-per-million (truncating integer division, bit-exact in DuckDB).

    NULL contract (r10 pin): a NULL text scores as an EMPTY document —
    n_tokens=0, score_int=0, score_ppm=0, keep=false — never NULL-
    propagated. A quality gate must make a definite ship/no-ship call
    for every row; the null-text row fails it like any empty doc. The
    oracle's coalesce(list_sum(...), 0) already said 0; the Spark side
    coalesces the token array so both engines agree bit-for-bit.
    """
    toks = (
        f"coalesce({tokens_sql(f'lower(`{text_col}`)')}, "
        "CAST(array() AS ARRAY<STRING>))"
    )
    # bucket = hash(token) % dim; weight = hash("w:" + bucket) mapped
    # onto [-weight_scale, weight_scale] — both md5-derived so DuckDB
    # reproduces them bit-for-bit.
    bucket = f"CAST(({md5_int_sql('t', 8)} % {dim}) AS STRING)"
    w_hash = md5_int_sql(f"concat('w:', {bucket})", 8)
    weight = f"(({w_hash} % {2 * weight_scale + 1}) - {weight_scale})"
    score = F.expr(f"aggregate({toks}, CAST(0 AS BIGINT), (acc, t) -> acc + {weight})")
    n_tok = F.size(F.expr(toks)).cast("long")
    # normalized score in integer parts-per-million (score / (n_tok *
    # weight_scale) * 1e6, truncated): Spark `div` and DuckDB `//` both
    # truncate toward zero, so the norm is bit-exact cross-engine — a
    # float round() here would split on exact .5-ulp ties (CLAUDE.md).
    base = df.select(
        F.col(id_col), n_tok.alias("n_tokens"), score.alias("score_int")
    )
    ppm_mult = 1_000_000 // weight_scale
    return base.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.col("score_int"),
        F.when(
            F.col("n_tokens") > 0,
            F.expr(f"(score_int * {ppm_mult}) div n_tokens"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("score_ppm"),
        (F.col("score_int") > 0).alias("keep"),
    )
