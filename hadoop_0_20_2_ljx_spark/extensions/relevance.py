"""Relevance scoring over the documents table: TF-IDF / BM25.

The reference ships wordcount-family jobs (examples WordCount.java:24,
AggregateWordCount) whose natural analytics successor is term scoring; a
training-data pipeline uses BM25/TF-IDF for query-based corpus curation
(pulling topical slices out of 100 TB of crawl). Everything here is
pure built-in expressions — explode, groupBy, two tiny broadcast joins —
so the whole score is one shuffle over the token stream plus two
broadcast-sized side inputs (global stats: 1 row; per-term df: ≤|terms|
rows). No UDFs, no driver collect.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hadoop_0_20_2_ljx_spark.extensions.textstats import tokens_sql
from hadoop_0_20_2_ljx_spark.pinning import pin


def _words(col: str):
    # the ONE corpus tokenizer (textstats.tokens_sql) — BM25/logprob must
    # stay bit-identical with the dedup/contamination family and the
    # DuckDB rendering queries/base.words_sql
    return F.expr(tokens_sql(f"`{col}`"))


def term_frequencies(
    docs: DataFrame, id_col: str, text_col: str, terms: Sequence[str]
) -> DataFrame:
    """Per-document counts of the query terms, with the document's total
    word length carried along: (id, dl, term, tf). Docs without any query
    term drop out here (they score 0)."""
    base = docs.select(F.col(id_col).alias("_id"), _words(text_col).alias("_ws"))
    toks = base.select(
        "_id", F.size("_ws").alias("dl"), F.explode("_ws").alias("term")
    ).where(F.col("term").isin(list(terms)))
    return toks.groupBy("_id", "dl", "term").agg(F.count(F.lit(1)).alias("tf"))


def bm25_scores(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    terms: Sequence[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 score of each document against a bag-of-terms query.

    idf(t)   = ln(1 + (N - df + 0.5) / (df + 0.5))
    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))

    Output: (id_col, n_terms, bm25 rounded to 4 dp). Only documents
    containing ≥1 query term appear (everything else scores 0); no
    top-k cutoff so the result set has no float-boundary sensitivity.

    Shape: corpus stats (N, avgdl) are a 1-row aggregate and per-term
    document frequencies are ≤|terms| rows — both joined back via
    broadcast, so the only data-sized shuffle is the token groupBy.
    """
    base = docs.select(F.col(id_col).alias("_id"), _words(text_col).alias("_ws"))
    lens = base.select("_id", F.size("_ws").alias("dl"))
    glob = lens.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    # tf is O(docs-with-terms x |terms|) — small; it feeds both the df
    # aggregate and the scoring join, so materialize once instead of
    # re-tokenizing the corpus per consumer
    tf = term_frequencies(docs, id_col, text_col, terms).transform(pin)
    dfreq = tf.groupBy("term").agg(F.countDistinct("_id").alias("df"))

    scored = tf.join(F.broadcast(dfreq), "term").join(F.broadcast(glob))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    norm = F.col("tf") * F.lit(k1 + 1.0) / (
        F.col("tf")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    )
    return (
        scored.withColumn("_s", idf * norm)
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.round(F.sum("_s"), 4).alias("bm25"),
        )
        .withColumnRenamed("_id", id_col)
    )


def unigram_logprob_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Perplexity-proxy quality score: average unigram log-probability of
    each document under the corpus's own unigram LM (the classic cheap
    LM-based quality filter — gibberish and boilerplate-free text score
    low/high respectively before any neural scorer runs).

    p(t) = count(t) / total_tokens over the whole corpus;
    score(d) = mean over d's token *occurrences* of ln p(t).

    Shape: one token explode feeds BOTH the vocabulary aggregation and
    the scoring join (token->logp is an equi-join on the token — the
    vocabulary can be arbitrarily large, it shuffles; only the 1-row
    total broadcasts). No driver collect.
    """
    base = df.select(F.col(id_col).alias("_id"), _words(text_col).alias("_ws"))
    toks = base.select("_id", F.explode("_ws").alias("tok"))
    # vocab feeds both the 1-row total and the scoring join; materialize
    # once (Heaps-law bounded) or each consumer re-explodes the corpus
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(pin)
    )
    total = vocab.agg(F.sum("c").alias("n_total"))
    scored = toks.join(vocab, "tok").join(F.broadcast(total))
    logp = F.log(F.col("c") / F.col("n_total"))
    return (
        scored.groupBy("_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tok"),
            F.round(F.avg(logp), 4).alias("avg_logprob"),
        )
        .withColumnRenamed("_id", id_col)
    )


def inverted_index(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_df: int = 1,
    postings_cap: int = 20,
) -> DataFrame:
    """Postings-list build: term -> (doc_freq, total_tf, capped postings).

    The search-index half of the reference's wordcount family (examples/
    WordCount.java:24 counts terms; an index job's reducer additionally
    emits the doc-id list per term — the canonical Hadoop "inverted
    index" example). Output per term: exact doc_freq and total_tf over
    the WHOLE corpus, plus `postings` = the first `postings_cap` doc ids
    in ascending id order, comma-joined.

    Shape for 100 TB: tf is a partial-agg groupBy on (doc, term) — the
    token explode never shuffles raw text, only (id, term) pairs. The
    postings cap is applied with a row_number window BEFORE any list is
    materialized, so a stopword term with 10^9 documents contributes
    `postings_cap` rows to the collect_list, not 10^9 (an uncapped
    collect_list is the classic inverted-index OOM). doc_freq/total_tf
    still aggregate over all rows (partial agg, constant state/term).
    """
    from pyspark.sql import Window

    base = docs.select(F.col(id_col).alias("_id"), _words(text_col).alias("_ws"))
    tf = (
        base.select("_id", F.explode("_ws").alias("term"))
        .groupBy("term", "_id")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    w = Window.partitionBy("term").orderBy("_id")
    ranked = tf.withColumn("_rn", F.row_number().over(w))
    return (
        ranked.groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("long").alias("doc_freq"),
            F.sum("tf").cast("long").alias("total_tf"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("_rn") <= postings_cap, F.col("_id"))
                        )
                    ),
                    lambda d: d.cast("string"),
                ),
                ",",
            ).alias("postings"),
        )
        .where(F.col("doc_freq") >= min_df)
    )


def token_entropy(docs: DataFrame, group_col: str, text_col: str) -> DataFrame:
    """Shannon entropy of each group's token distribution — the corpus
    diversity metric curation dashboards track per source/slice (a
    collapsing source shows up as an entropy drop before eyeballing any
    sample would catch it).

    Output per group: n_tokens, vocab, entropy_nano (sum of per-term
    -p·ln p floored to integer NANO units, so the group sum is
    order-independent and bit-exact cross-engine — a float-summed
    entropy over an arbitrary-size vocabulary is not).

    Shape: one token shuffle into a (group, term) partial-agg count;
    per-group totals re-enter via broadcast; state per group is O(1).
    """
    from pyspark.sql.window import Window

    toks = docs.select(
        F.col(group_col).alias("_g"), F.explode(_words(text_col)).alias("tok")
    )
    counts = toks.groupBy("_g", "tok").agg(F.count(F.lit(1)).cast("long").alias("c"))
    # group totals via a whole-partition window over the (group, term)
    # counts — NOT groupBy+join-back, which would consume `counts` twice
    # with different pruning (no exchange reuse) and re-scan/explode the
    # raw corpus a second time. One corpus scan; the extra window
    # exchange moves only vocabulary-sized rows.
    wg = Window.partitionBy("_g")
    j = counts.withColumn("n", F.sum("c").over(wg).cast("long")).withColumn(
        "vocab", F.count(F.lit(1)).over(wg).cast("long")
    )
    p = F.col("c") / F.col("n")
    term_nano = F.floor(F.lit(1e9) * (-p * F.log(p))).cast("long")
    return (
        j.groupBy("_g")
        .agg(
            F.max("n").alias("n_tokens"),
            F.max("vocab").alias("vocab"),
            F.sum(term_nano).cast("long").alias("entropy_nano"),
        )
        .withColumnRenamed("_g", group_col)
    )
