"""Declared queries: training-data-pipeline extensions (SURVEY.md §7.4).

Dedup (exact / MinHash+LSH / SimHash / n-gram Jaccard), similarity search
(brute-force + bucketed ANN), text analysis (lang-ID / quality / tokens /
fingerprint), multimodal plumbing. All hashes are md5-derived so the
DuckDB oracles reproduce signatures bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_0_20_2_ljx_spark.extensions import (
    clustering,
    dedup,
    multimodal,
    pipeline_ops,
    similarity,
    textstats,
)
from hadoop_0_20_2_ljx_spark.functions.portable import md5_int_sql
from hadoop_0_20_2_ljx_spark.queries.base import (
    WS,
    QueryDef,
    T,
    h32_sql,
    h64_sql,
    minhash_sig_elem_sql,
    ngrams_sql,
    quality_expr_sql,
    shingles_sql,
    words_sql,
)


# --- dedup: exact ------------------------------------------------------------
def _dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    d = dedup.exact_dedup(T(spark, sf, "documents"), ["text"])
    return d.agg(
        F.count("*").alias("n_unique"),
        F.sum(F.expr(md5_int_sql("text", 8)) % 1000003).alias("text_hash_sum"),
    )


# --- dedup: MinHash + LSH candidate pairs ------------------------------------
def _dedup_minhash(spark: SparkSession, sf: str) -> DataFrame:
    return dedup.minhash_lsh_candidates(
        T(spark, sf, "documents"), "doc_id", "text", num_hashes=16, bands=4, shingle_k=3
    )


def _minhash_oracle() -> str:
    words = words_sql("text")
    sh = shingles_sql(words, 3)
    sig_elem = minhash_sig_elem_sql()
    bucket = h32_sql(
        "array_to_string(list_transform(sig[b*4+1:b*4+4], v -> CAST(v AS VARCHAR)), ',')"
    )
    return f"""
WITH shingled AS (SELECT doc_id, {sh} AS sh FROM documents),
sigs AS (
  SELECT doc_id,
    list_transform(range(16), s -> {sig_elem}) AS sig
  FROM shingled
),
bands AS (
  SELECT doc_id, b, {bucket} AS bucket
  FROM sigs, (SELECT unnest(range(4)) AS b)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b ON a.b = b.b AND a.bucket = b.bucket AND a.doc_id < b.doc_id
"""


# --- dedup: SimHash signatures -----------------------------------------------
def _dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    return dedup.simhash_signatures(T(spark, sf, "documents"), "doc_id", "text")


def _simhash_oracle() -> str:
    # NULL contract (r10 pin): null text is an EMPTY doc — it votes the
    # sentinel empty token like any token-less doc (simhash_signatures
    # docstring), never a 0 signature. coalesce before the len() test:
    # len(NULL) is NULL in DuckDB, so the bare CASE fell through to the
    # NULL token list and folded the whole signature to 0.
    words = "coalesce(" + words_sql("text") + ", [])"
    h = h64_sql("w")
    return f"""
WITH hashed AS (
  SELECT doc_id, list_transform(CASE WHEN len({words}) = 0 THEN [''] ELSE {words} END, w -> {h}) AS hashes FROM documents
)
SELECT doc_id,
  CAST(coalesce(list_sum(list_transform(range(60), j ->
    CASE WHEN coalesce(list_sum(list_transform(hashes, h -> ((h >> j) & 1) * 2 - 1)), 0) > 0
         THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)), 0) AS BIGINT) AS simhash
FROM hashed
"""


# --- dedup: SimHash near-dup pairs (Hamming <= k via bit-band bucketing) -----
def _dedup_simhash_pairs(spark: SparkSession, sf: str) -> DataFrame:
    return dedup.simhash_neardup_pairs(
        T(spark, sf, "documents"), "doc_id", "text", bits=60, bands=4, max_hamming=8
    )


def _simhash_pairs_oracle() -> str:
    # same null-text-is-empty-doc pin as _simhash_oracle
    words = "coalesce(" + words_sql("text") + ", [])"
    h = h64_sql("w")
    sig = f"""
WITH hashed AS (
  SELECT doc_id, list_transform(CASE WHEN len({words}) = 0 THEN [''] ELSE {words} END, w -> {h}) AS hashes FROM documents
),
sigs AS (
  SELECT doc_id,
    CAST(coalesce(list_sum(list_transform(range(60), j ->
      CASE WHEN coalesce(list_sum(list_transform(hashes, h -> ((h >> j) & 1) * 2 - 1)), 0) > 0
           THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)), 0) AS BIGINT) AS simhash
  FROM hashed
),
banded AS (
  SELECT doc_id, simhash, b, (simhash >> (b * 15)) & 32767 AS chunk
  FROM sigs, (SELECT unnest(range(4)) AS b)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM banded a JOIN banded b
  ON a.b = b.b AND a.chunk = b.chunk AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
"""
    return sig


# --- dedup: cluster assignment (connected components over pairs) -------------
def _dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    docs = T(spark, sf, "documents")
    edges = dedup.minhash_lsh_candidates(
        docs, "doc_id", "text", num_hashes=16, bands=4, shingle_k=3
    )
    cc = dedup.connected_components(edges, nodes=docs.select("doc_id"), node_col="doc_id")
    return cc.select(F.col("node").alias("doc_id"), F.col("comp").alias("cluster"))


def _clusters_oracle() -> str:
    # same minhash-LSH pair derivation as _minhash_oracle, then min
    # reachable id per node via a recursive CTE (undirected reachability).
    words = words_sql("text")
    sh = shingles_sql(words, 3)
    sig_elem = minhash_sig_elem_sql()
    bucket = h32_sql(
        "array_to_string(list_transform(sig[b*4+1:b*4+4], v -> CAST(v AS VARCHAR)), ',')"
    )
    return f"""
WITH RECURSIVE shingled AS (SELECT doc_id, {sh} AS sh FROM documents),
sigs AS (
  SELECT doc_id, list_transform(range(16), s -> {sig_elem}) AS sig FROM shingled
),
bands AS (
  SELECT doc_id, b, {bucket} AS bucket
  FROM sigs, (SELECT unnest(range(4)) AS b)
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.b = b.b AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
),
reach(node, lab) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.v, r.lab FROM reach r JOIN edges e ON e.u = r.node
)
SELECT node AS doc_id, min(lab) AS cluster FROM reach GROUP BY node
"""


# --- dedup: n-gram Jaccard pairs ---------------------------------------------
def _dedup_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        T(spark, sf, "documents"), "doc_id", "text", shingle_k=3, threshold=0.2
    )


def _jaccard_oracle() -> str:
    words = words_sql("text")
    sh = shingles_sql(words, 3)
    return f"""
WITH sh AS (SELECT doc_id, unnest({sh}) AS g FROM documents),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_inter
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2
)
SELECT doc_a, doc_b,
  round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
FROM inter i JOIN sizes sa ON i.doc_a = sa.doc_id JOIN sizes sb ON i.doc_b = sb.doc_id
WHERE round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.2
"""


# --- similarity: brute-force knn --------------------------------------------
def _embed_knn(spark: SparkSession, sf: str) -> DataFrame:
    emb = T(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.brute_force_knn(emb, queries, k=10)


_KNN_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
scored AS (
  SELECT q.q_id, e.vec_id AS neighbor_id,
    list_inner_product(q.qv, e.v) /
      (sqrt(list_inner_product(q.qv, q.qv)) * sqrt(list_inner_product(e.v, e.v))) AS cos
  FROM e, q WHERE e.vec_id <> q.q_id
),
ranked AS (
  SELECT q_id, neighbor_id, cos,
    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT q_id, neighbor_id, round(cos, 6) AS cos FROM ranked WHERE rnk <= 10
"""


# --- similarity: sign-LSH bucketed ANN ---------------------------------------
def _embed_ann(spark: SparkSession, sf: str) -> DataFrame:
    emb = T(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return similarity.bucketed_ann(emb, queries, k=5, bucket_dims=8)


_ANN_SQL = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
    CAST(coalesce(list_sum(list_transform(range(8),
      i -> CASE WHEN embedding[i+1] > 0 THEN (1 << i) ELSE 0 END)), 0) AS INT) AS bucket
  FROM embeddings
),
q AS (SELECT vec_id AS q_id, v AS qv, bucket FROM e WHERE vec_id < 20),
scored AS (
  SELECT q.q_id, e.vec_id AS neighbor_id,
    list_inner_product(q.qv, e.v) /
      (sqrt(list_inner_product(q.qv, q.qv)) * sqrt(list_inner_product(e.v, e.v))) AS cos
  FROM e JOIN q USING (bucket) WHERE e.vec_id <> q.q_id
),
ranked AS (
  SELECT q_id, neighbor_id, cos,
    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT q_id, neighbor_id, round(cos, 6) AS cos FROM ranked WHERE rnk <= 5
"""


# --- similarity: IVF-style inverted-list ANN ---------------------------------
def _embed_ivf(spark: SparkSession, sf: str) -> DataFrame:
    emb = T(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.ivf_ann(emb, queries, nlist_ids=list(range(8)), k=5)


_IVF_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
ascore AS (
  SELECT e.vec_id, e.v, c.cid,
    list_inner_product(e.v, c.cv) /
      (sqrt(list_inner_product(e.v, e.v)) * sqrt(list_inner_product(c.cv, c.cv))) AS ccos,
    row_number() OVER (PARTITION BY e.vec_id ORDER BY
      list_inner_product(e.v, c.cv) /
        (sqrt(list_inner_product(e.v, e.v)) * sqrt(list_inner_product(c.cv, c.cv))) DESC,
      c.cid) AS rn
  FROM e CROSS JOIN c
),
assign AS (SELECT vec_id, v, cid AS list_id FROM ascore WHERE rn = 1),
q AS (SELECT vec_id AS q_id, v AS qv, list_id FROM assign WHERE vec_id < 10),
scored AS (
  SELECT q.q_id, a.vec_id AS neighbor_id,
    list_inner_product(q.qv, a.v) /
      (sqrt(list_inner_product(q.qv, q.qv)) * sqrt(list_inner_product(a.v, a.v))) AS cos
  FROM assign a JOIN q USING (list_id) WHERE a.vec_id <> q.q_id
),
ranked AS (
  SELECT q_id, neighbor_id, cos,
    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT q_id, neighbor_id, round(cos, 6) AS cos FROM ranked WHERE rnk <= 5
"""


# --- similarity: IVF with the array-column centroid carrier ------------------
def _embed_ivf_bcast(spark: SparkSession, sf: str) -> DataFrame:
    """q_embed_ivf with the LARGE-nlist scoring path forced on at the
    fixture's nlist=8 (literal=False): centroids ride as a broadcast
    one-row array<struct> column instead of expression literals. Same
    oracle as q_embed_ivf — the external proof that the scale path is
    bitwise-equal to the literal path, not just parity-pinned in pytest
    (extensions/similarity.py LITERAL_NLIST_MAX)."""
    emb = T(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.ivf_ann(
        emb, queries, nlist_ids=list(range(8)), k=5, literal=False
    )


# --- similarity: multi-probe IVF (the recall/cost knob) ----------------------
def _embed_ivf_nprobe(spark: SparkSession, sf: str) -> DataFrame:
    """ivf_ann with nprobe=2: each query probes its TWO nearest inverted
    lists (exploded equi-join on list_id — same topology as single-probe,
    ~2x the candidates). Production IVF always runs nprobe > 1; this pins
    the multi-probe routing against the oracle's rank-<=-2 replay."""
    emb = T(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.ivf_ann(
        emb, queries, nlist_ids=list(range(8)), k=5, nprobe=2
    )


# identical to _IVF_SQL except the query side keeps rn <= 2 centroid
# assignments (the corpus side stays argmax — each vector lives in ONE list)
_IVF_NPROBE_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
ascore AS (
  SELECT e.vec_id, e.v, c.cid,
    row_number() OVER (PARTITION BY e.vec_id ORDER BY
      list_inner_product(e.v, c.cv) /
        (sqrt(list_inner_product(e.v, e.v)) * sqrt(list_inner_product(c.cv, c.cv))) DESC,
      c.cid) AS rn
  FROM e CROSS JOIN c
),
assign AS (SELECT vec_id, v, cid AS list_id FROM ascore WHERE rn = 1),
q AS (SELECT vec_id AS q_id, v AS qv, cid AS list_id
      FROM ascore WHERE vec_id < 10 AND rn <= 2),
scored AS (
  SELECT q.q_id, a.vec_id AS neighbor_id,
    list_inner_product(q.qv, a.v) /
      (sqrt(list_inner_product(q.qv, q.qv)) * sqrt(list_inner_product(a.v, a.v))) AS cos
  FROM assign a JOIN q USING (list_id) WHERE a.vec_id <> q.q_id
),
ranked AS (
  SELECT q_id, neighbor_id, cos,
    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT q_id, neighbor_id, round(cos, 6) AS cos FROM ranked WHERE rnk <= 5
"""


# --- dedup: embedding-cosine near-dup ----------------------------------------
def _dedup_embed(spark: SparkSession, sf: str) -> DataFrame:
    return similarity.embedding_neardup_pairs(
        T(spark, sf, "embeddings"), threshold=0.2, bucket_dims=4
    )


_EMBED_NEARDUP_SQL = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
    CAST(coalesce(list_sum(list_transform(range(4),
      i -> CASE WHEN embedding[i+1] > 0 THEN (1 << i) ELSE 0 END)), 0) AS INT) AS bucket
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
  round(list_inner_product(a.v, b.v) /
    (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))), 6) AS cos
FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE list_inner_product(a.v, b.v) /
    (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))) >= 0.2
"""


# --- text: language id -------------------------------------------------------
def _text_langid(spark: SparkSession, sf: str) -> DataFrame:
    # declared lang and predicted lang come from ONE projection — the
    # previous lang_id(docs)-joined-back-to-docs form scanned the corpus
    # twice and shuffled both sides on doc_id (Catalyst does not
    # deduplicate common subplans)
    docs = T(spark, sf, "documents")
    pred = docs.select(
        "lang", textstats.lang_pred_expr("text", min_ratio=0.01).alias("lang_pred")
    )
    return pred.groupBy("lang", "lang_pred").agg(F.count("*").alias("n"))


def _langid_oracle() -> str:
    toks = words_sql("lower(text)")
    score = {}
    for lang, words in sorted(textstats.STOPWORDS.items()):
        inlist = ", ".join(f"'{w}'" for w in words)
        score[lang] = (
            f"(len(list_filter({toks}, w -> w IN ({inlist}))) / greatest(len({toks}), 1))"
        )
    best = "greatest(" + ", ".join(score[lang] for lang in sorted(score)) + ")"
    whens = " ".join(
        f"WHEN {score[lang]} >= 0.01 AND {score[lang]} = {best} THEN '{lang}'"
        for lang in sorted(score)
    )
    return f"""
SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n FROM (
  SELECT lang, CASE {whens} ELSE 'und' END AS lang_pred FROM documents
) GROUP BY 1, 2
"""


# --- text: quality score -----------------------------------------------------
def _text_quality(spark: SparkSession, sf: str) -> DataFrame:
    return textstats.quality_score(T(spark, sf, "documents"), "doc_id", "text")


def _quality_oracle() -> str:
    return f"""
SELECT doc_id, {quality_expr_sql()} AS quality
FROM documents
"""


# --- text: token stats -------------------------------------------------------
def _text_tokens(spark: SparkSession, sf: str) -> DataFrame:
    docs = T(spark, sf, "documents")
    t = F.col("text")
    per_doc = docs.select(
        "lang",
        F.size(F.expr(textstats.tokens_sql("text"))).cast("long").alias("n_words"),
        F.size(textstats.bpe_ish_tokens(t)).cast("long").alias("n_tokens"),
        F.length(t).cast("long").alias("n_chars"),
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").alias("words"),
        F.sum("n_tokens").alias("tokens"),
        F.sum("n_chars").alias("chars"),
    )


def _tokens_oracle() -> str:
    toks = words_sql("text")
    return f"""
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(len({toks})) AS BIGINT) AS words,
  CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9{WS}]'))) AS BIGINT) AS tokens,
  CAST(sum(length(text)) AS BIGINT) AS chars
FROM documents GROUP BY lang
"""


# --- text: winnowing fingerprint ---------------------------------------------
def _text_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    from hadoop_0_20_2_ljx_spark.operators.scans import spread

    return textstats.doc_fingerprint(
        spread(T(spark, sf, "documents")), "doc_id", "text", window_k=5
    )


def _fingerprint_oracle() -> str:
    toks = words_sql("lower(text)")
    gram = f"array_to_string(({toks})[i+1:i+5], ' ')"
    return f"""
SELECT doc_id, CAST(coalesce(list_min(list_transform(
  range(greatest(len({toks}) - 5, 0) + 1), i -> {h64_sql(gram)})), -1) AS BIGINT) AS fingerprint
FROM documents
"""


# --- text: PII redaction ------------------------------------------------------
def _text_redact(spark: SparkSession, sf: str) -> DataFrame:
    """Inject synthetic PII derived from doc_id (fixture text has none by
    construction), scrub it with redact_pii, and checksum the result —
    proving every injected email/IP/phone was caught and the surrounding
    text survived byte-identical."""
    docs = T(spark, sf, "documents")
    txt = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 10.0.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(" tel +155501"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
    )
    red = docs.select("doc_id", textstats.redact_pii(txt).alias("red"))
    return red.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("red").contains("<EMAIL>"), 1).otherwise(0)).alias("n_email"),
        F.sum(F.when(F.col("red").contains("<IP>"), 1).otherwise(0)).alias("n_ip"),
        F.sum(F.when(F.col("red").contains("<PHONE>"), 1).otherwise(0)).alias("n_phone"),
        F.sum(F.expr(md5_int_sql("red", 8)) % 1000003).alias("red_hash"),
    )


def _redact_oracle() -> str:
    txt = (
        "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or 10.0.0.' "
        "|| CAST(doc_id % 256 AS VARCHAR) || ' tel +155501' "
        "|| lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')"
    )
    red = txt
    for pattern, repl in textstats.PII_PATTERNS:
        esc = pattern.replace("'", "''")
        red = f"regexp_replace({red}, '{esc}', '{repl}', 'g')"
    return f"""
WITH redacted AS (SELECT doc_id, {red} AS red FROM documents)
SELECT CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CASE WHEN contains(red, '<EMAIL>') THEN 1 ELSE 0 END) AS BIGINT) AS n_email,
  CAST(sum(CASE WHEN contains(red, '<IP>') THEN 1 ELSE 0 END) AS BIGINT) AS n_ip,
  CAST(sum(CASE WHEN contains(red, '<PHONE>') THEN 1 ELSE 0 END) AS BIGINT) AS n_phone,
  CAST(sum({h32_sql('red')} % 1000003) AS BIGINT) AS red_hash
FROM redacted
"""


# --- pipeline: dedup -> lang gate -> quality gate -> token budget ------------
def _pipeline_training(spark: SparkSession, sf: str) -> DataFrame:
    """The composed training-data pipeline: exact dedup (deterministic
    survivor = min doc_id per text), language gate, quality gate, token
    accounting — proving the §7.4 ops compose into one Catalyst plan.

    All three per-doc features come from ONE projection over the deduped
    corpus (lang_pred_expr / quality_expr are Column expressions). The
    original form joined three lang_id/quality_score/token DataFrames
    back on doc_id, and since Catalyst does not deduplicate common
    subplans, each join branch re-ran the groupBy(text) dedup — four
    corpus aggregations and three join shuffles where one scan suffices
    (the r5 token_budget lesson, applied to this composite)."""
    docs = T(spark, sf, "documents")
    dd = docs.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    feats = dd.select(
        "doc_id",
        textstats.lang_pred_expr("text", min_ratio=0.01).alias("lang_pred"),
        textstats.quality_expr("text").alias("quality"),
        F.size(F.expr(textstats.tokens_sql("text"))).cast("long").alias("n_tokens"),
    )
    kept = feats.filter((F.col("lang_pred") != "und") & (F.col("quality") >= 0.5))
    return kept.groupBy("lang_pred").agg(
        F.count("*").alias("n_docs"), F.sum("n_tokens").alias("total_tokens")
    )


def _pipeline_oracle() -> str:
    toks = words_sql("lower(text)")
    score = {}
    for lang, words in sorted(textstats.STOPWORDS.items()):
        inlist = ", ".join(f"'{w}'" for w in words)
        score[lang] = (
            f"(len(list_filter({toks}, w -> w IN ({inlist}))) / greatest(len({toks}), 1))"
        )
    best = "greatest(" + ", ".join(score[lang] for lang in sorted(score)) + ")"
    whens = " ".join(
        f"WHEN {score[lang]} >= 0.01 AND {score[lang]} = {best} THEN '{lang}'"
        for lang in sorted(score)
    )
    wtoks = words_sql("text")
    quality = quality_expr_sql()
    return f"""
WITH dd AS (SELECT text, min(doc_id) AS doc_id FROM documents GROUP BY text),
scored AS (
  SELECT doc_id, CASE {whens} ELSE 'und' END AS lang_pred,
         {quality} AS quality,
         CAST(len({wtoks}) AS BIGINT) AS n_tokens
  FROM dd
)
SELECT lang_pred, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM scored WHERE lang_pred <> 'und' AND quality >= 0.5 GROUP BY 1
"""


# --- pipeline: intra-doc repetition -------------------------------------------
def _text_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Integer-exact corpus roll-up of repetition_score: duplicate and total
    3-gram counts plus how many docs exceed the 20% repetition gate (the
    comparison done as 5*dup > total so both engines stay in BIGINTs)."""
    rep = pipeline_ops.repetition_score(T(spark, sf, "documents"), "doc_id", "text", n=3)
    return rep.agg(
        F.count("*").alias("n"),
        F.sum("n_ngrams").alias("total_ngrams"),
        F.sum("n_dup_ngrams").alias("dup_ngrams"),
        F.sum(
            F.when(5 * F.col("n_dup_ngrams") > F.col("n_ngrams"), 1).otherwise(0)
        ).alias("n_repetitive"),
    )


def _repetition_oracle() -> str:
    tg = ngrams_sql(words_sql("lower(text)"), 3)
    return f"""
WITH per AS (
  SELECT CAST(len(tg) AS BIGINT) AS total,
         CAST(len(tg) - len(list_distinct(tg)) AS BIGINT) AS dup
  FROM (SELECT {tg} AS tg FROM documents)
)
SELECT CAST(count(*) AS BIGINT) AS n,
  CAST(sum(total) AS BIGINT) AS total_ngrams,
  CAST(sum(dup) AS BIGINT) AS dup_ngrams,
  CAST(sum(CASE WHEN 5 * dup > total THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive
FROM per
"""


# --- pipeline: benchmark contamination ---------------------------------------
def _text_contamination(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark contamination: docs with doc_id % 97 == 0 act as the eval
    suite; every other doc sharing an 8-gram with any of them is flagged.
    Join is per-n-gram equi (explode -> join -> groupBy), never doc x doc."""
    docs = T(spark, sf, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    cont = pipeline_ops.ngram_contamination(train, bench, "doc_id", "text", n=8)
    return cont.agg(
        F.count("*").alias("n_contaminated"),
        F.sum("n_shared_ngrams").alias("shared_sum"),
        F.sum(F.col("doc_id") % 1000003).alias("id_hash_sum"),
    )


def _contamination_oracle() -> str:
    tg = ngrams_sql(words_sql("lower(text)"), 8)
    return f"""
WITH grams AS (SELECT doc_id, unnest({tg}) AS gram FROM documents),
bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0),
train AS (SELECT DISTINCT doc_id, gram FROM grams WHERE doc_id % 97 <> 0),
hits AS (
  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_shared
  FROM train t JOIN bench b USING (gram) GROUP BY t.doc_id
)
SELECT CAST(count(*) AS BIGINT) AS n_contaminated,
  CAST(sum(n_shared) AS BIGINT) AS shared_sum,
  CAST(sum(doc_id % 1000003) AS BIGINT) AS id_hash_sum
FROM hits
"""


# --- pipeline: stratified (domain-mix) sampling ------------------------------
_MIX_RATES = {"en": 0.5, "de": 0.25, "fr": 0.1, "es": 0.0, "zh": 1.0}


def _sample_stratified(spark: SparkSession, sf: str) -> DataFrame:
    samp = pipeline_ops.stratified_sample(
        T(spark, sf, "documents"), "lang", _MIX_RATES, "doc_id"
    )
    return samp.groupBy("lang").agg(
        F.count("*").alias("n_kept"),
        F.sum(F.col("doc_id") % 1000003).alias("id_hash_sum"),
    )


def _stratified_oracle() -> str:
    whens = " ".join(
        f"WHEN '{g}' THEN {int(round(r * 10000))}" for g, r in sorted(_MIX_RATES.items())
    )
    bucket = h32_sql("doc_id") + " % 10000"
    return f"""
SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
  CAST(sum(doc_id % 1000003) AS BIGINT) AS id_hash_sum
FROM documents
WHERE {bucket} < (CASE lang {whens} ELSE 0 END)
GROUP BY lang
"""


# --- pipeline: sequence packing ----------------------------------------------
def _pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    """Concat-then-chunk packing into 2048-token context windows; the
    assignment hash pins every doc's bin, not just the bin count."""
    docs = T(spark, sf, "documents")
    tok = docs.select(
        "doc_id", F.size(F.expr(textstats.tokens_sql("text"))).cast("long").alias("n_tokens")
    )
    packed = pipeline_ops.pack_sequences(tok, "doc_id", "n_tokens", ctx=2048)
    return packed.agg(
        F.countDistinct("bin_id").alias("n_bins"),
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum(F.col("bin_id") * (F.col("doc_id") % 997)).alias("asg_hash"),
    )


def _packing_oracle() -> str:
    words = words_sql("text")
    return f"""
WITH tok AS (SELECT doc_id, CAST(len({words}) AS BIGINT) AS n_tokens FROM documents),
cum AS (
  SELECT doc_id, n_tokens,
    sum(n_tokens) OVER (ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS cb
  FROM tok
)
SELECT CAST(count(DISTINCT CAST(floor(cb / 2048.0) AS BIGINT)) AS BIGINT) AS n_bins,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
  CAST(sum(CAST(floor(cb / 2048.0) AS BIGINT) * (doc_id % 997)) AS BIGINT) AS asg_hash
FROM cum
"""


# --- embeddings: int8 quantization -------------------------------------------
def _embed_quantize(spark: SparkSession, sf: str) -> DataFrame:
    """Integer-exact roll-up: the weighted sum of quantized components pins
    every vector's full int8 codebook cross-engine."""
    q = pipeline_ops.quantize_embeddings(T(spark, sf, "embeddings"), "vec_id", "embedding")
    qsum = F.aggregate(F.col("qvec"), F.lit(0).cast("long"), lambda a, x: a + x)
    return q.agg(
        F.count("*").alias("n"),
        F.sum(qsum * (F.col("vec_id") % 997)).alias("q_weighted_sum"),
        F.sum(F.floor(F.col("scale") * 1e6).cast("long")).alias("scale_floor_sum"),
    )


_QUANTIZE_SQL = """
WITH q AS (
  SELECT vec_id,
    greatest(list_max(list_transform(embedding::DOUBLE[], x -> abs(x))), 1e-30) / 127.0 AS scale
  FROM embeddings
), qv AS (
  SELECT e.vec_id,
    list_sum(list_transform(e.embedding::DOUBLE[],
      x -> CAST(floor(x / q.scale + 0.5) AS BIGINT))) AS qsum,
    q.scale
  FROM embeddings e JOIN q USING (vec_id)
)
SELECT CAST(count(*) AS BIGINT) AS n,
  CAST(sum(qsum * (vec_id % 997)) AS BIGINT) AS q_weighted_sum,
  CAST(sum(CAST(floor(scale * 1e6) AS BIGINT)) AS BIGINT) AS scale_floor_sum
FROM qv
"""


# --- documents: deterministic global shuffle ---------------------------------
def _shuffle_global(spark: SparkSession, sf: str) -> DataFrame:
    """The permutation-pinning sum: every doc's shuffle position weighted
    by its id — any transposition changes the value."""
    s = pipeline_ops.global_shuffle(T(spark, sf, "documents"), "doc_id")
    return s.agg(
        F.count("*").alias("n"),
        F.sum(F.col("shuffle_pos") * (F.col("doc_id") % 997)).alias("perm_hash"),
        F.min("shuffle_pos").alias("first_pos"),
        F.max("shuffle_pos").alias("last_pos"),
    )


def _shuffle_oracle() -> str:
    h = h64_sql("doc_id")
    return f"""
WITH s AS (
  SELECT doc_id,
    row_number() OVER (ORDER BY {h}, doc_id) AS shuffle_pos
  FROM documents
)
SELECT CAST(count(*) AS BIGINT) AS n,
  CAST(sum(shuffle_pos * (doc_id % 997)) AS BIGINT) AS perm_hash,
  CAST(min(shuffle_pos) AS BIGINT) AS first_pos,
  CAST(max(shuffle_pos) AS BIGINT) AS last_pos
FROM s
"""


# --- embeddings: iterative k-means (Lloyd) -----------------------------------
_KMEANS_K, _KMEANS_ITERS, _KMEANS_DIM = 8, 2, 64


def _embed_kmeans(spark: SparkSession, sf: str) -> DataFrame:
    """Two Lloyd rounds from a fixed init (the first k embeddings); the
    oracle replays the identical iteration chain in SQL, so every point's
    final cluster assignment is pinned cross-engine — an iterative
    algorithm under the full rows+schema+hash gate."""
    emb = T(spark, sf, "embeddings")
    init_rows = (
        emb.filter(F.col("vec_id") < _KMEANS_K).select("vec_id", "embedding").collect()
    )
    init = {int(r["vec_id"]): [float(x) for x in r["embedding"]] for r in init_rows}
    assigned, _ = clustering.kmeans_lloyd(
        emb, "embedding", _KMEANS_K, _KMEANS_ITERS, init
    )
    vec = F.col("embedding").cast("array<double>")
    return assigned.groupBy("cluster").agg(
        F.count("*").alias("n_members"),
        F.sum(F.col("vec_id") % 1000003).alias("id_hash_sum"),
        F.round(F.avg(F.element_at(vec, 1)), 4).alias("c0"),
    )


def _kmeans_oracle() -> str:
    dim, iters = _KMEANS_DIM, _KMEANS_ITERS
    dist = (
        f"list_sum(list_transform(generate_series(1, {dim}), "
        "i -> (e.embedding[i] - c.cv[i]) * (e.embedding[i] - c.cv[i])))"
    )
    means = ", ".join(f"avg(embedding[{i + 1}])" for i in range(dim))
    parts = [
        f"c0 AS (SELECT CAST(vec_id AS INTEGER) AS cluster, "
        f"embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < {_KMEANS_K})"
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"a{t} AS (SELECT vec_id, embedding, cluster FROM ("
            f"SELECT e.vec_id, e.embedding, c.cluster, "
            f"row_number() OVER (PARTITION BY e.vec_id ORDER BY {dist}, c.cluster) AS rn "
            f"FROM embeddings e CROSS JOIN c{t - 1} c) WHERE rn = 1)"
        )
        if t < iters:
            parts.append(
                f"c{t} AS (SELECT cluster, list_value({means}) AS cv "
                f"FROM a{t} GROUP BY cluster)"
            )
    return (
        "WITH " + ",\n".join(parts) + f"""
SELECT cluster, CAST(count(*) AS BIGINT) AS n_members,
  CAST(sum(vec_id % 1000003) AS BIGINT) AS id_hash_sum,
  round(avg(embedding[1]), 4) AS c0
FROM a{iters} GROUP BY cluster
"""
    )


# --- embeddings: trained k-means centroids composed into IVF -----------------
def _embed_kmeans_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """The trained-quantizer composition (r6 verdict task 4): the SAME two
    Lloyd rounds as q_embed_kmeans train the coarse quantizer, the
    POST-UPDATE centroids become the IVF codebook (cluster id = list id),
    and the probe is the standard ivf_ann topology — one corpus scan to
    assign, equi-join on list_id, exact cosine top-5. Chained-job pattern
    per the reference's Grep (examples/.../Grep.java:48-87 — job 2
    consumes job 1's output); the oracle replays the ENTIRE chain
    c0 -> a1 -> c1 -> a2 -> c2 -> assignment -> probe in SQL.

    Cross-engine determinism: the trained centroids are raw float means
    (Lloyd's update IS an average), so Spark's and DuckDB's c2 may differ
    in the last ulp — but only the ROUTING depends on them (neighbor
    cosines are corpus-vector-only), and every fixture vector's best-vs-
    second centroid margin is >= 4e-5 at both gate SFs vs ~1e-16 of
    ulp-induced cosine wobble; the margin is pinned by
    tests/test_ann_quality.py::test_kmeans_ivf_routing_margin_dwarfs_float_wobble."""
    emb = T(spark, sf, "embeddings")
    init_rows = (
        emb.filter(F.col("vec_id") < _KMEANS_K).select("vec_id", "embedding").collect()
    )
    init = {int(r["vec_id"]): [float(x) for x in r["embedding"]] for r in init_rows}
    _, cents = clustering.kmeans_lloyd(
        emb, "embedding", _KMEANS_K, _KMEANS_ITERS, init
    )
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.ivf_ann(emb, queries, centroids=cents, k=5)


def _embed_kmeans_ivf_bcast(spark: SparkSession, sf: str) -> DataFrame:
    """q_embed_kmeans_ivf with the broadcast array-column centroid carrier
    forced on (r7 verdict task 4 composition proof): the TRAINED Lloyd
    centroids — float means, not designated corpus vectors — ride as DATA
    through the large-nlist path (literal=False), against the UNCHANGED
    kmeans->IVF oracle. q_embed_ivf_bcast proved literal/array bitwise
    parity for designated centroids; this proves the two r7 features
    compose: trained quantizer x scale-path carrier. Routing safety is the
    same pinned >=4e-5 margin (see _embed_kmeans_ivf's docstring)."""
    emb = T(spark, sf, "embeddings")
    init_rows = (
        emb.filter(F.col("vec_id") < _KMEANS_K).select("vec_id", "embedding").collect()
    )
    init = {int(r["vec_id"]): [float(x) for x in r["embedding"]] for r in init_rows}
    _, cents = clustering.kmeans_lloyd(
        emb, "embedding", _KMEANS_K, _KMEANS_ITERS, init
    )
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.ivf_ann(emb, queries, centroids=cents, k=5, literal=False)


def _kmeans_ivf_oracle() -> str:
    """_kmeans_oracle's chain extended one step (c2 = means of a2), then
    _IVF_SQL's assignment/probe replay against those trained centroids."""
    dim, iters = _KMEANS_DIM, _KMEANS_ITERS
    dist = (
        f"list_sum(list_transform(generate_series(1, {dim}), "
        "i -> (e.embedding[i] - c.cv[i]) * (e.embedding[i] - c.cv[i])))"
    )
    means = ", ".join(f"avg(embedding[{i + 1}])" for i in range(dim))
    parts = [
        f"c0 AS (SELECT CAST(vec_id AS INTEGER) AS cluster, "
        f"embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < {_KMEANS_K})"
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"a{t} AS (SELECT vec_id, embedding, cluster FROM ("
            f"SELECT e.vec_id, e.embedding, c.cluster, "
            f"row_number() OVER (PARTITION BY e.vec_id ORDER BY {dist}, c.cluster) AS rn "
            f"FROM embeddings e CROSS JOIN c{t - 1} c) WHERE rn = 1)"
        )
        parts.append(
            f"c{t} AS (SELECT cluster, list_value({means}) AS cv "
            f"FROM a{t} GROUP BY cluster)"
        )
    parts.append(
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"
    )
    parts.append(f"cc AS (SELECT cluster AS cid, cv FROM c{iters})")
    parts.append(
        """ascore AS (
  SELECT e.vec_id, e.v, cc.cid,
    row_number() OVER (PARTITION BY e.vec_id ORDER BY
      list_inner_product(e.v, cc.cv) /
        (sqrt(list_inner_product(e.v, e.v)) * sqrt(list_inner_product(cc.cv, cc.cv))) DESC,
      cc.cid) AS rn
  FROM e CROSS JOIN cc
)"""
    )
    parts.append(
        "assign AS (SELECT vec_id, v, cid AS list_id FROM ascore WHERE rn = 1)"
    )
    parts.append(
        "q AS (SELECT vec_id AS q_id, v AS qv, list_id FROM assign WHERE vec_id < 10)"
    )
    parts.append(
        """scored AS (
  SELECT q.q_id, a.vec_id AS neighbor_id,
    list_inner_product(q.qv, a.v) /
      (sqrt(list_inner_product(q.qv, q.qv)) * sqrt(list_inner_product(a.v, a.v))) AS cos
  FROM assign a JOIN q USING (list_id) WHERE a.vec_id <> q.q_id
)"""
    )
    parts.append(
        """ranked AS (
  SELECT q_id, neighbor_id, cos,
    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rnk
  FROM scored
)"""
    )
    return (
        "WITH " + ",\n".join(parts)
        + "\nSELECT q_id, neighbor_id, round(cos, 6) AS cos FROM ranked WHERE rnk <= 5"
    )


# --- embeddings: product quantization ----------------------------------------
_PQ_M, _PQ_K, _PQ_SUB = 8, 8, 8  # 64 dims -> 8 subspaces of 8, 8 centroids each


def _embed_pq(spark: SparkSession, sf: str) -> DataFrame:
    """PQ completes the ANN family (brute -> sign-LSH -> IVF -> PQ): per-
    subspace 1-round Lloyd codebooks seeded by the first k vectors, then a
    single shuffle-free encode projection. The weighted code sum pins all
    m codes of every vector; the oracle replays all 8 k-means chains."""
    emb = T(spark, sf, "embeddings")
    books = clustering.pq_train(emb, "vec_id", "embedding", _PQ_M, _PQ_K, iters=1)
    enc = clustering.pq_encode(emb, "vec_id", "embedding", books)
    code_mix = sum(
        (F.col(f"code_{j}") * ((j + 1) * 1009) for j in range(_PQ_M)), F.lit(0)
    )
    return enc.agg(
        F.count("*").alias("n"),
        F.sum(code_mix * (F.col("vec_id") % 997)).alias("code_hash"),
    )


def _pq_chain_parts() -> list[str]:
    """The replayed one-round Lloyd chain per subspace, shared by the PQ
    and IVF-PQ oracles: sv{j} sub-vectors, c0{j} seeds, a1{j} assignment,
    c1{j} trained codebook, enc{j} final codes."""
    sub, k, m = _PQ_SUB, _PQ_K, _PQ_M
    dist = (
        f"list_sum(list_transform(generate_series(1, {sub}), "
        "i -> (e.sv[i] - c.cv[i]) * (e.sv[i] - c.cv[i])))"
    )
    parts = []
    for j in range(m):
        lo, hi = j * sub + 1, (j + 1) * sub
        means = ", ".join(f"avg(sv[{i + 1}])" for i in range(sub))
        parts += [
            f"sv{j} AS (SELECT vec_id, (embedding::DOUBLE[])[{lo}:{hi}] AS sv FROM embeddings)",
            f"c0{j} AS (SELECT CAST(vec_id AS INTEGER) AS cluster, sv AS cv FROM sv{j} WHERE vec_id < {k})",
            f"a1{j} AS (SELECT vec_id, sv, cluster FROM ("
            f"SELECT e.vec_id, e.sv, c.cluster, "
            f"row_number() OVER (PARTITION BY e.vec_id ORDER BY {dist}, c.cluster) AS rn "
            f"FROM sv{j} e CROSS JOIN c0{j} c) WHERE rn = 1)",
            f"c1{j} AS (SELECT cluster, list_value({means}) AS cv FROM a1{j} GROUP BY cluster)",
            f"enc{j} AS (SELECT vec_id, cluster AS code FROM ("
            f"SELECT e.vec_id, c.cluster, "
            f"row_number() OVER (PARTITION BY e.vec_id ORDER BY {dist}, c.cluster) AS rn "
            f"FROM sv{j} e CROSS JOIN c1{j} c) WHERE rn = 1)",
        ]
    return parts


def _pq_oracle() -> str:
    m = _PQ_M
    parts = _pq_chain_parts()
    mix = " + ".join(
        f"(SELECT sum(code * {(j + 1) * 1009} * (vec_id % 997)) FROM enc{j})"
        for j in range(m)
    )
    return (
        "WITH " + ",\n".join(parts) + f"""
SELECT (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n,
  CAST({mix} AS BIGINT) AS code_hash
"""
    )


# --- ANN: composed IVF routing + PQ asymmetric scoring -----------------------
def _embed_ivfpq(spark: SparkSession, sf: str) -> DataFrame:
    """The billion-scale ANN composition (FAISS-IVFPQ shape): IVF coarse
    lists route the probe, PQ codes replace raw vectors in the scoring
    join (8 bytes/candidate instead of 256). Every ranked neighbor AND
    its asymmetric distance is pinned; the oracle replays the coarse
    assignment, all 8 codebook chains, and the ADC sum."""
    emb = T(spark, sf, "embeddings")
    books = clustering.pq_train(emb, "vec_id", "embedding", _PQ_M, _PQ_K, iters=1)
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.ivfpq_ann(
        emb, queries, nlist_ids=list(range(8)), books=books, k=5
    )


def _ivfpq_oracle(nprobe: int = 1, refine: int | None = None) -> str:
    sub, m = _PQ_SUB, _PQ_M
    # nprobe=1 renders byte-identically to the proven single-probe oracle
    # (q from the rn=1 assignment); nprobe>1 keeps the query's rn<=nprobe
    # coarse assignments, mirroring ivf_probe_lists' cos-desc/cid ranking.
    q_part = (
        "q AS (SELECT vec_id AS q_id, list_id FROM assign WHERE vec_id < 10)"
        if nprobe == 1
        else (
            "q AS (SELECT vec_id AS q_id, cid AS list_id FROM ascore "
            f"WHERE vec_id < 10 AND rn <= {nprobe})"
        )
    )
    parts = _pq_chain_parts()
    parts += [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        "coarse AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8)",
        """ascore AS (
  SELECT e.vec_id, c.cid,
    row_number() OVER (PARTITION BY e.vec_id ORDER BY
      list_inner_product(e.v, c.cv) /
        (sqrt(list_inner_product(e.v, e.v)) * sqrt(list_inner_product(c.cv, c.cv))) DESC,
      c.cid) AS rn
  FROM e CROSS JOIN coarse c)""",
        "assign AS (SELECT vec_id, cid AS list_id FROM ascore WHERE rn = 1)",
        q_part,
        """pairs AS (
  SELECT q.q_id, a.vec_id AS neighbor_id
  FROM assign a JOIN q USING (list_id)
  WHERE a.vec_id <> q.q_id)""",
    ]
    term = (
        "list_sum(list_transform(generate_series(1, {sub}), "
        "i -> (qs{j}.sv[i] - cb{j}.cv[i]) * (qs{j}.sv[i] - cb{j}.cv[i])))"
    )
    terms = " + ".join(term.format(sub=sub, j=j) for j in range(m))
    joins = "\n".join(
        f"  JOIN sv{j} qs{j} ON qs{j}.vec_id = p.q_id\n"
        f"  JOIN enc{j} e{j} ON e{j}.vec_id = p.neighbor_id\n"
        f"  JOIN c1{j} cb{j} ON cb{j}.cluster = e{j}.code"
        for j in range(m)
    )
    parts.append(
        f"adc AS (\n  SELECT p.q_id, p.neighbor_id, {terms} AS adc\n"
        f"  FROM pairs p\n{joins})"
    )
    if refine is None:
        return (
            "WITH " + ",\n".join(parts) + """
SELECT q_id, neighbor_id, round(adc, 6) AS adc FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc, neighbor_id) AS rnk
  FROM adc)
WHERE rnk <= 5
"""
        )
    # refine stage: ADC shortlist of `refine`, then exact squared L2 on
    # raw vectors re-ranks to top 5 (mirrors similarity.ivfpq_rerank)
    parts.append(
        "short AS (SELECT q_id, neighbor_id FROM (\n"
        "  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc, neighbor_id) AS rnk\n"
        f"  FROM adc) WHERE rnk <= {refine})"
    )
    parts.append(
        "ex AS (\n"
        "  SELECT s.q_id, s.neighbor_id,\n"
        "    list_sum(list_transform(generate_series(1, len(eq.v)),\n"
        "      i -> (eq.v[i] - en.v[i]) * (eq.v[i] - en.v[i]))) AS dist\n"
        "  FROM short s\n"
        "  JOIN e eq ON eq.vec_id = s.q_id\n"
        "  JOIN e en ON en.vec_id = s.neighbor_id)"
    )
    return (
        "WITH " + ",\n".join(parts) + """
SELECT q_id, neighbor_id, round(dist, 6) AS dist FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY dist, neighbor_id) AS rnk
  FROM ex)
WHERE rnk <= 5
"""
    )


# --- ANN: multi-probe IVF-PQ (the knob composed with the codes) --------------
def _embed_ivfpq_nprobe(spark: SparkSession, sf: str) -> DataFrame:
    """ivfpq_ann with nprobe=2: the production FAISS posture (multi-probe
    coarse routing AND PQ codes in the scoring join). The query side
    explodes to its two nearest lists via ivf_probe_lists; the corpus
    side still streams 8-byte codes through the same equi-join."""
    emb = T(spark, sf, "embeddings")
    books = clustering.pq_train(emb, "vec_id", "embedding", _PQ_M, _PQ_K, iters=1)
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.ivfpq_ann(
        emb, queries, nlist_ids=list(range(8)), books=books, k=5, nprobe=2
    )


# --- ANN: IVF-PQ + exact-rerank refine (the FAISS refine stage) --------------
def _embed_ivfpq_rerank(spark: SparkSession, sf: str) -> DataFrame:
    """ivfpq_rerank: ADC over PQ codes shortlists 20 candidates per
    query, exact squared-L2 on raw vectors re-ranks to top 5 — the FAISS
    refine stage that recovers the recall PQ quantization loses while
    touching raw vectors for only q x 20 rows. The oracle replays the
    full chain (coarse routing, 8 codebooks, ADC shortlist) and then the
    exact re-rank."""
    emb = T(spark, sf, "embeddings")
    books = clustering.pq_train(emb, "vec_id", "embedding", _PQ_M, _PQ_K, iters=1)
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.ivfpq_rerank(
        emb, queries, nlist_ids=list(range(8)), books=books, k=5, refine=20
    )


# --- multimodal: binary payload + fake-decode feature extraction -------------
def _multimodal_features(spark: SparkSession, sf: str) -> DataFrame:
    media = multimodal.attach_binary_payload(T(spark, sf, "documents"), "doc_id", "text")
    feats = multimodal.decode_features(media, fake=True)
    return feats.groupBy("media_type").agg(
        F.count("*").alias("n"),
        F.sum("n_bytes").alias("total_bytes"),
        F.sum("byte_sum64").alias("byte_sum"),
        F.min("first_byte").alias("min_first_byte"),
    )


_MULTIMODAL_SQL = """
SELECT 'image' AS media_type, CAST(count(*) AS BIGINT) AS n,
  CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
  CAST(sum(coalesce(list_sum(list_transform(range(least(length(text), 64)),
    i -> ascii(text[i+1]))), 0)) AS BIGINT) AS byte_sum,
  CAST(min(ascii(text[1])) AS INT) AS min_first_byte
FROM documents
"""


# --- multimodal: REAL decoders (PPM image + PCM WAV) -------------------------
def _multimodal_decode(spark: SparkSession, sf: str) -> DataFrame:
    """Exercises the real numpy/stdlib decoders end-to-end: synthesize a
    P6 PPM (even doc_ids) or 16-bit PCM WAV (odd doc_ids) per doc, decode
    with decode_media, and pin every pixel/sample by recovering the exact
    integer content sum from the decoded mean (mean x element-count).
    The oracle recomputes the sums from the synth closed forms —
    bit-level proof the decoders parse the real byte formats."""
    import pandas as pd

    docs = T(spark, sf, "documents").select("doc_id")

    def synth(batches):
        from hadoop_0_20_2_ljx_spark.extensions.multimodal import synth_ppm, synth_wav

        for pdf in batches:
            ids = pdf["doc_id"].tolist()
            payloads = [
                synth_ppm(8, 6, int(d)) if d % 2 == 0 else synth_wav(160, 8000, int(d))
                for d in ids
            ]
            mts = ["image" if d % 2 == 0 else "audio" for d in ids]
            yield pd.DataFrame({"doc_id": ids, "media_type": mts, "payload": payloads})

    media = docs.mapInPandas(synth, schema="doc_id long, media_type string, payload binary")
    dec = multimodal.decode_media(media)
    n_elems = F.when(F.col("kind") == "image", F.lit(8 * 6 * 3)).otherwise(F.lit(160))
    content = F.round(F.col("mean") * n_elems).cast("long")
    return dec.groupBy("kind").agg(
        F.count("*").alias("n"),
        F.sum(F.coalesce(F.col("width"), F.lit(0))).alias("w_sum"),
        F.sum(F.coalesce(F.col("n_samples"), F.lit(0))).alias("samples_sum"),
        F.sum("channels").alias("ch_sum"),
        F.sum(content * (F.col("doc_id") % 997)).alias("content_hash"),
    )


_MULTIMODAL_DECODE_SQL = """
WITH img AS (
  SELECT doc_id,
    list_sum(list_transform(generate_series(0, 143), i -> (i*31 + 7*doc_id) % 256)) AS total
  FROM documents WHERE doc_id % 2 = 0
), wav AS (
  SELECT doc_id,
    list_sum(list_transform(generate_series(0, 159), i -> (i*997 + doc_id) % 20001 - 10000)) AS total
  FROM documents WHERE doc_id % 2 <> 0
)
SELECT 'image' AS kind, CAST(count(*) AS BIGINT) AS n,
  CAST(count(*) * 8 AS BIGINT) AS w_sum, CAST(0 AS BIGINT) AS samples_sum,
  CAST(count(*) * 3 AS BIGINT) AS ch_sum,
  CAST(sum(total * (doc_id % 997)) AS BIGINT) AS content_hash
FROM img
UNION ALL
SELECT 'audio', CAST(count(*) AS BIGINT),
  CAST(0 AS BIGINT), CAST(count(*) * 160 AS BIGINT),
  CAST(count(*) AS BIGINT),
  CAST(sum(total * (doc_id % 997)) AS BIGINT)
FROM wav
"""


# --- unigram LM (perplexity-proxy) scoring -----------------------------------
def _text_logprob(spark: SparkSession, sf: str) -> DataFrame:
    """Average unigram log-probability per doc under the corpus's own
    unigram LM (extensions/relevance.py unigram_logprob_scores)."""
    from hadoop_0_20_2_ljx_spark.extensions import relevance

    return relevance.unigram_logprob_scores(T(spark, sf, "documents"), "doc_id", "text")


def _logprob_oracle() -> str:
    words = words_sql("text")
    return f"""
WITH toks AS (SELECT doc_id, unnest({words}) AS tok FROM documents),
vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
total AS (SELECT sum(c) AS n_total FROM vocab)
SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tok,
       round(avg(ln(v.c / tt.n_total)), 4) AS avg_logprob
FROM toks t JOIN vocab v USING (tok) CROSS JOIN total tt
GROUP BY 1
"""


# --- temperature mixture resampling ------------------------------------------
def _sample_temperature(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-flattened source mix (alpha=0.5): dominant sources are
    hash-thinned toward the smallest source's size
    (extensions/pipeline_ops.py temperature_sample). Output: per-source
    kept counts + id hash sum (proves the exact surviving row set)."""
    kept = pipeline_ops.temperature_sample(
        T(spark, sf, "documents"), "source", "doc_id", alpha=0.5
    )
    return kept.groupBy("source").agg(
        F.max("group_total").cast("long").alias("n_orig"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum(F.col("doc_id") % 1000003).cast("long").alias("id_hash_sum"),
    )


def _temperature_oracle() -> str:
    bucket = h32_sql("doc_id") + " % 10000"
    return f"""
WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
m AS (SELECT min(n) AS n_min FROM c),
r AS (SELECT source, n,
             CAST(round(pow(CAST(n_min AS DOUBLE) / n, 0.5) * 10000) AS BIGINT) AS bps
      FROM c, m)
SELECT d.source, CAST(max(r.n) AS BIGINT) AS n_orig,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(d.doc_id % 1000003) AS BIGINT) AS id_hash_sum
FROM documents d JOIN r ON d.source = r.source
WHERE {bucket} < r.bps
GROUP BY 1
"""


# --- fuzzy vocabulary dedup --------------------------------------------------
def _dedup_fuzzy(spark: SparkSession, sf: str) -> DataFrame:
    """Edit-distance near-dup pairs over the distinct part-name
    vocabulary, first-token blocking (extensions/dedup.py
    fuzzy_name_pairs)."""
    return dedup.fuzzy_name_pairs(T(spark, sf, "part"), "p_name", max_dist=3)


_FUZZY_SQL = f"""
WITH names AS (SELECT DISTINCT p_name AS name FROM part),
blocked AS (SELECT name, regexp_split_to_array(name, '[{WS}]+')[1] AS blk FROM names)
SELECT a.name AS name_a, b.name AS name_b,
       CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
FROM blocked a JOIN blocked b ON a.blk = b.blk AND a.name < b.name
WHERE levenshtein(a.name, b.name) <= 3
"""


# --- boilerplate heavy-hitter phrases ---------------------------------------
def _text_boilerplate(spark: SparkSession, sf: str) -> DataFrame:
    """Word-2gram phrases present in >=5% of documents (template/banner
    detection — the pre-dedup boilerplate scan). One explode + one
    groupBy; corpus total re-enters as a broadcast 1-row agg."""
    return textstats.boilerplate_ngrams(
        T(spark, sf, "documents"), "text", k=2, min_doc_frac=0.05
    )


def _boilerplate_oracle() -> str:
    words = words_sql("text")
    sh = shingles_sql(words, 2)
    return f"""
WITH g AS (SELECT unnest({sh}) AS gram FROM documents),
d AS (SELECT gram, CAST(count(*) AS BIGINT) AS df FROM g GROUP BY 1),
t AS (SELECT count(*) AS n_docs FROM documents)
SELECT gram, df FROM d, t WHERE df >= ceil(n_docs * 0.05)
"""


# --- bigram LM: conditional-probability table --------------------------------
def _text_bigram_lm(spark: SparkSession, sf: str) -> DataFrame:
    """Bigram language-model table: the top bigrams with P(w2|w1) in
    integer basis points (integer div — float probabilities differ in the
    last ulp across engines). One bigram explode + one groupBy; the w1
    marginals come from re-aggregating the counts (vocabulary-sized, not
    corpus-sized), joined back on w1. The training-prep step after
    tokenization; extends the unigram-LM scorer (textstats) one order up."""
    docs = T(spark, sf, "documents")
    grams = docs.select(
        F.explode(pipeline_ops.word_ngrams("text", 2)).alias("g")
    )
    bi = grams.select(
        F.split_part(F.col("g"), F.lit(" "), F.lit(1)).alias("w1"),
        F.split_part(F.col("g"), F.lit(" "), F.lit(2)).alias("w2"),
    )
    counts = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = counts.groupBy("w1").agg(F.sum("n").cast("long").alias("n_w1"))
    out = counts.join(tot, "w1").select(
        "w1", "w2", "n", "n_w1", F.expr("(n * 10000) div n_w1").alias("cond_bp")
    )
    return out.orderBy(F.desc("n"), "w1", "w2").limit(20)


def _bigram_lm_oracle() -> str:
    bg = ngrams_sql(words_sql("lower(text)"), 2)
    return f"""
WITH g AS (SELECT unnest({bg}) AS g FROM documents),
bi AS (SELECT split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2 FROM g),
c AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n FROM bi GROUP BY 1, 2),
t AS (SELECT w1, CAST(sum(n) AS BIGINT) AS n_w1 FROM c GROUP BY 1)
SELECT c.w1, c.w2, n, n_w1, CAST((n * 10000) // n_w1 AS BIGINT) AS cond_bp
FROM c JOIN t USING (w1)
ORDER BY n DESC, c.w1, c.w2 LIMIT 20
"""


# --- chunking: context-window preparation ------------------------------------
def _text_chunk(spark: SparkSession, sf: str) -> DataFrame:
    """Overlapping 32-token chunks with stride 24; every chunk's CONTENT
    pinned via md5 of the re-joined token span (pure explode+slice
    expressions — no UDF, no shuffle)."""
    docs = T(spark, sf, "documents")
    out = pipeline_ops.chunk_documents(docs, chunk_tokens=32, stride=24)
    return out.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        "n_tokens",
        "chunk_hash",
    )


def _chunk_oracle() -> str:
    words = words_sql("text")
    return f"""
WITH d AS (SELECT doc_id, {words} AS w FROM documents),
c AS (
  SELECT doc_id, w,
         unnest(generate_series(
           0, CAST(ceil(greatest(len(w) - 32, 0) / 24.0) AS INT))) AS chunk_id
  FROM d)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(len(w[chunk_id*24+1 : chunk_id*24+32]) AS BIGINT) AS n_tokens,
       md5(array_to_string(w[chunk_id*24+1 : chunk_id*24+32], ' ')) AS chunk_hash
FROM c
"""


# --- CDC compaction: keep-latest version per key -----------------------------
def _dedup_keep_latest(spark: SparkSession, sf: str) -> DataFrame:
    """Upsert compaction over the events stream: each (user, event_type)
    keeps its newest row. Ordering runs on integer epoch micros on BOTH
    engines (DuckDB sees nanos; ordering on raw ts could pick a different
    winner within one microsecond), tie-broken by event_id."""
    ev = T(spark, sf, "events").withColumn("t_us", F.unix_micros("ts"))
    latest = pipeline_ops.keep_latest_versions(
        ev, ["user_id", "event_type"], "t_us", "event_id"
    )
    return latest.select(
        "user_id",
        "event_type",
        F.col("event_id").alias("last_event_id"),
        F.col("t_us").alias("last_t_us"),
        F.round("value", 2).alias("last_value"),
    )


_KEEP_LATEST_SQL = """
SELECT user_id, event_type, event_id AS last_event_id,
       epoch_us(ts) AS last_t_us, round(value, 2) AS last_value
FROM (SELECT *, row_number() OVER (
        PARTITION BY user_id, event_type
        ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
      FROM events)
WHERE rn = 1
"""


# --- domain-mix report -------------------------------------------------------
def _agg_domain_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Training-mix accounting per (source, lang): docs, words, and each
    cell's share of all corpus words in integer basis points (integer div
    — float shares differ in the last ulp across engines). Corpus total
    re-enters as a broadcast 1-row aggregate; one scan of documents."""
    docs = T(spark, sf, "documents")
    per = docs.select(
        "source",
        "lang",
        F.size(F.expr(textstats.tokens_sql("text"))).cast("long").alias("nw"),
    )
    g = per.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("nw").alias("words"),
    )
    total = g.agg(F.sum("words").alias("_tw"))
    return g.join(F.broadcast(total)).select(
        "source",
        "lang",
        "n_docs",
        "words",
        F.expr("(words * 10000) div _tw").alias("mix_bp"),
    )


def _domain_mix_oracle() -> str:
    words = words_sql("text")
    return f"""
WITH per AS (SELECT source, lang, len({words}) AS nw FROM documents),
g AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(nw) AS BIGINT) AS words
      FROM per GROUP BY 1, 2),
t AS (SELECT sum(words) AS tw FROM g)
SELECT source, lang, n_docs, words,
       CAST((words * 10000) // tw AS BIGINT) AS mix_bp
FROM g CROSS JOIN t
"""


# --- dedup: exact duplicate-substring spans (ExactSubstr) --------------------
def _dedup_substring(spark: SparkSession, sf: str) -> DataFrame:
    """Lee et al. ExactSubstr shape: per doc, windows whose word 8-gram
    also occurs in a DIFFERENT doc, plus the token positions they cover."""
    out = dedup.duplicate_substring_spans(
        T(spark, sf, "documents"), "doc_id", "text", n=8
    )
    return out.select(
        F.col("doc").alias("doc_id"),
        "n_tokens",
        "n_dup_windows",
        "n_cov_tokens",
        "dup_frac",
    )


def _substring_oracle() -> str:
    w = words_sql("lower(text)")
    gh = h64_sql("array_to_string(w[pos+1:pos+8], ' ')")
    return f"""
WITH toks AS (SELECT doc_id, {w} AS w FROM documents),
posed AS (
  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens, w,
         unnest(CASE WHEN len(w) >= 8 THEN generate_series(0, len(w) - 8)
                ELSE [] END) AS pos
  FROM toks),
wins AS (SELECT doc_id, n_tokens, pos, {gh} AS gh FROM posed),
dupv AS (SELECT gh FROM (SELECT DISTINCT doc_id, gh FROM wins)
         GROUP BY gh HAVING count(*) >= 2),
dwin AS (SELECT wins.* FROM wins JOIN dupv USING (gh)),
cov AS (
  SELECT doc_id, CAST(count(DISTINCT pos + off) AS BIGINT) AS n_cov_tokens
  FROM dwin CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS off) offs
  GROUP BY doc_id),
agg AS (
  SELECT doc_id, any_value(n_tokens) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_dup_windows
  FROM dwin GROUP BY doc_id)
SELECT a.doc_id, a.n_tokens, a.n_dup_windows, c.n_cov_tokens,
       round(c.n_cov_tokens / CAST(a.n_tokens AS DOUBLE), 6) AS dup_frac
FROM agg a JOIN cov c USING (doc_id)
"""


# --- text: hashed linear quality classifier ----------------------------------
def _text_classifier(spark: SparkSession, sf: str) -> DataFrame:
    return textstats.hashed_linear_classifier(
        T(spark, sf, "documents"), "doc_id", "text", dim=4096, weight_scale=1000
    )


def _classifier_oracle() -> str:
    # NULL contract (r10 pin): null text scores as an EMPTY doc on both
    # sides (textstats.hashed_linear_classifier docstring) — coalesce the
    # token list so len()/list_sum() see [] rather than NULL.
    w = "coalesce(" + words_sql("lower(text)") + ", [])"
    tok_h = h32_sql("t")
    bucket = f"({tok_h} % 4096)"
    weight_h = h32_sql(f"'w:' || CAST({bucket} AS VARCHAR)")
    return f"""
WITH toks AS (SELECT doc_id, {w} AS w FROM documents),
scored AS (
  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
    CAST(coalesce(list_sum(list_transform(w,
      t -> ({weight_h} % 2001) - 1000)), 0) AS BIGINT) AS score_int
  FROM toks)
SELECT doc_id, n_tokens, score_int,
  CAST(CASE WHEN n_tokens > 0
       THEN (score_int * 1000) // n_tokens
       ELSE 0 END AS BIGINT) AS score_ppm,
  score_int > 0 AS keep
FROM scored
"""


QUERIES: dict[str, QueryDef] = {
    "q_dedup_substring": QueryDef(
        _dedup_substring,
        _substring_oracle(),
        "extension: exact duplicate-substring spans (ExactSubstr, Lee et "
        "al. 2022) — cross-doc duplicated 8-gram windows + token coverage, "
        "gram-vocabulary equi-join, never doc x doc",
    ),
    "q_text_classifier": QueryDef(
        _text_classifier,
        _classifier_oracle(),
        "extension: fastText-shaped hashed linear quality classifier — "
        "hashing-trick buckets + integer weights, pure per-row "
        "expressions, exact integer score",
    ),

    "q_text_bigram_lm": QueryDef(
        _text_bigram_lm,
        _bigram_lm_oracle(),
        "extension: bigram LM conditional-probability table (integer basis "
        "points; one explode + vocabulary-sized marginal join)",
    ),
    "q_text_chunk": QueryDef(
        _text_chunk,
        _chunk_oracle(),
        "extension: overlapping fixed-token-budget document chunking "
        "(context-window prep; Mapper 1->N as a relational explode)",
    ),
    "q_dedup_keep_latest": QueryDef(
        _dedup_keep_latest,
        _KEEP_LATEST_SQL,
        "extension: CDC keep-latest compaction — the override() rightmost-"
        "wins composite (mapred/join/OverrideRecordReader.java:44) applied "
        "time-wise",
    ),
    "q_agg_domain_mix": QueryDef(
        _agg_domain_mix,
        _domain_mix_oracle(),
        "extension: training domain-mix report (per source x lang share of "
        "corpus words, integer basis points)",
    ),
    "q_dedup_exact": QueryDef(
        _dedup_exact,
        f"SELECT CAST(count(*) AS BIGINT) AS n_unique, "
        f"CAST(sum({h32_sql('text')} % 1000003) AS BIGINT) AS text_hash_sum "
        f"FROM (SELECT DISTINCT text FROM documents)",
        "extension: exact dedup (hash-groupBy)",
    ),
    "q_dedup_minhash": QueryDef(
        _dedup_minhash,
        _minhash_oracle(),
        "extension: MinHash(16)+LSH(4 bands) near-dup candidate pairs",
    ),
    "q_dedup_simhash": QueryDef(
        _dedup_simhash, _simhash_oracle(), "extension: 60-bit SimHash signatures"
    ),
    "q_dedup_simhash_pairs": QueryDef(
        _dedup_simhash_pairs,
        _simhash_pairs_oracle(),
        "extension: SimHash near-dup pairs, hamming<=8 via 4x15-bit band bucketing",
    ),
    "q_dedup_clusters": QueryDef(
        _dedup_clusters,
        _clusters_oracle(),
        "extension: duplicate-cluster assignment — connected components "
        "(min-label propagation) over minhash-LSH candidate pairs",
    ),
    "q_dedup_jaccard": QueryDef(
        _dedup_jaccard,
        _jaccard_oracle(),
        "extension: exact word-3gram Jaccard pairs >= 0.2",
    ),
    "q_dedup_embed": QueryDef(
        _dedup_embed,
        _EMBED_NEARDUP_SQL,
        "extension: embedding-cosine near-dup pairs via sign-LSH blocking",
    ),
    "q_embed_knn": QueryDef(
        _embed_knn, _KNN_SQL, "extension: brute-force cosine top-10 (broadcast queries)"
    ),
    "q_embed_ann": QueryDef(
        _embed_ann, _ANN_SQL, "extension: sign-LSH bucketed ANN top-5"
    ),
    "q_embed_ivf_nprobe": QueryDef(
        _embed_ivf_nprobe,
        _IVF_NPROBE_SQL,
        "multi-probe IVF ANN (nprobe=2): query explodes to its two nearest "
        "inverted lists; the standard recall/cost knob, same equi-join "
        "topology as single-probe",
    ),
    "q_embed_ivf": QueryDef(
        _embed_ivf,
        _IVF_SQL,
        "extension: IVF inverted-list ANN — coarse-quantize, probe one list "
        "(deterministic centroid set; k-means training swaps in without "
        "changing the topology)",
    ),
    "q_text_langid": QueryDef(
        _text_langid, _langid_oracle(), "extension: stopword-ratio language ID confusion counts"
    ),
    "q_text_quality": QueryDef(
        _text_quality, _quality_oracle(), "extension: heuristic quality scoring"
    ),
    "q_text_tokens": QueryDef(
        _text_tokens, _tokens_oracle(), "extension: whitespace + BPE-ish token counting"
    ),
    "q_text_fingerprint": QueryDef(
        _text_fingerprint, _fingerprint_oracle(), "extension: winnowing-style doc fingerprint"
    ),
    "q_text_redact": QueryDef(
        _text_redact,
        _redact_oracle(),
        "extension: PII scrub (email/IP/phone -> typed placeholders) with "
        "byte-identical checksum of the redacted corpus",
    ),
    "q_pipeline_training": QueryDef(
        _pipeline_training,
        _pipeline_oracle(),
        "extension: composed training-data pipeline — exact dedup (min-id "
        "survivor) -> language gate -> quality gate -> token accounting",
    ),
    "q_text_repetition": QueryDef(
        _text_repetition,
        _repetition_oracle(),
        "extension: Gopher-style intra-doc repetition (duplicate 3-gram "
        "fraction), integer-exact corpus roll-up",
    ),
    "q_text_contamination": QueryDef(
        _text_contamination,
        _contamination_oracle(),
        "extension: benchmark-contamination scan — 8-gram overlap between "
        "the train split and a synthetic eval suite, per-n-gram equi-join",
    ),
    "q_text_logprob": QueryDef(
        _text_logprob,
        _logprob_oracle(),
        "extension: unigram-LM average log-probability per doc "
        "(perplexity-proxy quality filter)",
    ),
    "q_sample_temperature": QueryDef(
        _sample_temperature,
        _temperature_oracle(),
        "extension: temperature-flattened (alpha=0.5) source-mix "
        "resampling via deterministic hash thresholds",
    ),
    "q_dedup_fuzzy": QueryDef(
        _dedup_fuzzy,
        _FUZZY_SQL,
        "extension: edit-distance near-dup pairs over the distinct "
        "vocabulary, first-token blocking (never corpus-quadratic)",
    ),
    "q_text_boilerplate": QueryDef(
        _text_boilerplate,
        _boilerplate_oracle(),
        "extension: boilerplate heavy-hitter 2-grams (>=5% of docs), "
        "broadcast corpus total, single token shuffle",
    ),
    "q_sample_stratified": QueryDef(
        _sample_stratified,
        _stratified_oracle(),
        "extension: stratified domain-mix sampling via deterministic "
        "hash-threshold (reproducible, shuffle-free)",
    ),
    "q_pack_sequences": QueryDef(
        _pack_sequences,
        _packing_oracle(),
        "extension: sequence packing into 2048-token context windows — "
        "distributed two-pass prefix sum, assignment pinned by hash",
    ),
    "q_embed_quantize": QueryDef(
        _embed_quantize,
        _QUANTIZE_SQL,
        "extension: symmetric int8 embedding quantization — full codebook "
        "pinned by weighted component sums",
    ),
    "q_shuffle_global": QueryDef(
        _shuffle_global,
        _shuffle_oracle(),
        "extension: deterministic global training-order shuffle "
        "(hash-rank permutation, two-pass distributed rank)",
    ),
    "q_embed_kmeans": QueryDef(
        _embed_kmeans,
        _kmeans_oracle(),
        "extension: iterative Lloyd k-means over embeddings — fixed init, "
        "2 rounds, assignment pinned cross-engine by the replayed chain",
    ),
    "q_embed_ivf_bcast": QueryDef(
        _embed_ivf_bcast,
        _IVF_SQL,
        "extension: IVF ANN with the large-nlist broadcast array-column "
        "centroid carrier forced on — external bitwise-parity proof of "
        "the scale path against the literal path's oracle",
    ),
    "q_embed_kmeans_ivf": QueryDef(
        _embed_kmeans_ivf,
        _kmeans_ivf_oracle(),
        "extension: trained-quantizer composition — kmeans_lloyd's "
        "post-update centroids become the IVF codebook, then the standard "
        "assign/probe topology; oracle replays train + route + probe",
    ),
    "q_embed_kmeans_ivf_bcast": QueryDef(
        _embed_kmeans_ivf_bcast,
        _kmeans_ivf_oracle(),
        "extension: trained kmeans centroids routed THROUGH the broadcast "
        "array-column carrier (literal=False) — proves the r7 trained-"
        "quantizer and scale-path features compose; oracle unchanged",
    ),
    "q_embed_pq": QueryDef(
        _embed_pq,
        _pq_oracle(),
        "extension: product quantization — per-subspace Lloyd codebooks + "
        "shuffle-free encode; all 8 codes of every vector pinned",
    ),
    "q_embed_ivfpq": QueryDef(
        _embed_ivfpq,
        _ivfpq_oracle(),
        "extension: IVF-PQ composed ANN — coarse-list routing + asymmetric "
        "PQ distance scoring (the FAISS-IVFPQ shape); ranked neighbors and "
        "ADC values pinned vs the fully replayed chain",
    ),
    "q_embed_ivfpq_nprobe": QueryDef(
        _embed_ivfpq_nprobe,
        _ivfpq_oracle(2),
        "extension: multi-probe IVF-PQ (nprobe=2) — the full production "
        "ANN posture: two probed lists per query AND 8-byte PQ codes in "
        "the scoring join; oracle replays the rn<=2 coarse routing",
    ),
    "q_embed_ivfpq_rerank": QueryDef(
        _embed_ivfpq_rerank,
        _ivfpq_oracle(refine=20),
        "extension: IVF-PQ + exact-rerank refine — ADC shortlist of 20, "
        "exact squared-L2 re-rank to top 5 on raw vectors fetched for the "
        "shortlist only (the FAISS refine stage)",
    ),
    "q_multimodal_decode": QueryDef(
        _multimodal_decode,
        _MULTIMODAL_DECODE_SQL,
        "extension: REAL PPM/WAV decode — every pixel/sample pinned via "
        "exact content sums recomputed by the oracle",
    ),
    "q_multimodal_features": QueryDef(
        _multimodal_features,
        _MULTIMODAL_SQL,
        "extension: binary media columns + Arrow-batched (fake-)decode features",
    ),
}
