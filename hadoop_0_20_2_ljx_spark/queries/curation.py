"""Declared queries: corpus-curation extras (round 3 batch).

Canonical keep-best dedup, paragraph-level (chunk) dedup, incremental
LSH dedup against an index corpus, blocklist filtering, and an
oracle-gated approximate-quantile sketch. No reference counterpart
(the reference's dedup surface is reduce-emits-key-once,
mapred/lib/aggregate/UniqValueCount.java:30); these are the operators a
100 TB training-data pipeline runs daily, shaped per SCALE.md: hash
shuffles with map-side partial agg, broadcast small sides, never
doc×doc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_0_20_2_ljx_spark.extensions import dedup, textstats
from hadoop_0_20_2_ljx_spark.functions.portable import cos_sql, md5_int_sql, zip_sum_sql
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
from hadoop_0_20_2_ljx_spark.pinning import pin


# --- canonical keep-best dedup ----------------------------------------------
def _dedup_canonical(spark: SparkSession, sf: str) -> DataFrame:
    """Keep the best doc (longest, tie = smallest id) per normalized-text
    group. One hash shuffle, max(struct) partial agg — no window sort."""
    d = dedup.keep_best_dedup(T(spark, sf, "documents"), "doc_id", "text", "n_chars")
    return d.agg(
        F.count(F.lit(1)).cast("long").alias("n_canonical"),
        F.sum(F.col("doc_id") % F.lit(1000003)).cast("long").alias("id_hash_sum"),
        F.sum("n_dups").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("n_dups") > 1, F.col("n_dups") - 1).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_removed"),
    )


# NULL contract (r10 pin, keep_best_dedup docstring): a NULL score ranks
# below every real score — explicit not-null flag leads the max(struct)
# because engines disagree on null struct-field ordering; a NULL text
# keys its own group (GROUP BY keeps null groups on both engines).
_CANONICAL_SQL = f"""
WITH g AS (
  SELECT md5(regexp_replace(trim(lower(text)), '[{WS}]+', ' ', 'g')) AS k,
         max(struct_pack(ok := CAST(n_chars IS NOT NULL AS INT),
                         s := coalesce(n_chars, 0), negid := -doc_id)) AS best,
         CAST(count(*) AS BIGINT) AS n_dups
  FROM documents GROUP BY 1
)
SELECT CAST(count(*) AS BIGINT) AS n_canonical,
       CAST(sum((-best.negid) % 1000003) AS BIGINT) AS id_hash_sum,
       CAST(sum(n_dups) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN n_dups > 1 THEN n_dups - 1 ELSE 0 END) AS BIGINT) AS n_removed
FROM g
"""


# --- paragraph-level (chunk) first-occurrence dedup --------------------------
def _dedup_paragraph(spark: SparkSession, sf: str) -> DataFrame:
    """C4-style chunk dedup: 10-word non-overlapping chunks, keep the
    globally first occurrence (by (doc_id, pos)) of each distinct chunk."""
    return dedup.chunk_first_occurrence_dedup(
        T(spark, sf, "documents"), "doc_id", "text", chunk_tokens=10
    )


def _paragraph_sql() -> str:
    ws = words_sql("text")
    ch = h64_sql("array_to_string(ws[i*10+1:i*10+10], ' ')")
    return f"""
WITH toks AS (
  SELECT doc_id, {ws} AS ws FROM documents
), chunks AS (
  SELECT doc_id, i AS pos, {ch} AS ch
  FROM toks, LATERAL unnest(range(greatest(CAST(ceil(len(ws) / 10.0) AS INT), 1))) AS t(i)
), winners AS (
  SELECT ch, min(struct_pack(doc := doc_id, pos := pos)) AS w FROM chunks GROUP BY 1
), kept AS (
  SELECT w.doc AS doc_id, ch FROM winners
), per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks FROM chunks GROUP BY 1
), kept_agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         CAST(sum(ch % 1000003) AS BIGINT) AS kept_hash
  FROM kept GROUP BY 1
)
SELECT p.doc_id, p.n_chunks,
       coalesce(k.n_kept, 0) AS n_kept,
       coalesce(k.kept_hash, 0) AS kept_hash
FROM per_doc p LEFT JOIN kept_agg k USING (doc_id)
"""


# --- incremental dedup: new batch vs historical index ------------------------
def _dedup_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Daily-ingest dedup: docs with doc_id % 10 == 0 are the NEW batch;
    the rest are the historical INDEX. LSH candidates only across the
    boundary — the index is never self-paired, so per-batch cost is
    O(batch), the property that matters at a 100 TB corpus."""
    docs = T(spark, sf, "documents")
    new = docs.where(F.col("doc_id") % 10 == 0)
    index = docs.where(F.col("doc_id") % 10 != 0)
    pairs = dedup.incremental_lsh_candidates(
        new, index, "doc_id", "text", num_hashes=16, bands=4, shingle_k=3
    )
    return pairs.groupBy("new_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_matches"),
        F.min("index_id").cast("long").alias("first_match"),
    )


def _incremental_sql() -> str:
    # Same signature derivation as queries/ext.py's _minhash_oracle, with
    # the corpus split into new (doc_id%10=0) and index sides.
    words = words_sql("text")
    sh = shingles_sql(words, 3)
    sig_elem = minhash_sig_elem_sql()
    bucket = h32_sql(
        "array_to_string(list_transform(sig[b*4+1:b*4+4], v -> CAST(v AS VARCHAR)), ',')"
    )
    return f"""
WITH shingled AS (SELECT doc_id, {sh} AS sh FROM documents),
sigs AS (
  SELECT doc_id, list_transform(range(16), s -> {sig_elem}) AS sig FROM shingled
),
bands AS (
  SELECT doc_id, b, {bucket} AS bucket
  FROM sigs, (SELECT unnest(range(4)) AS b)
),
pairs AS (
  SELECT DISTINCT n.doc_id AS new_id, i.doc_id AS index_id
  FROM bands n JOIN bands i ON n.b = i.b AND n.bucket = i.bucket
  WHERE n.doc_id % 10 = 0 AND i.doc_id % 10 <> 0
)
SELECT new_id, CAST(count(*) AS BIGINT) AS n_matches,
       CAST(min(index_id) AS BIGINT) AS first_match
FROM pairs GROUP BY 1
"""


# --- blocklist filtering -----------------------------------------------------
_BLOCKED_SOURCES = ("src1", "src4")
_BLOCKED_TERMS = ("slow", "merge")


def _filter_blocklist(spark: SparkSession, sf: str) -> DataFrame:
    """Deny-list curation: drop docs from blocked sources (broadcast
    anti-join against the blocklist table — the DistributedCache shape)
    and docs containing any blocked term; report the funnel per source."""
    docs = T(spark, sf, "documents")
    bl = spark.createDataFrame(
        [(s,) for s in _BLOCKED_SOURCES], "source string"
    )
    toks = F.expr(textstats.tokens_sql("text"))
    has_term = F.arrays_overlap(
        toks, F.array(*[F.lit(t) for t in _BLOCKED_TERMS])
    )
    survivors = (
        docs.join(F.broadcast(bl), "source", "left_anti")
        .where(~has_term)
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_kept"))
    )
    totals = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(has_term.cast("long")).cast("long").alias("n_term_hits"),
    )
    return (
        totals.join(survivors, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            "n_term_hits",
        )
    )


_BLOCKLIST_SQL = f"""
WITH t AS (
  SELECT source,
         list_has_any({words_sql("text")},
                      ['{_BLOCKED_TERMS[0]}', '{_BLOCKED_TERMS[1]}']) AS hit
  FROM documents
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN source NOT IN ('{_BLOCKED_SOURCES[0]}', '{_BLOCKED_SOURCES[1]}')
                      AND NOT hit THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_term_hits
FROM t GROUP BY 1
"""


# --- approx quantile with an oracle-expressible gate -------------------------
# Same contract pattern as q_agg_approx_distinct: the sketch value itself
# is engine-specific, but its rank-error CONTRACT is checkable. The query
# emits the EXACT rank-based quantiles (hash-matched against DuckDB) plus
# `approx_ok`: the RANK of Spark's percentile_approx output must sit
# within 2% of the target rank (percentile_approx guarantees rank error
# <= n/accuracy; accuracy=10000 -> 0.01%, so 2% catches a broken sketch
# without flaking). Rank-of-value, not value-distance: robust to value
# clustering, and no cross-engine float interpolation anywhere
# (CLAUDE.md: never percentile oracles — exact side is element-at-rank).
def _approx_quantile(spark: SparkSession, sf: str) -> DataFrame:
    # NULL contract (r10 pin): quantiles are order statistics over the
    # OBSERVED values — null measurements are excluded before ranking
    # and n counts non-null values (percentile_cont semantics,
    # queries/base.py; percentile_approx already ignores nulls). A NULL
    # event_type keeps its own group, so every recombining join is
    # NULL-SAFE (the bare equi-joins silently dropped the null group
    # that the oracle's single windowed CTE keeps).
    ev = (
        T(spark, sf, "events")
        .select("event_type", "value", "event_id")
        .where(F.col("value").isNotNull())
    )
    counts = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .withColumnRenamed("event_type", "_et_n")
    )
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    ranked = (
        ev.withColumn("rn", F.row_number().over(w))
        .join(F.broadcast(counts), F.col("event_type").eqNullSafe(F.col("_et_n")))
        .drop("_et_n")
    )
    r50 = (F.floor(F.lit(0.5) * (F.col("n") - 1)) + 1).cast("long")
    r95 = (F.floor(F.lit(0.95) * (F.col("n") - 1)) + 1).cast("long")
    exact = ranked.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.round(F.max(F.when(F.col("rn") == r50, F.col("value"))), 6).alias("q50"),
        F.round(F.max(F.when(F.col("rn") == r95, F.col("value"))), 6).alias("q95"),
    )
    approx = (
        ev.groupBy("event_type")
        .agg(F.percentile_approx("value", [0.5, 0.95], 10000).alias("a"))
        .withColumnRenamed("event_type", "_et_a")
    )
    gate = (
        ev.join(F.broadcast(approx), F.col("event_type").eqNullSafe(F.col("_et_a")))
        .groupBy("event_type")
        .agg(
            F.sum((F.col("value") <= F.col("a")[0]).cast("long")).alias("rank_a50"),
            F.sum((F.col("value") <= F.col("a")[1]).cast("long")).alias("rank_a95"),
        )
        .withColumnRenamed("event_type", "_et_g")
    )
    out = exact.join(
        gate, F.col("event_type").eqNullSafe(F.col("_et_g"))
    ).drop("_et_g")
    tol = F.greatest((F.col("n") * 0.02).cast("long"), F.lit(2))
    ok = (
        (F.abs(F.col("rank_a50") - (F.floor(F.lit(0.5) * (F.col("n") - 1)) + 1)) <= tol)
        & (F.abs(F.col("rank_a95") - (F.floor(F.lit(0.95) * (F.col("n") - 1)) + 1)) <= tol)
    )
    return out.select("event_type", "n", "q50", "q95", ok.alias("approx_ok"))


_APPROX_QUANTILE_SQL = """
WITH ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events WHERE value IS NOT NULL
)
SELECT event_type, CAST(max(n) AS BIGINT) AS n,
       round(max(CASE WHEN rn = CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1 THEN value END), 6) AS q50,
       round(max(CASE WHEN rn = CAST(floor(0.95 * (n - 1)) AS BIGINT) + 1 THEN value END), 6) AS q95,
       TRUE AS approx_ok
FROM ranked GROUP BY event_type
"""


# --- BPE merge learning ------------------------------------------------------
_BPE_MERGES = 6


def _text_bpe(spark: SparkSession, sf: str) -> DataFrame:
    """Learn 6 BPE merges over the documents vocabulary. One aggregate
    job per round, ONE row per round to the driver; the oracle replays
    every round as chained CTEs (same tie-break, same single-pass
    replace semantics — see extensions/bpe.py's determinism contract)."""
    from hadoop_0_20_2_ljx_spark.extensions.bpe import learn_bpe

    out, _ = learn_bpe(T(spark, sf, "documents"), "text", n_merges=_BPE_MERGES)
    return out


def _bpe_sql(n: int = _BPE_MERGES) -> str:
    words = words_sql("text")
    chars = "list_transform(range(1, length(w) + 1), i -> substring(w, i, 1))"
    parts = [
        f"""v0 AS (
  SELECT ' ' || array_to_string({chars}, ' ') || ' ' AS seq,
         CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest({words}) AS w FROM documents) GROUP BY 1
)"""
    ]
    selects = []
    for r in range(1, n + 1):
        parts.append(
            f"""p{r} AS (
  SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
    SELECT unnest(CASE WHEN len(syms) >= 2
      THEN list_transform(range(1, len(syms)), i -> syms[i] || ' ' || syms[i+1])
      ELSE [] END) AS pair, freq
    FROM (SELECT string_split(trim(seq), ' ') AS syms, freq FROM v{r-1})
  ) GROUP BY 1
),
b{r} AS (SELECT pair, cnt FROM p{r} ORDER BY cnt DESC, pair ASC LIMIT 1),
v{r} AS (
  SELECT replace(seq,
                 ' ' || (SELECT pair FROM b{r}) || ' ',
                 ' ' || (SELECT replace(pair, ' ', '') FROM b{r}) || ' ') AS seq,
         freq
  FROM v{r-1}
)"""
        )
        selects.append(
            f"SELECT {r} AS rank, pair, replace(pair, ' ', '') AS merged, cnt FROM b{r}"
        )
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL ".join(selects)


# --- BPE encoding: apply the learned merges to the corpus --------------------
def _text_bpe_encode(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenize the corpus with the learned BPE merges: apply each merge
    as a chained projection over the vocabulary (driver holds only the
    O(k) merge list) and report corpus-level token accounting — the
    before/after compression a tokenizer-training run reports."""
    from hadoop_0_20_2_ljx_spark.extensions.bpe import _chars, learn_bpe

    docs = T(spark, sf, "documents")
    _, merges = learn_bpe(docs, "text", n_merges=_BPE_MERGES)
    words = F.expr(textstats.tokens_sql("text"))
    vocab = (
        docs.select(F.explode(words).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            F.concat(F.lit(" "), F.array_join(_chars(F.col("w")), " "), F.lit(" ")).alias(
                "seq"
            ),
            "freq",
        )
    )
    seq = F.col("seq")
    for _, pair, _ in merges:
        seq = F.replace(seq, F.lit(f" {pair} "), F.lit(f" {pair.replace(' ', '')} "))
    encoded = vocab.select(
        seq.alias("seq"),
        "freq",
        F.size(F.split(F.trim(seq), " ")).cast("long").alias("n_sym"),
        (F.length(F.trim(F.col("seq"))) - F.size(F.split(F.trim(F.col("seq")), " ")) + 1)
        .cast("long")
        .alias("n_chars"),
    )
    return encoded.agg(
        F.count(F.lit(1)).cast("long").alias("n_vocab"),
        F.sum(F.col("n_chars") * F.col("freq")).cast("long").alias("n_char_tokens"),
        F.sum(F.col("n_sym") * F.col("freq")).cast("long").alias("n_bpe_tokens"),
        F.floor(
            F.lit(10000)
            * F.sum(F.col("n_sym") * F.col("freq"))
            / F.sum(F.col("n_chars") * F.col("freq"))
        )
        .cast("long")
        .alias("compression_bp"),
    )


def _bpe_encode_sql(n: int = _BPE_MERGES) -> str:
    # reuse the learning chain's CTEs, then aggregate the final vocab state
    chain = _bpe_sql(n)
    with_block = chain[: chain.rindex("\nSELECT 1 AS rank")]
    return (
        with_block
        + f"""
SELECT CAST(count(*) AS BIGINT) AS n_vocab,
       CAST(sum((length(trim(seq)) - len(string_split(trim(seq), ' ')) + 1) * freq) AS BIGINT) AS n_char_tokens,
       CAST(sum(len(string_split(trim(seq), ' ')) * freq) AS BIGINT) AS n_bpe_tokens,
       CAST(floor(10000.0 * sum(len(string_split(trim(seq), ' ')) * freq)
                  / sum((length(trim(seq)) - len(string_split(trim(seq), ' ')) + 1) * freq)) AS BIGINT) AS compression_bp
FROM v{n}
"""
    )


# --- rolling time-range window aggregate -------------------------------------
def _agg_rolling(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user rolling 1-hour aggregate at every event (RANGE frame over
    event time, not ROWS — peers at the same timestamp aggregate
    identically, so the result is tie-insensitive). One window shuffle on
    user_id; value sums kept integer (cent-scaled) for cross-engine
    exactness."""
    ev = T(spark, sf, "events").select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("t_us"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t_us")
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).cast("long").alias("n_events_1h"),
        F.sum("cents").over(w).cast("long").alias("cents_1h"),
    )


_ROLLING_SQL = """
SELECT event_id, user_id,
       CAST(count(*) OVER w AS BIGINT) AS n_events_1h,
       CAST(sum(cents) OVER w AS BIGINT) AS cents_1h
FROM (
  SELECT event_id, user_id, epoch_us(ts) AS t_us,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events
)
WINDOW w AS (PARTITION BY user_id ORDER BY t_us
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""


# --- PageRank (exact integer arithmetic) -------------------------------------
_PR_ITERS = 3


def pagerank_edges(spark: SparkSession, sf: str) -> DataFrame:
    """The bipartite user<->item edge set q_graph_pagerank runs on (item
    = the props JSON 'k', offset past the user-id range). Exposed so
    bench.py's instrumented pagerank row runs the IDENTICAL input."""
    ev = T(spark, sf, "events").select(
        F.col("user_id").alias("u"),
        (F.get_json_object(F.col("props"), "$.k").cast("long") + F.lit(1_000_000)).alias(
            "i"
        ),
    )
    return ev.select(F.col("u").alias("src"), F.col("i").alias("dst")).unionByName(
        ev.select(F.col("i").alias("src"), F.col("u").alias("dst"))
    )


def _graph_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """PageRank over the bipartite user<->item graph from events (item =
    the props JSON 'k'), 3 rounds of scaled-integer updates — integer
    sums are order-independent, so the ranks hash-match DuckDB exactly
    (float PageRank never would). Returns the item-side ranks."""
    from hadoop_0_20_2_ljx_spark.extensions.graph import pagerank_int

    pr = pagerank_int(pagerank_edges(spark, sf), "src", "dst", iterations=_PR_ITERS)
    return pr.where(F.col("node") >= 1_000_000).select(
        (F.col("node") - 1_000_000).alias("item"), F.col("rank").alias("rank_scaled")
    )


def _pagerank_sql(iters: int = _PR_ITERS) -> str:
    parts = [
        """e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT user_id AS src,
           CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) + 1000000 AS dst
    FROM events
    UNION ALL
    SELECT CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) + 1000000,
           user_id
    FROM events
  )
),
nodes AS (SELECT DISTINCT src AS node FROM e UNION SELECT DISTINCT dst FROM e),
outdeg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS rank FROM nodes)"""
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"""inflow{t} AS (
  SELECT e.dst, CAST(sum(r.rank // d.deg) AS BIGINT) AS inflow
  FROM e JOIN r{t-1} r ON e.src = r.node JOIN outdeg d ON e.src = d.src
  GROUP BY 1
),
r{t} AS (
  SELECT n.node,
         CAST(150000000 + (85 * coalesce(i.inflow, 0)) // 100 AS BIGINT) AS rank
  FROM nodes n LEFT JOIN inflow{t} i ON n.node = i.dst
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT node - 1000000 AS item, rank AS rank_scaled FROM r{iters} WHERE node >= 1000000"
    )


# --- triangle counting (degree-oriented) -------------------------------------
def _graph_triangles(spark: SparkSession, sf: str) -> DataFrame:
    """Per-node triangle counts on the part<->supplier co-occurrence
    graph (node ids folded mod 300, edges deterministically thinned to
    ~20% so the synthetic graph is SPARSE — folding alone yields a
    near-complete graph whose wedge count is O(n^3), which benchmarks
    the fixture, not the operator).
    Engine side orients edges by (degree, id) — O(m^1.5) wedge bound,
    the scale-critical trick (extensions/graph.py triangle_counts); the
    triangle SET is orientation-independent, so the oracle replays with
    plain id-ordering and hash-matches."""
    from hadoop_0_20_2_ljx_spark.extensions.graph import triangle_counts

    li = (
        T(spark, sf, "lineitem")
        .where((F.col("l_partkey") + 3 * F.col("l_suppkey")) % 10 < 2)
        .select(
            (F.col("l_partkey") % 300).alias("src"),
            (F.col("l_suppkey") % 300).alias("dst"),
        )
    )
    return triangle_counts(li, "src", "dst")


_TRIANGLES_SQL = """
WITH raw AS (SELECT l_partkey % 300 AS a, l_suppkey % 300 AS b FROM lineitem
             WHERE (l_partkey + 3 * l_suppkey) % 10 < 2),
e AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM raw WHERE a <> b),
tri AS (
  SELECT e1.u AS x, e1.v AS y, e2.v AS z
  FROM e e1 JOIN e e2 ON e2.u = e1.v
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
),
pn AS (
  SELECT x AS node FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
)
SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM pn GROUP BY 1
"""


# --- semantic dedup (SemDeDup shape): kmeans blocking + in-cluster cosine ----
_SEM_K, _SEM_DIM, _SEM_THR = 8, 64, 0.2


def _dedup_semantic(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup-style semantic dedup: cluster the embeddings (one Lloyd
    assignment from a fixed seed), then pair only WITHIN a cluster and
    keep pairs above a cosine threshold. At 100 TB k grows with n so the
    per-cluster pair cost n²/k stays bounded — the published SemDeDup
    recipe; the sign-LSH variant (q_dedup_embed) is the alternative
    blocking for the same job."""
    from hadoop_0_20_2_ljx_spark.extensions import clustering

    emb = T(spark, sf, "embeddings")
    init_rows = emb.filter(F.col("vec_id") < _SEM_K).select("vec_id", "embedding").collect()
    init = {int(r["vec_id"]): [float(x) for x in r["embedding"]] for r in init_rows}
    assigned = clustering.assign_clusters(emb, "embedding", init)
    a = assigned.select(
        F.col("vec_id"), F.col("cluster"), F.col("embedding").cast("array<double>").alias("v")
    )
    l, r = a.alias("l"), a.alias("r")
    cos = F.expr(cos_sql("l.v", "r.v"))
    return (
        l.join(
            r,
            on=[
                F.col("l.cluster") == F.col("r.cluster"),
                F.col("l.vec_id") < F.col("r.vec_id"),
            ],
        )
        .where(cos >= F.lit(_SEM_THR))
        .select(
            F.col("l.vec_id").alias("id_a"),
            F.col("r.vec_id").alias("id_b"),
            F.col("l.cluster").alias("cluster"),
            F.round(cos, 6).alias("cos"),
        )
    )


def _semantic_sql() -> str:
    dist = (
        f"list_sum(list_transform(generate_series(1, {_SEM_DIM}), "
        "i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])))"
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c0 AS (SELECT CAST(vec_id AS INTEGER) AS cluster, v AS cv FROM e WHERE vec_id < {_SEM_K}),
a1 AS (
  SELECT vec_id, v, cluster FROM (
    SELECT e.vec_id, e.v, c.cluster,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {dist}, c.cluster) AS rn
    FROM e CROSS JOIN c0 c
  ) WHERE rn = 1
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cluster,
       round(list_inner_product(a.v, b.v) /
         (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))), 6) AS cos
FROM a1 a JOIN a1 b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
WHERE list_inner_product(a.v, b.v) /
      (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))) >= {_SEM_THR}
"""


# --- curation funnel accounting ----------------------------------------------
def _pipeline_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Per-stage survivor accounting for the curation cascade (the ops
    dashboard every production pipeline reports): exact dedup -> length
    gate -> blocklist -> decontamination. ONE scan plus two bounded
    shuffles (dedup winners, contamination gram join); counts come from
    conditional sums over row flags, not one job per stage."""
    from hadoop_0_20_2_ljx_spark.extensions import pipeline_ops

    docs = T(spark, sf, "documents")
    # md5 of the text as the dedup shuffle/join key — 32 bytes per row at
    # any document size, same posture as keep_best_dedup
    winners = docs.groupBy(F.md5("text").alias("_k")).agg(
        F.min("doc_id").alias("w_id")
    )
    bench_grams = (
        docs.where(F.col("doc_id") % 97 == 0)
        .select(F.explode(F.array_distinct(pipeline_ops.word_ngrams("text", 8))).alias("gram"))
        .distinct()
    )
    doc_grams = docs.select(
        "doc_id",
        F.explode(F.array_distinct(pipeline_ops.word_ngrams("text", 8))).alias("gram"),
    )
    contaminated = (
        doc_grams.join(bench_grams, "gram").select("doc_id").distinct()
        .withColumn("_cont", F.lit(1))
    )
    toks = F.expr(textstats.tokens_sql("text"))
    flags = (
        docs.withColumn("_k", F.md5("text"))
        .join(winners, "_k")
        .join(contaminated, "doc_id", "left")
        .select(
            (F.col("doc_id") == F.col("w_id")).alias("is_winner"),
            F.length("text").between(60, 10000).alias("len_ok"),
            (
                ~F.col("source").isin(*_BLOCKED_SOURCES)
                & ~F.arrays_overlap(toks, F.array(*[F.lit(t) for t in _BLOCKED_TERMS]))
            ).alias("block_ok"),
            F.col("_cont").isNull().alias("clean"),
        )
    )
    w = F.col("is_winner").cast("long")
    return flags.agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum(w).cast("long").alias("n_after_dedup"),
        F.sum(w * F.col("len_ok").cast("long")).cast("long").alias("n_after_len"),
        F.sum(w * (F.col("len_ok") & F.col("block_ok")).cast("long"))
        .cast("long")
        .alias("n_after_block"),
        F.sum(
            w * (F.col("len_ok") & F.col("block_ok") & F.col("clean")).cast("long")
        )
        .cast("long")
        .alias("n_after_decontam"),
    )


def _funnel_sql() -> str:
    grams = ngrams_sql(words_sql("lower(text)"), 8)
    return f"""
WITH winners AS (SELECT md5(text) AS k, min(doc_id) AS w_id FROM documents GROUP BY 1),
bg AS (
  SELECT DISTINCT unnest({grams}) AS gram FROM documents WHERE doc_id % 97 = 0
),
dg AS (
  SELECT doc_id, unnest({grams}) AS gram FROM documents
),
cont AS (SELECT DISTINCT dg.doc_id FROM dg JOIN bg USING (gram)),
flags AS (
  SELECT (d.doc_id = w.w_id) AS is_winner,
         length(d.text) BETWEEN 60 AND 10000 AS len_ok,
         (d.source NOT IN ('{_BLOCKED_SOURCES[0]}', '{_BLOCKED_SOURCES[1]}')
          AND NOT list_has_any({words_sql("d.text")},
                               ['{_BLOCKED_TERMS[0]}', '{_BLOCKED_TERMS[1]}'])) AS block_ok,
         (c.doc_id IS NULL) AS clean
  FROM documents d JOIN winners w ON md5(d.text) = w.k
  LEFT JOIN cont c ON d.doc_id = c.doc_id
)
SELECT CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN is_winner THEN 1 ELSE 0 END) AS BIGINT) AS n_after_dedup,
       CAST(sum(CASE WHEN is_winner AND len_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_after_len,
       CAST(sum(CASE WHEN is_winner AND len_ok AND block_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_after_block,
       CAST(sum(CASE WHEN is_winner AND len_ok AND block_ok AND clean THEN 1 ELSE 0 END) AS BIGINT) AS n_after_decontam
FROM flags
"""


# --- minhash Jaccard estimate vs exact (the sketch's ESTIMATION side) --------
def _dedup_jaccard_est(spark: SparkSession, sf: str) -> DataFrame:
    """For every LSH candidate pair, the minhash Jaccard ESTIMATE
    (matching signature components / 16) next to the exact shingle-set
    Jaccard — the estimation contract of the sketch, both in integer
    basis points so the comparison is bit-exact cross-engine. Two empty
    shingle sets (short docs, sentinel signature) are defined identical
    (10000 bp)."""
    docs = T(spark, sf, "documents")
    sigs = dedup.minhash_signatures_relational(docs, "doc_id", "text", 16, 3)
    sig_arr = F.array(*[F.col(f"h{s}") for s in range(16)])
    shingles = docs.select(
        F.col("doc_id").alias("doc"), F.expr(dedup.word_shingles_sql("text", 3)).alias("sh")
    )
    # materialize the signature table ONCE: it feeds three consumers
    # (pair side A, pair side B, band buckets) whose differing projections
    # defeat exchange reuse — without the checkpoint the corpus was
    # re-tokenized six times in one plan (6 parquet scans -> 2).
    sig_tbl = sigs.transform(pin)
    feats = sig_tbl.select("doc", sig_arr.alias("sig")).join(shingles, "doc")
    banded = dedup.band_buckets_from_signatures(sig_tbl, 16, 4)
    pairs = dedup.lsh_pairs_from_buckets(banded)
    a = feats.select(
        F.col("doc").alias("doc_a"), F.col("sig").alias("sig_a"), F.col("sh").alias("sh_a")
    )
    b = feats.select(
        F.col("doc").alias("doc_b"), F.col("sig").alias("sig_b"), F.col("sh").alias("sh_b")
    )
    j = pairs.join(a, "doc_a").join(b, "doc_b")
    matches = F.expr(
        zip_sum_sql("sig_a", "sig_b", "CASE WHEN x = y THEN 1 ELSE 0 END", "0")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    uni = F.size(F.array_union("sh_a", "sh_b"))
    return j.select(
        "doc_a",
        "doc_b",
        F.floor(F.lit(10000) * matches / F.lit(16)).cast("long").alias("est_bp"),
        F.when(uni == 0, F.lit(10000))
        .otherwise(F.floor(F.lit(10000) * inter / uni))
        .cast("long")
        .alias("jaccard_bp"),
    )


def _jaccard_est_sql() -> str:
    words = words_sql("text")
    sh = shingles_sql(words, 3)
    sig_elem = minhash_sig_elem_sql()
    bucket = h32_sql(
        "array_to_string(list_transform(sig[b*4+1:b*4+4], v -> CAST(v AS VARCHAR)), ',')"
    )
    return f"""
WITH feats AS (
  SELECT doc_id, sh, list_transform(range(16), s -> {sig_elem}) AS sig
  FROM (SELECT doc_id, {sh} AS sh FROM documents)
),
bands AS (
  SELECT doc_id, b, {bucket} AS bucket
  FROM feats, (SELECT unnest(range(4)) AS b)
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.b = b.b AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT p.doc_a, p.doc_b,
  CAST(floor(10000 * len(list_filter(range(16), i -> fa.sig[i+1] = fb.sig[i+1])) / 16) AS BIGINT) AS est_bp,
  CAST(CASE WHEN len(list_distinct(fa.sh || fb.sh)) = 0 THEN 10000
       ELSE floor(10000 * len(list_intersect(fa.sh, fb.sh)) / len(list_distinct(fa.sh || fb.sh)))
       END AS BIGINT) AS jaccard_bp
FROM pairs p
JOIN feats fa ON p.doc_a = fa.doc_id
JOIN feats fb ON p.doc_b = fb.doc_id
"""


# --- cohort retention matrix -------------------------------------------------
def _agg_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort retention: users cohorted by first-activity week, counted
    distinct per (cohort_week, week_offset) — the standard engagement
    matrix. Two shuffles (per-user min, then the distinct matrix);
    weeks are integer epoch-day divisions, no calendar ambiguity."""
    ev = T(spark, sf, "events").select(
        "user_id", (F.unix_micros("ts") / F.lit(86_400_000_000)).cast("long").alias("day")
    )
    first = ev.groupBy("user_id").agg(F.min("day").alias("first_day"))
    joined = ev.join(first, "user_id").select(
        "user_id",
        F.floor(F.col("first_day") / 7).cast("long").alias("cohort_week"),
        (F.floor(F.col("day") / 7) - F.floor(F.col("first_day") / 7))
        .cast("long")
        .alias("week_offset"),
    )
    return joined.distinct().groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )


_RETENTION_SQL = """
WITH ev AS (
  SELECT user_id, CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day FROM events
),
first AS (SELECT user_id, min(day) AS first_day FROM ev GROUP BY 1),
m AS (
  SELECT DISTINCT ev.user_id,
         CAST(floor(first.first_day / 7) AS BIGINT) AS cohort_week,
         CAST(floor(ev.day / 7) - floor(first.first_day / 7) AS BIGINT) AS week_offset
  FROM ev JOIN first USING (user_id)
)
SELECT cohort_week, week_offset, CAST(count(*) AS BIGINT) AS n_users
FROM m GROUP BY 1, 2
"""


# --- event-sequence conversion funnel ----------------------------------------
def _agg_conversion(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered conversion funnel: view -> later click -> later purchase
    per user, counted as strictly-increasing timestamps. Three bounded
    aggregate+join rounds (each output is one row per user), never a
    per-user sort of the full event log in the driver."""
    ev = T(spark, sf, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("t")
    )
    # each stage table (one row per user) feeds the next stage AND the
    # final report join; pin them once or every consumer re-scans events
    # (6 source scans collapse to the funnel's inherent 3)
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("t").alias("t_view"))
        .transform(pin)
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("t") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("t").alias("t_click"))
        .transform(pin)
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("t") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("t").alias("t_purchase"))
    )
    n_users = ev.select("user_id").distinct().count()
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .agg(
            F.lit(n_users).cast("long").alias("n_users"),
            F.count(F.lit(1)).cast("long").alias("n_viewed"),
            F.count("t_click").cast("long").alias("n_clicked_after"),
            F.count("t_purchase").cast("long").alias("n_purchased_after"),
        )
    )


_CONVERSION_SQL = """
WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
v AS (SELECT user_id, min(t) AS t_view FROM ev WHERE event_type = 'view' GROUP BY 1),
c AS (
  SELECT ev.user_id, min(ev.t) AS t_click
  FROM ev JOIN v USING (user_id)
  WHERE ev.event_type = 'click' AND ev.t > v.t_view GROUP BY 1
),
p AS (
  SELECT ev.user_id, min(ev.t) AS t_purchase
  FROM ev JOIN c USING (user_id)
  WHERE ev.event_type = 'purchase' AND ev.t > c.t_click GROUP BY 1
)
SELECT (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM ev) AS n_users,
       CAST(count(*) AS BIGINT) AS n_viewed,
       CAST(count(c.t_click) AS BIGINT) AS n_clicked_after,
       CAST(count(p.t_purchase) AS BIGINT) AS n_purchased_after
FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
"""


QUERIES: dict[str, QueryDef] = {
    "q_dedup_jaccard_est": QueryDef(
        _dedup_jaccard_est,
        _jaccard_est_sql(),
        "minhash Jaccard estimate vs exact shingle Jaccard per candidate "
        "pair, integer basis points",
    ),
    "q_agg_retention": QueryDef(
        _agg_retention,
        _RETENTION_SQL,
        "cohort retention matrix: first-activity-week cohorts x week "
        "offset, distinct users",
    ),
    "q_agg_conversion": QueryDef(
        _agg_conversion,
        _CONVERSION_SQL,
        "ordered view->click->purchase conversion funnel, three bounded "
        "aggregate rounds",
    ),
    "q_text_bpe": QueryDef(
        _text_bpe,
        _bpe_sql(),
        "distributed BPE merge learning: one TakeOrdered aggregate per "
        "round, oracle replays every round as chained CTEs",
    ),
    "q_dedup_semantic": QueryDef(
        _dedup_semantic,
        _semantic_sql(),
        "SemDeDup-style semantic dedup: kmeans blocking + in-cluster "
        "cosine pairs; per-cluster pair cost n^2/k",
    ),
    "q_pipeline_funnel": QueryDef(
        _pipeline_funnel,
        _funnel_sql(),
        "curation funnel accounting: per-stage survivor counts from one "
        "scan of row flags (dedup -> length -> blocklist -> decontam)",
    ),
    "q_text_bpe_encode": QueryDef(
        _text_bpe_encode,
        _bpe_encode_sql(),
        "apply learned BPE merges to the corpus vocabulary; before/after "
        "token accounting, oracle replays learn+encode end to end",
    ),
    "q_agg_rolling": QueryDef(
        _agg_rolling,
        _ROLLING_SQL,
        "per-user rolling 1-hour RANGE-frame aggregate (tie-insensitive, "
        "integer-cent sums)",
    ),
    "q_graph_triangles": QueryDef(
        _graph_triangles,
        _TRIANGLES_SQL,
        "degree-oriented triangle counting (O(m^1.5) wedge bound); oracle "
        "replays with id-ordering — same triangle set",
    ),
    "q_graph_pagerank": QueryDef(
        _graph_pagerank,
        _pagerank_sql(),
        "iterative PageRank in scaled-integer arithmetic (order-independent "
        "sums -> bit-exact cross-engine); bipartite user-item graph",
    ),
    "q_dedup_canonical": QueryDef(
        _dedup_canonical,
        _CANONICAL_SQL,
        "canonicalizing keep-best dedup: normalized-text groups, max(struct) "
        "winner — one shuffle, no window sort",
    ),
    "q_dedup_paragraph": QueryDef(
        _dedup_paragraph,
        _paragraph_sql(),
        "C4-style chunk-level dedup: global first occurrence per distinct "
        "10-word chunk, content-hash-verified reassembly",
    ),
    "q_dedup_incremental": QueryDef(
        _dedup_incremental,
        _incremental_sql(),
        "incremental LSH dedup: new batch vs historical index, never "
        "index x index",
    ),
    "q_filter_blocklist": QueryDef(
        _filter_blocklist,
        _BLOCKLIST_SQL,
        "deny-list filtering: broadcast anti-join on sources + blocked-term "
        "scan, per-source funnel accounting",
    ),
    "q_agg_approx_quantile": QueryDef(
        _approx_quantile,
        _APPROX_QUANTILE_SQL,
        "approximate quantile sketch under a rank-error oracle gate; exact "
        "element-at-rank quantiles hash-matched",
    ),
}


# --- weighted sampling (deterministic priority sampling) ---------------------
_WS_K = 5


def _sample_weighted(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source weighted sample of k docs, weight = n_chars: priority
    sampling (Duffield/Lund/Thorup) with priority h/w — h a portable
    md5-derived 60-bit integer, so selection probability rises with
    weight while the draw stays fully deterministic (retry- and
    partitioning-invariant; a rand()-seeded sampler is neither).

    Cross-engine exactness: priority is CAST(h AS DOUBLE)/w — IEEE
    division of identical operands is bit-exact in both engines, unlike
    the pow/log transforms of A-ES reservoir keys (libm-dependent last
    ulp could flip a rank). Shape: one window shuffle on source; top-k
    per group, never a global sort.

    NULL contract (r10 pin): a doc with NULL weight has an UNDEFINED
    priority and is excluded before ranking (the order-stat exclusion
    contract, queries/base.py) — otherwise the engines' opposite null
    orderings would rank it first (Spark) vs last (DuckDB). A NULL
    source keeps its own partition (GROUP BY/PARTITION BY keep null
    groups on both engines)."""
    docs = T(spark, sf, "documents").where(F.col("n_chars").isNotNull())
    pri = F.expr(
        md5_int_sql("concat('ws:', CAST(doc_id AS STRING))", 15)
    ).cast("double") / F.col("n_chars")
    w = Window.partitionBy("source").orderBy(F.col("_pri").asc(), F.col("doc_id").asc())
    return (
        docs.select("source", "doc_id", "n_chars", pri.alias("_pri"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= _WS_K)
        .select("source", "doc_id", "n_chars", "rank")
    )


_WEIGHTED_SQL = f"""
WITH p AS (
  SELECT source, doc_id, n_chars,
         CAST({h64_sql("'ws:' || CAST(doc_id AS VARCHAR)")} AS DOUBLE) / n_chars AS pri
  FROM documents WHERE n_chars IS NOT NULL
), r AS (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY pri, doc_id) AS rn
  FROM p
)
SELECT source, doc_id, n_chars, CAST(rn AS BIGINT) AS rank FROM r WHERE rn <= {_WS_K}
"""

QUERIES["q_sample_weighted"] = QueryDef(
    _sample_weighted,
    _WEIGHTED_SQL,
    "deterministic weighted (priority) sampling per group — md5-derived "
    "priorities, IEEE-exact h/w keys, per-group top-k window",
)


# --- k-core peeling ----------------------------------------------------------
_KCORE_K, _KCORE_ROUNDS = 2, 6


def _graph_kcore(spark: SparkSession, sf: str) -> DataFrame:
    """Bounded k-core peeling over the same thinned part<->supplier
    graph as q_graph_triangles: 6 rounds of drop-degree-<2, returning
    survivors with their in-core degree and a converged flag — both
    replayed exactly by the oracle's finite CTE chain
    (extensions/graph.py kcore_peel)."""
    from hadoop_0_20_2_ljx_spark.extensions.graph import kcore_peel

    li = (
        T(spark, sf, "lineitem")
        .where((F.col("l_partkey") + 3 * F.col("l_suppkey")) % 10 < 2)
        .select(
            (F.col("l_partkey") % 300).alias("src"),
            (F.col("l_suppkey") % 300).alias("dst"),
        )
    )
    return kcore_peel(li, "src", "dst", k=_KCORE_K, rounds=_KCORE_ROUNDS)


def _kcore_sql(k: int = _KCORE_K, rounds: int = _KCORE_ROUNDS) -> str:
    parts = [
        """e0 AS MATERIALIZED (
  SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM (
    SELECT l_partkey % 300 AS a, l_suppkey % 300 AS b FROM lineitem
    WHERE (l_partkey + 3 * l_suppkey) % 10 < 2
  ) WHERE a <> b
),
d0 AS MATERIALIZED (SELECT n, CAST(count(*) AS BIGINT) AS deg FROM (
  SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0) GROUP BY 1)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""a{r} AS MATERIALIZED (SELECT n FROM d{r-1} WHERE deg >= {k}),
e{r} AS MATERIALIZED (SELECT e.u, e.v FROM e{r-1} e
         JOIN a{r} x ON e.u = x.n JOIN a{r} y ON e.v = y.n),
d{r} AS MATERIALIZED (SELECT n, CAST(count(*) AS BIGINT) AS deg FROM (
  SELECT u AS n FROM e{r} UNION ALL SELECT v FROM e{r}) GROUP BY 1)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT n AS node, deg,
       (SELECT count(*) FROM d{rounds} WHERE deg >= {k}) =
       (SELECT count(*) FROM a{rounds}) AS converged
FROM d{rounds} WHERE deg >= {k}"""
    )


QUERIES["q_graph_kcore"] = QueryDef(
    _graph_kcore,
    _kcore_sql(),
    "bounded k-core peeling (6 rounds, k=2) with a replayed converged "
    "flag; per-round edge filter is two equi-joins + a degree partial agg",
)


# --- group-aware (leakage-safe) train/val/test split -------------------------
def _sample_group_split(spark: SparkSession, sf: str) -> DataFrame:
    """Leakage-safe dataset split: assign every event to train/val/test
    by hashing its GROUP key (user_id), never the row — all of a user's
    rows land in exactly one split, so near-duplicate rows from the same
    user can never straddle the train/test boundary (the contamination
    vector a row-wise random split creates). Deterministic md5 buckets
    (functions/portable.py) make the assignment retry/partition-invariant
    AND cross-engine exact — a rand()-based splitter re-deals rows on
    task retry. The query also PROVES the no-straddle property
    relationally (straddling_groups must be 0) instead of asserting it
    in prose.

    Scale: one projection + two partial aggregates; the heavy
    countDistinct is per split (3 groups). Reference analog: the MD5
    sampling filter (mapred/SequenceFileInputFilter.java:195) applied
    per-key rather than per-record."""
    ev = T(spark, sf, "events")
    bucket = F.expr(md5_int_sql("user_id", 8)) % 100
    split = (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    tagged = ev.select(F.col("user_id"), F.col("event_id"), split.alias("split"))
    per_split = tagged.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.sum(F.col("event_id") % 1000003).cast("long").alias("id_hash_sum"),
    )
    straddle = (
        tagged.groupBy("user_id")
        .agg(F.countDistinct("split").alias("_k"))
        .agg(F.sum((F.col("_k") > 1).cast("long")).cast("long").alias("straddling_groups"))
    )
    return per_split.join(F.broadcast(straddle))


_GROUP_SPLIT_SQL = f"""
WITH tagged AS (
  SELECT user_id, event_id,
         CASE WHEN {h32_sql("user_id")} % 100 < 80 THEN 'train'
              WHEN {h32_sql("user_id")} % 100 < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM events
), per_split AS (
  SELECT split, CAST(count(*) AS BIGINT) AS n_events,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
         CAST(sum(event_id % 1000003) AS BIGINT) AS id_hash_sum
  FROM tagged GROUP BY 1
), straddle AS (
  SELECT CAST(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT) AS straddling_groups
  FROM (SELECT user_id, count(DISTINCT split) AS k FROM tagged GROUP BY 1)
)
SELECT * FROM per_split CROSS JOIN straddle
"""

QUERIES["q_sample_group_split"] = QueryDef(
    _sample_group_split,
    _GROUP_SPLIT_SQL,
    "group-aware leakage-safe train/val/test split: md5 bucket of the "
    "GROUP key (never the row), no-straddle property proven relationally",
)


# --- per-domain quota cap (round 6) ------------------------------------------
_CAP_QUOTA = 15


def _sample_domain_cap(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source document cap: keep at most 15 docs per source,
    preferring the longest (n_chars desc, doc_id tiebreak) — the
    per-domain/per-host cap of web-corpus curation, where one unbounded
    host would otherwise dominate the training mix. The rank<=quota
    filter plans as a WindowGroupLimit (map-side per-group top-k BEFORE
    the exchange), so a billion-row domain ships only quota rows per
    input partition — plan-pinned in tests/test_pipeline_ops.py."""
    from hadoop_0_20_2_ljx_spark.extensions import pipeline_ops

    docs = T(spark, sf, "documents").select("doc_id", "source", "n_chars")
    capped = pipeline_ops.cap_per_group(
        docs, "source", [F.col("n_chars").desc(), F.col("doc_id")], _CAP_QUOTA
    )
    return capped.select(
        "doc_id", "source", F.col("rk").cast("long").alias("rk")
    )


_DOMAIN_CAP_SQL = f"""
SELECT doc_id, source, CAST(rk AS BIGINT) AS rk FROM (
  SELECT doc_id, source,
    row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk
  FROM documents)
WHERE rk <= {_CAP_QUOTA}
"""

QUERIES["q_sample_domain_cap"] = QueryDef(
    _sample_domain_cap,
    _DOMAIN_CAP_SQL,
    "per-domain quota cap (keep best 15 per source): WindowGroupLimit "
    "map-side top-k, the web-corpus per-host cap",
)


# --- global token-budget selection (round 6) ---------------------------------
_TOKEN_BUDGET = 5000


def _sample_token_budget(spark: SparkSession, sf: str) -> DataFrame:
    """Best-first corpus cut under a global token budget: rank docs by
    quality (desc, doc_id tiebreak), keep the prefix whose token total
    first reaches 5000 — "give me the top N tokens of the corpus", the
    deterministic sizing cut for a training mix. One range-partition
    prefix-sum pass (two-pass offsets, driver sees O(partitions) rows);
    the ordering key is the ROUNDED quality score, which q_text_quality
    already proves bit-identical cross-engine."""
    from hadoop_0_20_2_ljx_spark.extensions import pipeline_ops

    # ONE projection computes both features — never a per-feature
    # self-join back on doc_id (that costs a second corpus scan + an
    # extra shuffle at 100 TB)
    scored = T(spark, sf, "documents").select(
        "doc_id",
        F.size(F.expr(textstats.tokens_sql("text"))).cast("long").alias("n_tokens"),
        textstats.quality_expr("text").alias("quality"),
    )
    sel = pipeline_ops.select_token_budget(
        scored,
        "n_tokens",
        [F.col("quality").desc(), F.col("doc_id")],
        _TOKEN_BUDGET,
    )
    return sel.select("doc_id", "n_tokens", "cum_before")


def _token_budget_sql() -> str:
    words = words_sql("text")
    return f"""
WITH scored AS (
  SELECT doc_id, CAST(len({words}) AS BIGINT) AS n_tokens,
         {quality_expr_sql()} AS q
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
    CAST(coalesce(sum(n_tokens) OVER (ORDER BY q DESC, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
  FROM scored
)
SELECT doc_id, n_tokens, cum_before FROM c WHERE cum_before < {_TOKEN_BUDGET}
"""

QUERIES["q_sample_token_budget"] = QueryDef(
    _sample_token_budget,
    _token_budget_sql(),
    "global token-budget curation cut: quality-ranked prefix whose token "
    "total reaches the budget; two-pass range-partition prefix sum",
)


# --- corpus source-similarity matrix (round 6) -------------------------------
def _corpus_source_sim(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash-estimated vs exact Jaccard between every pair of SOURCES'
    shingle-set unions — the merge-worthiness report run before doc-level
    dedup of two crawls. min commutes with union, so the per-source
    signature is one map-side-partial agg over per-shingle hashes; the
    exact side is a shingle-vocabulary equi-join (never doc x doc)."""
    return dedup.group_similarity_matrix(
        T(spark, sf, "documents"), "source", "text", num_hashes=16, shingle_k=3
    )


def _source_sim_sql() -> str:
    words = words_sql("text")
    sh = shingles_sql(words, 3)
    v = h64_sql("g")
    return f"""
WITH gs AS (
  SELECT DISTINCT source AS grp, g FROM (
    SELECT source, unnest(CASE WHEN len(sh) = 0 THEN [''] ELSE sh END) AS g
    FROM (SELECT source, {sh} AS sh FROM documents))
),
hv AS (SELECT grp, {v} AS v FROM gs),
sigs AS (
  SELECT grp, s, min(((v >> 30) + s * (v & 1073741823)) % 1073741824) AS h
  FROM hv, (SELECT unnest(range(16)) AS s)
  GROUP BY grp, s
),
m AS (
  SELECT sa.grp AS ga, sb.grp AS gb,
         sum(CASE WHEN sa.h = sb.h THEN 1 ELSE 0 END) AS matches
  FROM sigs sa JOIN sigs sb ON sa.s = sb.s AND sa.grp < sb.grp
  GROUP BY 1, 2
),
inter AS (
  SELECT a.grp AS ga, b.grp AS gb, count(*) AS ni
  FROM gs a JOIN gs b ON a.g = b.g AND a.grp < b.grp
  GROUP BY 1, 2
),
sizes AS (SELECT grp, count(*) AS n FROM gs GROUP BY grp)
SELECT m.ga AS source_a, m.gb AS source_b,
  CAST(floor(10000 * m.matches / 16) AS BIGINT) AS est_bp,
  CAST(floor(10000 * coalesce(i.ni, 0) / (sa.n + sb.n - coalesce(i.ni, 0))) AS BIGINT) AS jaccard_bp
FROM m
LEFT JOIN inter i ON m.ga = i.ga AND m.gb = i.gb
JOIN sizes sa ON sa.grp = m.ga
JOIN sizes sb ON sb.grp = m.gb
"""

QUERIES["q_corpus_source_sim"] = QueryDef(
    _corpus_source_sim,
    _source_sim_sql(),
    "corpus-level source-similarity matrix: per-source MinHash signature "
    "(min commutes with union) estimate next to exact vocabulary-join "
    "Jaccard, all pairs incl. zero-overlap, integer basis points",
)


# --- span-removal decontamination (round 6) -----------------------------------
def _text_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Span-REMOVAL decontamination, the remediation step after
    q_text_contamination's detection: same synthetic eval suite
    (doc_id % 97 == 0), but matching 4-gram spans are CUT from the
    training docs and the cleaned text is returned. Result rows are the
    contaminated docs only (clean docs pass the operator untouched and
    would bloat the result); the full clean text enters the hash so the
    exact surviving token sequence — order, overlap composition, total
    removal — is what the oracle certifies."""
    from hadoop_0_20_2_ljx_spark.extensions import pipeline_ops

    docs = T(spark, sf, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    out = pipeline_ops.decontaminate_spans(
        train, bench, "doc_id", "text", n=_DECON_N
    )
    return out.where(F.col("n_tokens_after") < F.col("n_tokens_before"))


_DECON_N = 4  # 8-gram overlap vanishes below sf0.1; 4-grams hit at every SF


def _decontaminate_sql(n: int = 4) -> str:
    w = words_sql("lower(text)")
    return f"""
WITH docs AS (SELECT doc_id, {w} AS w FROM documents),
tg AS (
  SELECT doc_id, pos, array_to_string(w[pos+1:pos+{n}], ' ') AS gram
  FROM (SELECT doc_id, w, unnest(range(0, len(w) - {n-1})) AS pos
        FROM docs WHERE len(w) >= {n})
),
bench AS (SELECT DISTINCT gram FROM tg WHERE doc_id % 97 = 0),
hits AS (
  SELECT t.doc_id, t.pos FROM tg t JOIN bench b USING (gram)
  WHERE t.doc_id % 97 <> 0
),
words_i AS (
  SELECT doc_id, unnest(w) AS word, unnest(range(0, len(w))) AS wi
  FROM docs WHERE doc_id % 97 <> 0
),
kept AS (
  SELECT x.doc_id, x.wi, x.word
  FROM words_i x
  WHERE EXISTS (SELECT 1 FROM hits h WHERE h.doc_id = x.doc_id)
    AND NOT EXISTS (SELECT 1 FROM hits h
                    WHERE h.doc_id = x.doc_id
                      AND x.wi BETWEEN h.pos AND h.pos + {n-1})
)
SELECT c.doc_id,
  CAST(c.nb AS BIGINT) AS n_tokens_before,
  CAST(coalesce(k.na, 0) AS BIGINT) AS n_tokens_after,
  coalesce(k.txt, '') AS clean_text
FROM (SELECT d.doc_id, len(d.w) AS nb FROM docs d
      WHERE EXISTS (SELECT 1 FROM hits h WHERE h.doc_id = d.doc_id)) c
LEFT JOIN (SELECT doc_id, count(*) AS na,
                  string_agg(word, ' ' ORDER BY wi) AS txt
           FROM kept GROUP BY doc_id) k USING (doc_id)
"""


QUERIES["q_text_decontaminate"] = QueryDef(
    _text_decontaminate,
    _decontaminate_sql(_DECON_N),
    "span-removal decontamination: benchmark 4-gram hit spans cut from "
    "training docs, overlap-composed; rewrite join touches only "
    "contaminated docs",
)


# --- per-source dataset card (round 6) ----------------------------------------
def _corpus_dataset_card(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source dataset card: the one-scan corpus datasheet (doc/word/
    char volumes, char range, language spread, punctuation + stopword
    density, length-plausibility rate) a curation run publishes per
    source before mixing. ONE projection computes every per-doc feature
    (never a per-feature self-join) and one partial-agg shuffle of
    O(sources) groups rolls it up; ratio fields are integer basis points
    (BIGINT DIV) so the card is bit-stable cross-engine."""

    t = F.col("text")
    toks = F.expr(textstats.tokens_sql("text"))
    per = T(spark, sf, "documents").select(
        "source",
        "lang",
        F.size(toks).cast("long").alias("nw"),
        F.length(t).cast("long").alias("nc"),
        F.size(F.regexp_extract_all(t, F.lit(r"[^A-Za-z0-9\s]"), 0))
        .cast("long")
        .alias("np"),
        F.size(F.filter(toks, lambda x: F.lower(x).isin("the", "a", "of", "and")))
        .cast("long")
        .alias("ns"),
        ((F.length(t) >= 50) & (F.length(t) <= 10000)).cast("long").alias("len_ok"),
    )
    return per.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("nw").alias("n_words"),
        F.sum("nc").alias("n_chars"),
        F.min("nc").alias("min_chars"),
        F.max("nc").alias("max_chars"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.expr("10000 * sum(np) DIV greatest(sum(nc), 1)").alias("punct_bp"),
        F.expr("10000 * sum(ns) DIV greatest(sum(nw), 1)").alias("stop_bp"),
        F.expr("10000 * sum(len_ok) DIV count(*)").alias("len_ok_bp"),
    )


def _dataset_card_sql() -> str:
    w = words_sql("text")
    return f"""
WITH per AS (
  SELECT source, lang,
    CAST(len({w}) AS BIGINT) AS nw,
    CAST(length(text) AS BIGINT) AS nc,
    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9{WS}]')) AS BIGINT) AS np,
    CAST(len(list_filter({w}, x -> lower(x) IN ('the','a','of','and'))) AS BIGINT) AS ns,
    CASE WHEN length(text) >= 50 AND length(text) <= 10000 THEN 1 ELSE 0 END AS len_ok
  FROM documents
)
SELECT source,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(nw) AS BIGINT) AS n_words,
  CAST(sum(nc) AS BIGINT) AS n_chars,
  CAST(min(nc) AS BIGINT) AS min_chars,
  CAST(max(nc) AS BIGINT) AS max_chars,
  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
  CAST((10000 * sum(np)) // greatest(sum(nc), 1) AS BIGINT) AS punct_bp,
  CAST((10000 * sum(ns)) // greatest(sum(nw), 1) AS BIGINT) AS stop_bp,
  CAST((10000 * sum(len_ok)) // count(*) AS BIGINT) AS len_ok_bp
FROM per GROUP BY source
"""


QUERIES["q_corpus_dataset_card"] = QueryDef(
    _corpus_dataset_card,
    _dataset_card_sql(),
    "per-source dataset card: one-scan datasheet (volumes, char range, "
    "language spread, punct/stopword density, length plausibility) in "
    "integer basis points",
)


# --- computed-rate domain reweighting (round 6) -------------------------------
def _sample_domain_reweight(spark: SparkSession, sf: str) -> DataFrame:
    """Token-mass mixture reweighting toward a UNIFORM source mix: the
    keep-rates are COMPUTED from the corpus (one O(sources) partial agg +
    its 1-row roll-up, re-entering unhinted), unlike q_sample_stratified's
    handed-in rates; every rate is BIGINT arithmetic and each doc's fate
    a deterministic hash threshold."""
    from hadoop_0_20_2_ljx_spark.extensions import pipeline_ops

    tok = T(spark, sf, "documents").select(
        "source",
        "doc_id",
        F.size(F.expr(textstats.tokens_sql("text"))).cast("long").alias("n_tokens"),
    )
    kept = pipeline_ops.domain_reweight(tok, "source", "n_tokens", "doc_id")
    return kept.groupBy("source").agg(
        F.min("rate_bp").cast("long").alias("rate_bp"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum("n_tokens").alias("tokens_kept"),
        F.sum(F.col("doc_id") % 1000003).cast("long").alias("id_hash_sum"),
    )


def _domain_reweight_sql() -> str:
    w = words_sql("text")
    bucket = h32_sql("doc_id") + " % 10000"
    return f"""
WITH tok AS (
  SELECT source, doc_id, CAST(len({w}) AS BIGINT) AS n_tokens FROM documents
),
cur AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS cur_t FROM tok GROUP BY source),
tot AS (SELECT CAST(sum(cur_t) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS k FROM cur),
rates AS (
  SELECT source, least(10000, (10000 * (t // k)) // cur_t) AS rate_bp
  FROM cur CROSS JOIN tot
)
SELECT t.source,
  CAST(min(r.rate_bp) AS BIGINT) AS rate_bp,
  CAST(count(*) AS BIGINT) AS n_kept,
  CAST(sum(t.n_tokens) AS BIGINT) AS tokens_kept,
  CAST(sum(t.doc_id % 1000003) AS BIGINT) AS id_hash_sum
FROM tok t JOIN rates r USING (source)
WHERE {bucket} < r.rate_bp
GROUP BY t.source
"""


QUERIES["q_sample_domain_reweight"] = QueryDef(
    _sample_domain_reweight,
    _domain_reweight_sql(),
    "computed-rate mixture reweighting: per-source token mass -> uniform-"
    "target keep rates (BIGINT DIV), deterministic hash-threshold filter",
)
