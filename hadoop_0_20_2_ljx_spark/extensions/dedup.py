"""Deduplication ops for large-scale training-data pipelines.

No reference counterpart (the reference's only dedup is reduce-emitting a
key once, UniqValueCount.java:30) — these are the engine extras the
100 TB pipeline needs: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Design for scale:
  - Exact dedup: hash-groupBy on a normalized key — one shuffle, map-side
    partial dedup.
  - MinHash+LSH: per-row signature with higher-order functions (all
    JVM-side, no UDF), banding, then a self-join ON (band, band_hash) —
    candidate generation is an equi-join on small buckets instead of an
    O(n^2) cross join; this is the standard shingle->minhash->band->bucket
    pipeline and survives 100 TB because no stage is quadratic.
  - SimHash: 64-bit signature per doc via bit-vote over token hashes;
    near-dup = hamming distance on signatures (bit_count(xor)).
  - Hashes are md5-derived (functions/portable.py) so the DuckDB oracle
    reproduces signatures bit-for-bit; swap in xxhash64 for raw speed
    when oracle parity isn't required.
"""

from __future__ import annotations


from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hadoop_0_20_2_ljx_spark.extensions.textstats import tokens_sql
from hadoop_0_20_2_ljx_spark.functions.portable import md5_int_sql
from hadoop_0_20_2_ljx_spark.pinning import pin


def exact_dedup(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Exact dedup on a key: keep one row per key (hash-groupBy)."""
    return df.dropDuplicates(key_cols)


# The shared text expressions below are SQL text, one builder each; a
# caller that needs a Column wraps the text in F.expr. Every Column
# operator is a py4j round-trip, and the seed/bit fan-outs stamped
# hundreds of them per query — the r6 literal-tree lesson, measured again
# in r14 at 5,388 py4j sends = 1.36 s of q_dedup_incremental's 1.8 s
# driver build. One parse per expression is milliseconds, and the parsed
# tree is the one the Column form built (pinned in
# tests/test_minhash_build.py, test_simhash_lanes.py, test_hof_binding.py).


def word_shingles_sql(text_sql: str, k: int = 3) -> str:
    """Distinct word k-grams of a text expression (the shingle set).
    Tokenization is the ONE shared corpus tokenizer (textstats.tokens_sql)
    — every text family (dedup, contamination, BM25, logprob) and the
    DuckDB rendering queries/base.words_sql must stay bit-identical.

    The token array is bound ONCE as a lambda variable (wrap in a
    1-element array, transform over it): Catalyst performs no common-
    subexpression elimination inside higher-order-function lambdas, so
    referencing the token expression directly from the per-index gram
    lambda re-ran the regexp split once per shingle — O(tokens^2) work
    per document. Invisible on the short fixture texts, 57x slower on a
    2000-token document (the shape of real web pages); measured r8,
    output bitwise identical (pinned in tests/test_hof_binding.py). The
    size >= k guard returns the empty set for docs shorter than a gram."""
    grams = (
        f"array_distinct(transform(sequence(0, greatest((size(ws) - {k}), 0)), "
        f"i -> array_join(slice(ws, (i + 1), {k}), ' ')))"
    )
    body = (
        f"CASE WHEN (size(ws) >= {k}) THEN {grams} "
        "ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    return f"element_at(transform(array({tokens_sql(text_sql)}), ws -> {body}), 1)"


def pad_empty_sql(arr_sql: str) -> str:
    """Replace an empty array with the one-element sentinel [''], with
    the array bound ONCE as a lambda variable. The naive
    ``CASE WHEN size(arr) > 0 THEN arr ELSE array('') END`` references
    `arr` twice inside one expression; Catalyst performs no CSE through
    higher-order-function trees and the gram builders feeding this are
    HOF-rooted (CodegenFallback — no codegen subexpression rescue), so
    the whole gram build evaluated twice per document (r8 ADVICE). Same
    bind-once idiom as word_shingles_sql."""
    return (
        f"element_at(transform(array({arr_sql}), "
        "a -> CASE WHEN (size(a) > 0) THEN a ELSE array('') END), 1)"
    )


# Double-hashing (Kirsch-Mitzenmacher) minhash family: ONE md5 per shingle,
# split into two 30-bit halves (h1 = v >> 30, h2 = v & (2^30-1) from the
# 60-bit md5 prefix), seed s's hash = (h1 + s*h2) mod 2^30. Affine combos of
# two independent base hashes are the standard minhash family (Indyk-style
# a*x+b); cutting 16 md5 evaluations per (doc, shingle) row to 1 halved the
# dedup_minhash bench. All values stay < 2^34, well inside BIGINT on both
# engines, so the formula renders identically in DuckDB.
_MH_MOD = 1 << 30


def mh_hash_sql(v_sql: str, s: int | str) -> str:
    """Seed-`s` member of the double-hash family from the shared base
    value `v_sql` (md5_int_sql); `s` is a seed constant or the name of
    an integer lambda variable."""
    return (
        f"((shiftright({v_sql}, 30) + {s} * ({v_sql} & {_MH_MOD - 1})) % {_MH_MOD})"
    )


def minhash_signature(text_col: str, num_hashes: int = 16, shingle_k: int = 3) -> Column:
    """MinHash signature: for each of num_hashes seeded hash functions,
    the min hash over the shingle set. array<long> of length num_hashes.

    Entirely higher-order-function expressions — no Python in the loop.
    One md5 base value per shingle feeds every seed (double-hash family).
    Docs shorter than one shingle hash the sentinel empty gram, matching
    minhash_band_buckets (all short docs share one signature). The padded
    shingle set is bound once as `sh` (see word_shingles_sql: no CSE
    inside HOF lambdas — referencing the shingle expression from the
    per-seed lambda re-built it num_hashes times per document).
    """
    padded = pad_empty_sql(word_shingles_sql(f"`{text_col}`", shingle_k))
    h = mh_hash_sql(md5_int_sql("g", 15), "s")
    return F.expr(
        f"element_at(transform(array({padded}), sh -> transform("
        f"sequence(0, {num_hashes - 1}), s -> array_min(transform(sh, g -> {h})))), 1)"
    )


def minhash_signatures_relational(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """(doc, h0..h{n-1}) signature columns via the relational explode ->
    min-agg pipeline — the codegen'd fast path (the per-row
    minhash_signature() array form walks interpreted higher-order
    functions, ~10x slower on wide corpora). Shared by band bucketing and
    the Jaccard-estimate query."""
    ids = df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("_text"))
    sc = df.sparkSession.sparkContext
    # ONE exchange, and it carries doc TEXT, not exploded shingles: hash-
    # repartition the docs, then shingle-build -> explode -> md5 -> min-agg
    # all run partition-local (explode preserves partitioning, and
    # HashPartitioning(doc) satisfies the groupBy's clustering, so Catalyst
    # plans no second Exchange — asserted in tests/test_scale_properties).
    # Shuffling the input once also decouples parallelism from the input
    # split count (a single small parquet file still uses every core); the
    # earlier shape shuffled the exploded (doc, 3-gram string) rows — ~3x
    # the bytes of the raw text — and serialized shingle construction onto
    # the map side's splits.
    spread = ids.repartition(sc.defaultParallelism, "doc")
    # Docs shorter than one shingle get the sentinel empty gram instead of
    # an empty set, so every doc survives the explode — this removes the
    # join-back that previously restored shingle-less docs (a join whose
    # build side was the WHOLE signature table: broadcast-fine at test
    # scale, a full extra shuffle at 100 TB). All short docs share the
    # sentinel signature and pair with each other, exactly as the all--1
    # signature did.
    # One md5 per (doc, shingle) row (double-hash family), materialized
    # BEFORE the seed fan-out so the num_hashes partial-agg expressions
    # share it.
    padded_sql = pad_empty_sql(word_shingles_sql("_text", shingle_k))
    hashed = spread.selectExpr("doc", f"explode({padded_sql}) AS g").selectExpr(
        "doc", f"{md5_int_sql('g', 15)} AS v"
    )
    return hashed.groupBy("doc").agg(
        *[F.expr(f"min({mh_hash_sql('v', s)}) AS h{s}") for s in range(num_hashes)]
    )


def band_buckets_from_signatures(
    sigd: DataFrame, num_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """(doc, band, bucket) rows from an ALREADY-COMPUTED signature table
    (doc, h0..h{n-1}) — lets a caller that also needs the signatures for
    something else (e.g. the Jaccard-estimate diagnostic) materialize
    them once instead of re-deriving from raw text per consumer."""
    rows_per_band = num_hashes // bands
    # The whole banded-struct array as ONE parsed expression: the Column
    # form stamped ~25 py4j round-trips per band (0.37 s of driver build
    # per call site at bands=4). Bucket = 32-bit md5 of the band's
    # comma-joined signature slice.
    def _bucket(b: int) -> str:
        cols = ", ".join(
            f"CAST(h{b * rows_per_band + i} AS STRING)" for i in range(rows_per_band)
        )
        return md5_int_sql(f"concat_ws(',', {cols})", 8)

    structs = ", ".join(
        f"struct({b} AS band, {_bucket(b)} AS bucket)" for b in range(bands)
    )
    banded = sigd.select(
        "doc", F.expr(f"explode(array({structs}))").alias("bb")
    ).select("doc", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    return banded


def minhash_band_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """(doc, band, bucket) LSH band-bucket rows — the shared core of the
    self-join candidate generator and the incremental (new-vs-index)
    variant. Bucket = md5-derived hash of one band's signature slice."""
    sigd = minhash_signatures_relational(df, id_col, text_col, num_hashes, shingle_k)
    return band_buckets_from_signatures(sigd, num_hashes, bands)


def lsh_pairs_from_buckets(banded: DataFrame) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs colliding in >= 1 band bucket."""
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.bucket") == F.col("b.bucket"),
                F.col("a.doc") < F.col("b.doc"),
            ],
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """MinHash+LSH near-duplicate CANDIDATE pairs.

    signature -> `bands` bands of num_hashes/bands rows -> bucket key =
    hash(band values) -> self-equi-join on (band_idx, bucket) -> distinct
    (id_a < id_b) pairs. Two docs collide iff some band matches exactly —
    standard LSH probability semantics.
    """
    banded = minhash_band_buckets(df, id_col, text_col, num_hashes, bands, shingle_k)
    return lsh_pairs_from_buckets(banded)


def incremental_lsh_candidates(
    new_df: DataFrame,
    index_df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """Incremental dedup: LSH candidates of NEW docs against an existing
    INDEX corpus (the daily-ingest shape: never re-pair the historical
    corpus against itself). Equi-join of the new batch's band buckets
    against the index's — at 100 TB the index's bucket table is computed
    once and persisted; each ingest joins only its own buckets against it,
    so per-batch cost is O(batch) + one shuffle, not O(corpus).

    Returns distinct (new_id, index_id) candidate pairs.
    """
    nb = minhash_band_buckets(new_df, id_col, text_col, num_hashes, bands, shingle_k)
    ib = minhash_band_buckets(index_df, id_col, text_col, num_hashes, bands, shingle_k)
    return (
        nb.alias("n")
        .join(
            ib.alias("i"),
            on=[
                F.col("n.band") == F.col("i.band"),
                F.col("n.bucket") == F.col("i.bucket"),
            ],
        )
        .select(F.col("n.doc").alias("new_id"), F.col("i.doc").alias("index_id"))
        .distinct()
    )


def group_similarity_matrix(
    df: DataFrame,
    group_col: str,
    text_col: str,
    num_hashes: int = 16,
    shingle_k: int = 3,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Corpus-level similarity matrix between GROUPS (sources/domains):
    for every unordered group pair, the MinHash Jaccard ESTIMATE of the
    two groups' shingle-set unions next to the EXACT set Jaccard, both in
    integer basis points — the "how much does source A overlap source B"
    report that decides whether two crawls/dumps are worth merging before
    doc-level dedup is even attempted.

    The per-group signature needs no per-doc signatures: min commutes
    with union, so grouping the per-shingle hashes by group IS the
    signature of the union. Short docs pad the sentinel empty gram,
    exactly like minhash_signatures_relational, so both the estimate and
    the exact side see the same sets.

    100 TB shape: one distinct (group, shingle) vocabulary (pinned — it
    feeds the signature agg, the size agg, and both sides of the
    intersection join; without the pin each consumer re-tokenizes the
    corpus); signature/size aggs are map-side-partial with state bounded
    by groups x num_hashes; the intersection is a vocabulary self-equi-
    join on the shingle (<= groups^2 rows per shingle, never doc x doc);
    pair enumeration broadcasts the O(groups) signature table (tiny-side
    BroadcastNestedLoopJoin, the brute-knn pattern) so zero-overlap pairs
    still appear in the matrix.

    ``max_shingle_freq`` is the exact side's tunable when sources share
    boilerplate (the ngram_jaccard_pairs guard applied at group
    granularity): shingles present in MORE than that many GROUPS are
    excluded from the intersection count — the quadratic driver, since a
    shingle shared by all G groups contributes G^2 pair rows while
    carrying no discrimination signal. Per-group set sizes (na/nb) and
    est_bp stay exact; the Jaccard denominator na+nb-ni uses the CAPPED
    ni, which only reinforces the bound — a capped jaccard_bp is a LOWER
    BOUND of the uncapped one (the cap removes intersection evidence,
    never invents it; jaccard_bp is monotone in ni since ni <= min(na,nb)
    — property-pinned in tests/test_dedup_cap.py). None = exact.

    The exact side dedups identical MEMBERSHIP SETS before enumerating
    pairs (r13 optimization): shingles are grouped into their sorted
    group-membership array, identical arrays collapse to one weighted
    row, and pairs are emitted once per DISTINCT set (weight = number of
    shingles carrying that set) instead of once per shingle. ni is
    unchanged — sum over sets of weight x [pair within set] = number of
    shared shingles — but the pair-enumeration work drops from
    sum_shingle c^2 to sum_distinct-set c^2; template boilerplate (many
    shingles, one shared membership set) collapses to a single set, and
    single-group shingles (the bulk of a real corpus) are filtered before
    the enumeration entirely. Enumeration is posexplode + tail-slice
    explode on the sorted array — partition-local, no self-join shuffle,
    ga < gb by construction. The weighted groupBy(ga, gb) partial-aggs
    map-side exactly as the join form did.
    """
    padded = pad_empty_sql(word_shingles_sql(f"`{text_col}`", shingle_k))
    gs = (
        df.select(F.col(group_col).alias("grp"), F.explode(F.expr(padded)).alias("g"))
        .distinct()
        .transform(pin)
    )
    # signature AND set size in ONE agg over the pinned vocabulary, the
    # k-row result pinned: the per-group table has four downstream
    # consumers (both sides of the pair enumeration, which also carry
    # na/nb), and Catalyst never dedupes common subplans — un-merged and
    # un-pinned, sigs/sizes re-aggregated the full vocabulary four times
    # (2x sa/sb + 2x na/nb); now the vocabulary is aggregated once and
    # the O(groups)-row result replays from the pin (r13 optimization).
    stats = pin(
        gs.selectExpr("grp", f"{md5_int_sql('g', 15)} AS v")
        .groupBy("grp")
        .agg(
            *[F.expr(f"min({mh_hash_sql('v', s)}) AS h{s}") for s in range(num_hashes)],
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    # one row per shingle: the sorted array of groups containing it (gs is
    # distinct, so collect_list builds a duplicate-free set; sort_array
    # makes it deterministic under any partitioning/retry)
    msets = gs.groupBy("g").agg(F.sort_array(F.collect_list("grp")).alias("_grps"))
    # group-frequency == membership-set size; the cap and the
    # nothing-to-pair filter both prune BEFORE the set-dedup shuffle
    freq_ok = F.size("_grps") >= 2
    if max_shingle_freq is not None:
        freq_ok = freq_ok & (F.size("_grps") <= max_shingle_freq)
    wsets = (
        msets.filter(freq_ok)
        .groupBy("_grps")
        .agg(F.count(F.lit(1)).cast("long").alias("_w"))
    )
    inter = (
        wsets.select("_w", "_grps", F.posexplode("_grps").alias("_i", "ga"))
        .select(
            "_w",
            "ga",
            F.explode(
                F.slice("_grps", F.col("_i") + 2, F.size("_grps"))
            ).alias("gb"),
        )
        .groupBy("ga", "gb")
        .agg(F.sum("_w").cast("long").alias("ni"))
    )
    sa = stats.select(
        F.col("grp").alias("ga"),
        *[F.col(f"h{s}").alias(f"a{s}") for s in range(num_hashes)],
        F.col("n").alias("na"),
    )
    sb = stats.select(
        F.col("grp").alias("gb"),
        *[F.col(f"h{s}").alias(f"b{s}") for s in range(num_hashes)],
        F.col("n").alias("nb"),
    )
    pairs = F.broadcast(sa).join(sb, F.col("ga") < F.col("gb"))
    matches = sum(
        (F.when(F.col(f"a{s}") == F.col(f"b{s}"), 1).otherwise(0) for s in range(num_hashes)),
        F.lit(0),
    )
    j = pairs.join(F.broadcast(inter), ["ga", "gb"], "left")
    ni = F.coalesce(F.col("ni"), F.lit(0))
    return j.select(
        F.col("ga").alias("source_a"),
        F.col("gb").alias("source_b"),
        F.floor(F.lit(10000) * matches / F.lit(num_hashes)).cast("long").alias("est_bp"),
        F.floor(F.lit(10000) * ni / (F.col("na") + F.col("nb") - ni))
        .cast("long")
        .alias("jaccard_bp"),
    )


def simhash64(text_col: str, bits: int = 60) -> Column:
    """SimHash of the token stream (60 bits: the md5-derived hash width).

    Each token votes its hash bitwise (+1/-1); the signature takes the
    sign of each bit's tally. The bit loop is unrolled in Python (Spark's
    shift functions take only literal shift amounts), testing each bit
    with & against a literal mask — still pure JVM expressions.
    Token-less docs vote the sentinel empty token (matching
    simhash_signatures). The token-hash array is bound ONCE as `hs`: the
    pre-r9 form referenced the hash expression from every bit's
    aggregate — no CSE through HOF trees, so tokenize+md5 re-ran once
    per bit (60x per document).
    """
    padded = pad_empty_sql(tokens_sql(f"`{text_col}`"))
    hashed = f"transform({padded}, w -> {md5_int_sql('w', 15)})"
    votes = " + ".join(
        "CASE WHEN (aggregate(hs, CAST(0 AS BIGINT), (acc, h) -> acc + "
        f"CASE WHEN ((h & {1 << j}) != 0) THEN 1 ELSE -1 END) > 0) "
        f"THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for j in range(bits)
    )
    return F.expr(f"element_at(transform(array({hashed}), hs -> ({votes})), 1)")


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, bits: int = 60
) -> DataFrame:
    """SimHash signatures in the relational explode->vote shape.

    One row per (doc, token) after explode, then ONE groupBy(doc) computing
    all `bits` bit-votes as sum expressions with map-side partial agg —
    the same restructuring that made minhash_lsh_candidates 72x faster
    versus per-row higher-order-function loops. Each token hash is computed
    once (not once per bit), the shuffle carries (doc, h) pairs, and the
    vote aggregation is pure whole-stage-codegen sums — bit-sliced into
    20-bit lanes (3 bit-counts per 64-bit SUM buffer, r14) so a token
    updates 20 buffers instead of 60; per-doc token counts are bounded at
    2^20 - 1 by a loud lane-overflow guard (plenty for any real document;
    the HOF `simhash64` has no such bound if one ever appears).

    Docs with no tokens vote the sentinel empty token (signature =
    md5('')'s 60-bit value, same as simhash64) — no join-back needed.

    Output: (doc, simhash) with doc named after `id_col`.
    """
    ids = df.select(F.col(id_col).alias(id_col), F.col(text_col).alias("_text"))
    sc = df.sparkSession.sparkContext
    # Repartition the DOCS, not the exploded tokens: the one exchange
    # carries raw text, explode+md5 run partition-local on every core, and
    # HashPartitioning(doc) satisfies the groupBy clustering so the vote
    # aggregation needs no second Exchange (same restructuring as
    # minhash_band_buckets — shuffling exploded token strings was ~2-3x
    # the bytes and serialized tokenization onto the input splits).
    # Token-less docs explode the sentinel empty token instead of
    # vanishing, so no join-back is needed to restore them (the join's
    # build side was the whole signature table — a full extra shuffle at
    # scale). A one-token doc's signature is its token's hash, so the
    # sentinel doc signature is md5('')'s 60-bit value.
    # The padding binds the token array ONCE (pad_empty_sql): the naive
    # CASE WHEN size(words) > 0 form referenced the filter(split(text))
    # tree twice, re-tokenizing every document (no CSE through HOF trees;
    # fixed r10, bitwise-pinned in tests/test_hof_binding.py, doc-length
    # stress pair simhash_longdoc_1x/10x in bench.py). Built as SQL text,
    # one selectExpr parse each (the Column form of this builder was
    # 8,815 py4j sends = ~1.5 s of driver build per query, r14).
    padded_sql = pad_empty_sql(tokens_sql("_text"))
    tok = (
        ids.repartition(sc.defaultParallelism, id_col)
        .selectExpr(f"`{id_col}`", f"explode({padded_sql}) AS w")
        .selectExpr(f"`{id_col}`", f"{md5_int_sql('w', 15)} AS h")
    )
    # Per-bit +1/-1 vote sum v_j = 2*s_j - n where s_j = count of set bits.
    # Bit-sliced lane packing (r14): the previous form kept one SUM buffer
    # per bit — 60 shift+AND+add buffer updates per (doc, token) row, and a
    # 61-buffer Janino aggregate whose codegen latency was the bench row's
    # residual cost. Three bit-counts now ride ONE 64-bit accumulator in
    # 20-bit lanes: for word i in 0..19 each token contributes
    # (h >> i) & (1 | 1<<20 | 1<<40) — bit i of h lands in lane 0, bit
    # i+20 in lane 1, bit i+40 in lane 2 — so SUM(p_i)'s lanes hold
    # exactly s_i, s_{i+20}, s_{i+40}: 20 buffer updates (one shift+AND
    # each) instead of 60, a third of the per-token agg work and of the
    # generated aggregate code. Exactness bounds (both enforced by the
    # n_tok lane guard below):
    #   - lane carry: a lane counts <= n_tok set bits, so n_tok < 2^20
    #     keeps every lane inside its 20 bits (no cross-lane carry);
    #   - sum overflow (ANSI-safe): the accumulator's max value is
    #     (2^20 - 1) * (2^40 + 2^20 + 1) = 2^60 - 1, far inside int64.
    # The extracted s_j are integer-IDENTICAL to the per-bit-sum form
    # (pinned bitwise vs the independent HOF simhash64 in
    # tests/test_hof_binding.py and by the unchanged DuckDB oracle
    # mirrors, which still spell the per-bit formulation).
    lane_mask = (1 << 40) | (1 << 20) | 1
    votes = tok.groupBy(id_col).agg(
        F.count("*").alias("n_tok"),
        *[
            F.expr(f"sum((shiftright(h, {i}) & {lane_mask})) AS p{i}")
            for i in range(20)
        ],
    )
    # The lane bound must fail LOUDLY, not wrap a lane into its neighbor:
    # the guard rides the majority comparison of every bit (a REQUIRED
    # expression — the r13 raise_error-on-consumed-value lesson, so
    # Catalyst cannot prune the check away).
    guard_sql = (
        "CASE WHEN (n_tok > CAST(1048575 AS BIGINT)) THEN raise_error("
        "'simhash_signatures: document exceeds 1048575 tokens — the "
        "bit-sliced 20-bit count lanes would overflow; split the "
        "document (or chunk it) before signing') ELSE n_tok END"
    )

    def _s_sql(j: int) -> str:
        return (
            f"(shiftright(p{j % 20}, {20 * (j // 20)}) & CAST(1048575 AS BIGINT))"
        )

    sig_sql = " + ".join(
        f"CASE WHEN (({_s_sql(j)} * 2) > {guard_sql}) "
        f"THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for j in range(bits)
    )
    return votes.selectExpr(
        f"`{id_col}`", f"CAST(({sig_sql}) AS BIGINT) AS simhash"
    )


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 60,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-duplicate PAIRS via bit-band bucketing + Hamming filter.

    Pigeonhole guarantee: two signatures within Hamming distance
    `bands - 1` must agree exactly on at least one of the `bands`
    contiguous bit-chunks, so bucketing on (band, chunk) and equi-joining
    yields 100% recall for max_hamming <= bands - 1; the post-join
    bit_count(xor) filter removes false candidates. No quadratic stage:
    join cost is sum over buckets of freq^2, the same banded-LSH economics
    as minhash_lsh_candidates.

    Output: distinct (doc_a, doc_b, hamming) with doc_a < doc_b and
    hamming <= max_hamming.
    """
    width = bits // bands
    chunk_mask = (1 << width) - 1
    sigs = simhash_signatures(df, id_col, text_col, bits=bits)
    banded = sigs.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * width)
                        .bitwiseAND(F.lit(chunk_mask).cast("long"))
                        .alias("chunk"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bc"),
    ).select(id_col, "simhash", F.col("bc.band").alias("band"), F.col("bc.chunk").alias("chunk"))
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.chunk") == F.col("b.chunk"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            hamming64(F.col("a.simhash"), F.col("b.simhash")).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14): for every node u, link each strictly
    LARGER neighbor to the minimum of u's closed neighborhood. One
    groupBy-min + one equi-join, both keyed on the node id."""
    bidir = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = bidir.groupBy("u").agg(F.min("v").alias("_mn"))
    mins = mins.select("u", F.least("_mn", "u").alias("m"))
    return (
        bidir.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star round: orient every edge (larger -> smaller), then link
    each node's smaller neighbors (and the node itself) to the minimum
    smaller neighbor."""
    directed = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    mins = directed.groupBy("u").agg(F.min("v").alias("m"))
    relinked = (
        directed.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(mins.select("u", F.col("m").alias("v")))
    )
    return relinked.filter(F.col("u") != F.col("v")).distinct()


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    nodes: DataFrame | None = None,
    node_col: str = "node",
    max_iter: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over near-duplicate candidate pairs — the
    cluster-assignment step that turns pairwise dedup evidence into
    "keep one doc per cluster".

    Alternating large-star/small-star rounds (Kiveris et al., SoCC'14):
    each round re-links edges toward component minima, collapsing path
    length multiplicatively, so convergence is O(log n) rounds on ANY
    graph shape — a 1000-node chain needs ~10 rounds where plain min-label
    propagation needs 1000 (= diameter). Each round is two groupBy-min +
    two equi-joins, all shuffled on the node id, materialized with an
    eager localCheckpoint to truncate lineage. Fixpoint (a forest of
    stars, every node linked to its component min) is detected by the
    edge multiset stabilizing — an O(1)-row (count, hash-sum) agg per
    round, never a driver collect of edges.

    Returns (node, component); component = min member id; singleton nodes
    keep their own id.
    """
    # Materialize the edge list once: its lineage is typically an
    # expensive candidate-pair pipeline (minhash/simhash banding), and the
    # star rounds re-read it repeatedly.
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col(src) != F.col(dst))
        .distinct()
        .transform(pin)
    )
    prev_sig = None
    rounds = 0
    for _ in range(max_iter):
        e = _small_star(_large_star(e)).transform(pin)
        rounds += 1
        # Decimal(38,0) sums: a 64-bit hash summed over many edges
        # overflows BIGINT under ANSI mode; exact decimal math keeps the
        # multiset signature collision-resistant without overflow.
        sig = tuple(
            e.agg(
                F.count("*"),
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
                F.sum(F.col("u").cast("decimal(38,0)")),
                F.sum(F.col("v").cast("decimal(38,0)")),
            ).collect()[0]
        )
        if sig == prev_sig:
            break
        prev_sig = sig
    if stats is not None:
        stats["rounds"] = rounds
    # At fixpoint edges form stars (child -> component min); min-reduce per
    # node is exact even pre-fixpoint truncation by max_iter.
    from_edges = (
        e.select(F.col("u").alias("node"), F.col("v").alias("comp"))
        .union(e.select(F.col("v").alias("node"), F.col("v").alias("comp")))
        .groupBy("node")
        .agg(F.min("comp").alias("comp"))
    )
    if nodes is None:
        return from_edges
    all_nodes = nodes.select(F.col(node_col).alias("node")).distinct()
    return all_nodes.join(from_edges, "node", "left").select(
        "node", F.coalesce("comp", "node").alias("comp")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing >=1 shingle.

    explode(shingles) -> self-join on shingle -> per-pair intersection
    count -> |A∪B| = |A|+|B|-|A∩B|. The join is equi on shingle, so cost
    is sum over shingles of freq^2 — the quadratic driver is hot shingles
    (stopword runs shared by millions of docs).

    ``max_shingle_freq`` is the 100 TB guard: shingles whose document
    frequency exceeds the cap are excluded from the JOIN (and hence from
    intersection counts), while set sizes stay exact. Reported jaccard is
    then a lower bound, so the capped pair set is a SUBSET of the uncapped
    one — pairs sharing only ubiquitous shingles are the (intended)
    recall loss, never phantom pairs. None = exact.

    Output: (doc_a, doc_b, jaccard rounded to 6) with jaccard >= threshold.
    """
    from hadoop_0_20_2_ljx_spark.operators.scans import spread

    # Pin the exploded shingle table: it feeds both sides of the
    # intersection self-join AND the size aggregate (referenced twice,
    # doc_a and doc_b) — four consumers whose pruning defeats exchange
    # reuse, so without the pin each one re-tokenized the corpus (the
    # bm25 / source_sim lesson). The tiny O(docs) size table pins too so
    # its two join entries share one aggregation pass.
    sh = spread(df).select(
        F.col(id_col).alias("doc"),
        F.explode(F.expr(word_shingles_sql(f"`{text_col}`", shingle_k))).alias("sh"),
    ).transform(pin)
    sizes = sh.groupBy("doc").agg(F.count("*").alias("n_sh")).transform(pin)
    if max_shingle_freq is not None:
        keep = (
            sh.groupBy("sh")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_shingle_freq)
            .select("sh")
        )
        sh = sh.join(keep, "sh")
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, on=[F.col("a.sh") == F.col("b.sh"), F.col("a.doc") < F.col("b.doc")])
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def fuzzy_name_pairs(df: DataFrame, col: str, max_dist: int = 3) -> DataFrame:
    """Fuzzy vocabulary dedup: pairs of *distinct* values whose edit
    distance is <= max_dist, blocked on the first token so the self-join
    is per-block quadratic, never corpus-quadratic (same trade as every
    LSH family here: the block key bounds recall AND cost; at 100 TB use
    a tighter block — first token + length bucket — to cap block sizes).

    Runs on the distinct value set, not raw rows: exact duplicates
    collapse first (one shuffle), so the quadratic stage sees vocabulary
    cardinality, not table cardinality.
    """
    names = df.select(F.col(col).alias("name")).distinct()
    blocked = names.withColumn("_blk", F.split(F.col("name"), r"\s+").getItem(0))
    a, b = blocked.alias("a"), blocked.alias("b")
    return (
        a.join(
            b,
            (F.col("a._blk") == F.col("b._blk")) & (F.col("a.name") < F.col("b.name")),
        )
        .withColumn("dist", F.levenshtein(F.col("a.name"), F.col("b.name")))
        .where(F.col("dist") <= max_dist)
        .select(
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
            F.col("dist").cast("long").alias("dist"),
        )
    )


def duplicate_substring_spans(
    df: DataFrame, id_col: str, text_col: str, n: int = 8
) -> DataFrame:
    """Exact duplicate-substring detection (the ExactSubstr shape of
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): for every doc, how much of it is covered by a word n-gram
    that also occurs in a DIFFERENT document.

    Relational plan (never doc x doc, never a suffix array on the driver):
      1. posexplode ordered n-gram windows -> (doc, pos, gram_hash);
      2. gram -> distinct-doc count (one shuffle); grams with >= 2 docs
         are the corpus-duplicated vocabulary;
      3. equi-join positions back on gram_hash (shuffle join — the dup
         vocabulary can be corpus-sized, so no broadcast assumption);
      4. coverage = distinct token indices under any duplicated window
         (explode each surviving window into its n token slots — the
         blowup is n x duplicated windows only, not n x corpus).

    Intra-doc repeats are pipeline_ops.repetition_score's job; this op
    counts a gram duplicated only when a second DOCUMENT has it, so the
    two signals compose without double-counting. Hashes are md5-derived
    (functions/portable.py) for cross-engine oracle parity.
    """
    from hadoop_0_20_2_ljx_spark.extensions.pipeline_ops import word_ngrams

    toks = F.expr(tokens_sql(f"lower(`{text_col}`)"))
    grams = word_ngrams(text_col, n)
    # Pin the windowed position table (it feeds the dup-vocabulary agg
    # AND the join-back) and the surviving dup windows (they feed the
    # coverage explode AND the per-doc count): without the pins each
    # consumer re-ran the posexplode tokenization — four corpus scans
    # for a one-scan-per-stage job (the bm25 / source_sim lesson).
    windows = df.select(
        F.col(id_col).alias("doc"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.posexplode(grams).alias("pos", "gram"),
    ).selectExpr("doc", "n_tokens", "pos", f"{md5_int_sql('gram', 15)} AS gh").transform(pin)
    dup_vocab = (
        windows.select("doc", "gh")
        .distinct()
        .groupBy("gh")
        .agg(F.count("*").alias("n_docs"))
        .where(F.col("n_docs") >= 2)
        .select("gh")
    )
    dup_wins = windows.join(dup_vocab, "gh").transform(pin)
    cov = (
        dup_wins.select(
            "doc", F.explode(F.sequence(F.col("pos"), F.col("pos") + n - 1)).alias("ti")
        )
        .distinct()
        .groupBy("doc")
        .agg(F.count("*").alias("n_cov_tokens"))
    )
    per_doc = (
        dup_wins.groupBy("doc", "n_tokens")
        .agg(F.count("*").alias("n_dup_windows"))
        .join(cov, "doc")
    )
    return per_doc.select(
        F.col("doc"),
        F.col("n_tokens"),
        F.col("n_dup_windows"),
        F.col("n_cov_tokens"),
        F.round(F.col("n_cov_tokens") / F.col("n_tokens").cast("double"), 6).alias(
            "dup_frac"
        ),
    )


def keep_best_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    score_col: str,
) -> DataFrame:
    """Canonicalizing dedup: group docs whose NORMALIZED text is identical
    (lowercase, trimmed, internal whitespace collapsed — the C4/RefinedWeb
    canonical-form step) and keep the best-scoring doc per group, ties
    broken by smallest id (deterministic under retry).

    One hash shuffle on the md5 of the normalized text (the shuffle key
    is 32 bytes regardless of document size — never the text itself) with
    a max(struct) agg — partial aggregation applies map-side, no window
    sort, no distinct. ids must be numeric (the tie-break negates them).
    Returns (id, score, n_dups) for each kept (canonical) doc.

    NULL contract (r10 pin): a NULL score ranks BELOW every real score —
    a doc with no score is never the canonical pick unless its whole
    group is scoreless (then smallest id wins, score comes back NULL).
    Explicit not-null flag leads the max(struct) because engines disagree
    on null struct-field ordering; null TEXT normalizes to a NULL key and
    forms its own group on both engines (SQL GROUP BY keeps null groups).
    """
    norm = F.md5(F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " "))
    # max over (has_score, score, -id): best non-null score wins, then
    # the SMALLEST id.
    pick = F.struct(
        F.col(score_col).isNotNull().cast("int").alias("ok"),
        F.coalesce(F.col(score_col), F.lit(0)).alias("s"),
        (-F.col(id_col)).alias("negid"),
    )
    out = df.select(norm.alias("_k"), pick.alias("_p")).groupBy("_k").agg(
        F.max("_p").alias("best"), F.count(F.lit(1)).cast("long").alias("n_dups")
    )
    return out.select(
        (-F.col("best.negid")).cast("long").alias(id_col),
        F.when(F.col("best.ok") == 1, F.col("best.s")).alias(score_col),
        "n_dups",
    )


def chunk_first_occurrence_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 10,
) -> DataFrame:
    """Paragraph-level (chunk-level) dedup, C4-style: split each doc into
    consecutive non-overlapping `chunk_tokens`-word chunks, keep only the
    globally FIRST occurrence of each distinct chunk text (ordered by
    (doc_id, position)), and re-aggregate per doc.

    Two shuffles total: one groupBy on the chunk hash (min(struct) — the
    winner per chunk, partial-agg map-side), one re-aggregate per doc.
    Never doc×doc; state per distinct chunk is O(1). Returns per-doc
    (id, n_chunks, n_kept, kept_hash) where kept_hash summarizes the
    SURVIVING chunk set (order-insensitive sum of chunk hashes), so the
    oracle checks content, not just counts.
    """
    if chunk_tokens <= 0:
        raise ValueError("chunk_tokens must be positive")
    toks = F.expr(tokens_sql(f"`{text_col}`"))
    n_chunks = F.ceil(F.size(toks) / F.lit(chunk_tokens)).cast("int")
    exploded = df.select(
        F.col(id_col).alias("doc"),
        toks.alias("_toks"),
        F.posexplode(F.sequence(F.lit(0), F.greatest(n_chunks, F.lit(1)) - 1)).alias(
            "pos", "_i"
        ),
    )
    chunk = f"array_join(slice(_toks, ((pos * {chunk_tokens}) + 1), {chunk_tokens}), ' ')"
    chunks = exploded.selectExpr("doc", "pos", f"{md5_int_sql(chunk, 15)} AS ch")
    winners = chunks.groupBy("ch").agg(
        F.min(F.struct(F.col("doc"), F.col("pos"))).alias("w")
    )
    kept = winners.select(F.col("w.doc").alias("doc"), F.col("w.pos").alias("pos"), "ch")
    per_doc = chunks.groupBy("doc").agg(F.count(F.lit(1)).cast("long").alias("n_chunks"))
    kept_agg = kept.groupBy("doc").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum(F.col("ch") % F.lit(1000003)).cast("long").alias("kept_hash"),
    )
    return (
        per_doc.join(kept_agg, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            "n_chunks",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("kept_hash", F.lit(0)).cast("long").alias("kept_hash"),
        )
    )
